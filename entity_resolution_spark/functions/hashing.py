"""Hash-based signatures: record ids, MinHash LSH band keys, SimHash.

All signatures are computed with Spark's built-in 64-bit hash functions
(``xxhash64`` — JVM-side, whole-stage-codegen'd); seeds are varied by prefixing a
literal salt, so the same (value, seed) always hashes identically on any cluster —
the determinism requirement the reference meets with id-seeded projections
(``am_combiner/combiners/fastRP.py:62-67``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ID_SEP = "\x1f"


def unique_id(repo: Column | str = "repo", path: Column | str = "path",
              commit: Column | str = "commit") -> Column:
    """Stable record id: sha256(repo ∥ path ∥ commit) hex — matches the synthetic
    generator and survives re-partitioning/re-runs (no monotonically_increasing_id)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (repo, path, commit)]
    return F.sha2(F.concat_ws(ID_SEP, *cols), 256)


def content_sha(col: Column | str = "content") -> Column:
    """The per-row integrity invariant: sha256 of the untouched content column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def band_hashes(sig: str, num_hashes: int, bands: int) -> list[Column]:
    """LSH band keys ``band_0..band_{bands-1}`` from an ``array<long>`` MinHash
    signature column of width ``num_hashes``: one per-band seeded xxhash64 of
    each band's row slice. ``bands`` must divide ``num_hashes``."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    return [
        F.xxhash64(
            F.lit(f"band{b}"),
            *[F.element_at(sig, b * rows + r + 1) for r in range(rows)],
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def simhash64(exploded_value: Column, weight: Column | None = None) -> Column:
    """Aggregate expression for a 64-bit SimHash over an exploded (id, token) frame.

    Classic Charikar sketch: for each bit position, sum +w/-w by token-hash bit sign,
    take the sign of the sum. Expressed as 64 conditional sums folded into one long —
    all JVM-side aggregation, no UDF.
    """
    w = weight if weight is not None else F.lit(1)
    h = F.xxhash64(exploded_value)
    one = F.lit(1).cast("long")
    bit_sums = [
        F.sum(F.when(h.bitwiseAND(F.shiftleft(one, i)) != 0, w).otherwise(-w)).alias(f"b{i}")
        for i in range(64)
    ]
    # caller folds: use simhash_fold() on the 64 aggregated columns
    return bit_sums  # type: ignore[return-value]


def simhash_fold(prefix: str = "b") -> Column:
    """Fold the 64 bit-sum columns produced by :func:`simhash64` into one long.

    Bit 63 is set via shiftleft (1<<63 overflows a positive long literal)."""
    acc = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(64):
        acc = acc.bitwiseOR(
            F.when(F.col(f"{prefix}{i}") > 0, F.shiftleft(one, i)).otherwise(F.lit(0).cast("long"))
        )
    return acc


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHashes: popcount of xor."""
    return F.bit_count(a.bitwiseXOR(b))
