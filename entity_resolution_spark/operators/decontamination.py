"""Benchmark decontamination — flag training documents that share verbatim
token n-grams with an evaluation/benchmark set (the standard contamination
check from GPT-3 appx. C / PaLM §8 / Llama-2 §A.6: a doc is contaminated when
any length-``n`` token window also occurs in an eval document).

Scale shape (the 100 TB argument): the eval side is SMALL (benchmarks are
thousands of documents; their distinct n-gram set is a few million strings),
so it is built once and BROADCAST. The corpus side is one narrow projection
(id + row-local n-gram array), one explode, one broadcast hash join, and one
map-side-combining groupBy on doc id — the document text itself is never
shuffled, and no corpus-vs-corpus join exists anywhere. At 1000 executors
each task streams its parquet split against the shared eval hash set.

Everything row-local is computed with codegen'd array expressions (split /
slice / transform), not Python. All outputs are integers/booleans so the
driver oracle hashes exactly (the `quality_stats_lang` lesson).

Definitions (identical on both engines, documented for the oracle):
- tokens: split(lower(text), /\\s+/), empties dropped;
- n-grams: every window of ``n`` consecutive tokens, joined by single spaces;
  a doc with fewer than ``n`` tokens has none;
- per doc: total_ngrams = #distinct n-grams, contaminated_ngrams = #distinct
  n-grams that occur in ANY eval doc, is_contaminated = contaminated > 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions.text import ws_tokens


def ngram_windows(text: Column, n: int) -> Column:
    """Row-local token n-gram WINDOWS of ``text`` in position order (one
    element per window start, duplicates preserved; codegen'd, no UDF).

    The tokenization is LET-BOUND via a single-element ``transform`` before
    the window slide: HOF lambdas re-evaluate embedded child expressions per
    element, so referencing ``ws_tokens(text)`` directly inside the window
    lambda re-runs the full regexp split once per window — O(T²) per doc
    (measured 6s → 0.4s on the sf0.1 window census when bound).
    """

    def _windows(tk: Column) -> Column:
        size = F.size(tk)
        # sequence(1, 0) would generate a DESCENDING range — guard short docs
        return F.when(
            size >= n,
            F.transform(
                F.sequence(F.lit(1), size - n + 1),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(ws_tokens(text)), _windows), 0)


def ngram_hash_array(text: Column, n: int) -> Column:
    """Row-local DISTINCT int64 window-hash surrogates of the token n-grams,
    computed in the Arrow tokenizer kernel (``fast_text.ws_ngram_hashes``:
    crc32-widened tokens + the polynomial window combine, C speed, no string
    construction).

    The membership/census key the operators actually ship: an 8-byte long
    instead of a ~90-byte 13-token string, built without materializing the
    string at all. Measured on the 700840-file corpus at local[16]:
    string n-grams 73.4 s → JVM ``xxhash64(concat_ws(...))`` 56-61 s →
    this kernel 20-25 s (the concat itself was the cost, not just the bytes
    shipped). Counting over surrogates equals counting over strings up to
    64-bit collisions — the engine's accepted id-surrogate collision class
    (~5·10⁻⁷ across a 10⁸-window corpus vs a 10⁵-ngram eval set). The
    STRING definition (documented above) remains the semantic contract;
    :func:`ngram_windows` keeps it observable, and the kernel's tokenizer is
    parity-locked to ``ws_tokens`` (see ws_ngram_hashes_batch)."""
    from entity_resolution_spark.functions.fast_text import ws_ngram_hashes

    return ws_ngram_hashes(text, n)


# Fixed 2-token probe whose single window hash under the CURRENT kernel is
# persisted inside every eval set as a version marker. Two tokens so the
# sentinel witnesses BOTH halves of the kernel (the per-token dual-crc32
# widening AND the polynomial window combine) while staying independent of
# the eval set's n. The tokens are nonces that cannot occur in real text.
_KERNEL_PROBE_TEXT = "erspark0kernelparityprobe erspark1kernelparityprobe"


def kernel_sentinel() -> int:
    """The kernel-version sentinel value: hash of the fixed probe window
    under the current ``ws_ngram_hashes`` kernel. Any change to the token
    hash or the window combine changes this value, so an eval set persisted
    under an OLD bigint kernel — which passes the dtype assert but silently
    matches nothing — fails the presence check in
    :func:`contamination_counts` instead of reporting zero contamination
    (ADVICE r4)."""
    import pandas as pd

    from entity_resolution_spark.functions.fast_text import ws_ngram_hashes_batch

    return int(ws_ngram_hashes_batch(pd.Series([_KERNEL_PROBE_TEXT]), 2).iloc[0][0])


def eval_ngram_set(
    eval_docs: DataFrame, text_col: str = "content", n: int = 13
) -> DataFrame:
    """Distinct n-gram set of the eval/benchmark corpus → (ngram bigint —
    the dual-crc32 + polynomial KERNEL hash of :func:`ngram_hash_array`, NOT
    xxhash64 and NOT the n-gram string itself).

    Small by construction (eval sets are not web-scale); the caller
    broadcasts it. Materialize once and reuse across corpus shards.

    MIGRATION: early versions emitted the n-gram STRING here (and a later
    one used a different 32-bit-token hash). A persisted eval set from
    either joins against current corpus hashes with an implicit cast and
    silently matches NOTHING — zero contamination flagged. Re-materialize
    persisted eval sets whenever the kernel hash changes;
    :func:`contamination_counts` type-asserts the column so a stale string
    set fails loudly, and verifies the :func:`kernel_sentinel` row appended
    here so a bigint-but-stale set (old kernel, right dtype) also fails
    loudly instead of matching nothing.
    """
    sent = eval_docs.sparkSession.createDataFrame(
        [(kernel_sentinel(),)], "ngram bigint"
    )
    return (
        eval_docs.select(
            F.explode(ngram_hash_array(F.col(text_col), n)).alias("ngram")
        )
        .unionByName(sent)
        .distinct()
    )


def contamination_counts(exploded: DataFrame, ev: DataFrame, group_cols) -> DataFrame:
    """(group cols, ngram) ⋈ broadcast eval n-gram set → per-group counts.

    The single definition of the counting rule, shared by the batch operator
    and the streaming twin. ``count()`` over a groupBy never returns NULL,
    and callers build ``exploded`` with ``explode_outer`` so even an empty
    doc contributes a NULL-ngram row and forms a group — no fill-up join.

    Both ``ngram`` columns must be the KERNEL's bigint surrogate — a stale
    persisted eval set still carrying strings (see the migration note on
    :func:`eval_ngram_set`) would otherwise join through an implicit cast
    and match nothing; fail loudly instead.
    """
    for side, frame in (("exploded", exploded), ("eval", ev)):
        dt = dict(frame.dtypes).get("ngram")
        if dt != "bigint":
            raise TypeError(
                f"contamination_counts: {side}.ngram is {dt!r}, expected "
                "bigint kernel hashes — re-materialize the eval n-gram set "
                "with the current ngram_hash_array kernel"
            )
    # materialize the eval set ONCE before the checks and the join: the
    # sentinel presence check and the broadcast join would otherwise each
    # evaluate its subtree (explode+distinct over the eval corpus)
    ev = ev.withColumn("_hit", F.lit(1)).localCheckpoint(eager=True)
    # kernel-version check: a set persisted under an OLD bigint kernel
    # passes the dtype assert but would silently match nothing; require the
    # current kernel's sentinel row (one tiny job at plan-build time — the
    # eval side is broadcast-small by contract), then drop the marker so it
    # can never count as a contamination hit.
    sent = kernel_sentinel()
    if ev.where(F.col("ngram") == sent).limit(1).count() == 0:
        raise ValueError(
            "contamination_counts: eval set lacks the current kernel-version "
            "sentinel — either it was materialized under an older ngram hash "
            "kernel (it would silently match nothing), or it predates "
            "sentinel rows entirely (hashes may be fine, but that cannot be "
            "verified). Rebuild it with eval_ngram_set(); MIGRATION: every "
            "eval set persisted before the sentinel was introduced needs one "
            "re-materialization, after which the check distinguishes current "
            "from stale kernels automatically."
        )
    ev = ev.where(F.col("ngram") != sent)
    return (
        exploded.join(F.broadcast(ev), "ngram", "left")
        .groupBy(*group_cols)
        .agg(
            F.count("ngram").cast("bigint").alias("total_ngrams"),
            F.count("_hit").cast("bigint").alias("contaminated_ngrams"),
        )
        .withColumn("is_contaminated", F.col("contaminated_ngrams") > 0)
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "content",
    id_col: str = "unique_id",
    n: int = 13,
) -> DataFrame:
    """Per-document contamination stats vs an eval set.

    Output: (id, total_ngrams bigint, contaminated_ngrams bigint,
    is_contaminated boolean). Docs shorter than ``n`` tokens have 0/0/false.

    Join strategy: eval n-grams broadcast; corpus n-grams exploded and
    left-joined against them with a hit marker, then ONE hash aggregation on
    doc id (partial map-side combine) recovers both counters — the corpus
    side is scanned once and its text column is pruned immediately after the
    n-gram projection.
    """
    exploded = docs.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(ngram_hash_array(F.col(text_col), n)).alias("ngram"),
    )
    return contamination_counts(
        exploded, eval_ngram_set(eval_docs, text_col=text_col, n=n), ["_id"]
    ).select(
        F.col("_id").alias(id_col),
        "total_ngrams",
        "contaminated_ngrams",
        "is_contaminated",
    )
