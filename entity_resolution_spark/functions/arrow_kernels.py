"""Zero-copy Arrow kernels for the pair-scoring hot path.

The pandas-UDF route this replaced materialized every list column as a numpy
*object* array (one small ndarray per row), so each batch paid a Python-loop
explode plus two sort-based ``np.unique``/``np.intersect1d`` passes — measured
192 µs/pair.
``mapInArrow`` hands the kernel the raw Arrow ``ListArray`` buffers instead:
``list_flatten`` exposes the flat values/offsets with no per-row Python, and
because term ids are sorted 31-bit ints *within* each row while row indices
ascend *across* rows, the composite key ``row·2³¹ + term`` is globally sorted
on both sides — the batch intersect collapses to one vectorized
``np.searchsorted`` (binary search) instead of a sort.  Measured ~8 µs/pair,
~24× less Python CPU on the match_edges stage (the stage that capped whole-job
scaling; BENCH/BASELINE.md).

Reference parity: this computes the same cosine over L2-normalized TF-IDF
vectors as ``am_combiner/combiners/tfidf.py:199-217`` and the same pairwise
string features fed to the classifier (``am_combiner/combiners/ml.py:274-345``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from entity_resolution_spark.functions.strings import jaro_winkler_py

# Output schema of score_pair_batches (mirrors scoring.PAIR_FEATURES order).
# block_n rides through so the large-block threshold bump needs no post-scoring
# join (null when the caller didn't supply block sizes).
PAIR_FEATURE_SCHEMA = (
    "id_a long, id_b long, cosine double, jaccard double, jw_stem double, "
    "lev_stem double, soundex_stem double, same_lang double, exact double, "
    "block_n long"
)

_ROW_SHIFT = np.int64(1) << np.int64(31)  # term ids are 31-bit non-negative


def _flat_lists(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """ListArray → (row_index, flat_values) with null rows treated as empty."""
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(arr), 0).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    rows = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    return rows, flat


def _sorted_keys(rows: np.ndarray, terms: np.ndarray, weights: np.ndarray):
    """Composite keys row·2³¹+term, strictly increasing → (rows, keys, weights).

    The TF-IDF producers emit each row's term ids unique and ascending, so
    their keys pass through untouched. Any other input (unsorted, or a term id
    repeated within a row) is sorted and equal keys MERGE by summing their
    weights — the engine's collided-term rule (``vectors._assemble_group_flat``)
    — so the intersect and the distinct-term counts see one key per term."""
    keys = rows * _ROW_SHIFT + terms.astype(np.int64)
    if len(keys) > 1 and not (np.diff(keys) > 0).all():
        order = np.argsort(keys, kind="stable")
        keys, weights = keys[order], weights[order]
        first = np.empty(len(keys), dtype=bool)
        first[0] = True
        np.not_equal(keys[1:], keys[:-1], out=first[1:])
        starts = np.nonzero(first)[0]
        keys, weights = keys[starts], np.add.reduceat(weights, starts)
        rows = keys // _ROW_SHIFT
    return rows, keys, weights


def _score_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    n = batch.num_rows
    name_idx = {nm: i for i, nm in enumerate(batch.schema.names)}

    def col(nm):
        return batch.column(name_idx[nm])

    ra, terms_a = _flat_lists(col("terms_a"))
    rb, terms_b = _flat_lists(col("terms_b"))
    _, wa = _flat_lists(col("weights_a"))
    _, wb = _flat_lists(col("weights_b"))

    if len(terms_a) and len(terms_b):
        ra, ka, wa = _sorted_keys(ra, terms_a, wa.astype(np.float64))
        rb, kb, wb = _sorted_keys(rb, terms_b, wb.astype(np.float64))
        # both key arrays sorted → binary-search intersect, no sorting pass
        idx = np.searchsorted(kb, ka)
        idx_c = np.minimum(idx, len(kb) - 1)
        hit = kb[idx_c] == ka
        rows_hit = (ka[hit] // _ROW_SHIFT).astype(np.int64)
        prod = wa[hit] * wb[idx_c[hit]]
        dots = np.bincount(rows_hit, weights=prod, minlength=n)[:n]
        shared = np.bincount(rows_hit, minlength=n)[:n].astype(np.float64)
    else:
        dots = np.zeros(n, np.float64)
        shared = np.zeros(n, np.float64)
    na = np.bincount(ra, minlength=n).astype(np.float64)
    nb = np.bincount(rb, minlength=n).astype(np.float64)
    union = na + nb - shared
    jac = np.divide(shared, union, out=np.zeros(n, np.float64), where=union > 0)

    stems_a = col("stem_a").to_pylist()
    stems_b = col("stem_b").to_pylist()
    # candidate pairs cluster around few distinct stems per block — memoize
    memo: dict = {}
    jw = np.empty(n, dtype=np.float64)
    for i, (x, y) in enumerate(zip(stems_a, stems_b)):
        key = (x, y)
        v = memo.get(key)
        if v is None:
            v = memo[key] = jaro_winkler_py(x or "", y or "")
        jw[i] = v

    return pa.RecordBatch.from_arrays(
        [
            col("id_a"),
            col("id_b"),
            pa.array(dots, type=pa.float64()),
            pa.array(jac, type=pa.float64()),
            pa.array(jw, type=pa.float64()),
            col("lev_stem"),
            col("soundex_stem"),
            col("same_lang"),
            col("exact"),
            col("block_n"),
        ],
        names=[
            "id_a", "id_b", "cosine", "jaccard", "jw_stem",
            "lev_stem", "soundex_stem", "same_lang", "exact", "block_n",
        ],
    )


def score_pair_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow entry point: joined pair batches → PAIR_FEATURES batches."""
    for batch in batches:
        if batch.num_rows:
            yield _score_batch(batch)
