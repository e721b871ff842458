"""Shared Spark session fixture (one JVM for the whole test run) and the
pair-scoring kernel driver."""

from __future__ import annotations

import pyarrow as pa
import pytest

from entity_resolution_spark.functions.arrow_kernels import _score_batch
from entity_resolution_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("er-tests", master="local[4]", shuffle_partitions=8)
    yield s


def _score_pairs(tas, was, tbs, wbs):
    """Score row-aligned (terms, weights) vector pairs with the production pair
    kernel, ``arrow_kernels._score_batch``, in one ``pa.RecordBatch`` —
    no Spark job. Returns the (cosine, jaccard) columns as numpy arrays."""
    n = len(tas)

    def lists(vals, typ):
        return pa.array([list(v) for v in vals], pa.list_(typ))

    null = pa.nulls(n, pa.float64())
    out = _score_batch(
        pa.RecordBatch.from_pydict(
            {
                "id_a": pa.array(range(n), pa.int64()),
                "id_b": pa.array(range(n), pa.int64()),
                "terms_a": lists(tas, pa.int64()),
                "weights_a": lists(was, pa.float64()),
                "terms_b": lists(tbs, pa.int64()),
                "weights_b": lists(wbs, pa.float64()),
                "stem_a": pa.nulls(n, pa.string()),
                "stem_b": pa.nulls(n, pa.string()),
                "lev_stem": null,
                "soundex_stem": null,
                "same_lang": null,
                "exact": null,
                "block_n": pa.nulls(n, pa.int64()),
            }
        )
    )
    return (
        out.column("cosine").to_numpy(zero_copy_only=False),
        out.column("jaccard").to_numpy(zero_copy_only=False),
    )


@pytest.fixture(scope="session")
def score_pairs():
    return _score_pairs
