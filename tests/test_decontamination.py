"""Benchmark decontamination: hand-traced goldens + contract properties."""

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.operators.decontamination import (
    decontaminate,
    eval_ngram_set,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "unique_id long, content string")


def test_decontaminate_hand_computed(spark):
    # eval doc: "a b c d e" → 3-grams {a b c, b c d, c d e}
    ev = _docs(spark, [(100, "a b c d e")])
    docs = _docs(
        spark,
        [
            (1, "a b c d e"),          # the eval doc itself: 3/3 contaminated
            (2, "x a b c y"),          # one window matches: "a b c"
            (3, "e d c b a"),          # reversed: no window matches
            (4, "a b"),                # too short: 0 n-grams
            (5, "c d e c d e"),        # windows: c d e, d e c, e c d, c d e →
                                       # distinct {c d e, d e c, e c d}; 1 hit
        ],
    )
    out = {
        r["unique_id"]: r
        for r in decontaminate(docs, ev, n=3).collect()
    }
    assert (out[1]["total_ngrams"], out[1]["contaminated_ngrams"]) == (3, 3)
    assert (out[2]["total_ngrams"], out[2]["contaminated_ngrams"]) == (3, 1)
    assert (out[3]["total_ngrams"], out[3]["contaminated_ngrams"]) == (3, 0)
    assert (out[4]["total_ngrams"], out[4]["contaminated_ngrams"]) == (0, 0)
    assert (out[5]["total_ngrams"], out[5]["contaminated_ngrams"]) == (3, 1)
    assert [out[i]["is_contaminated"] for i in (1, 2, 3, 4, 5)] == [
        True, True, False, False, True,
    ]


def test_decontaminate_case_and_whitespace_normalized(spark):
    ev = _docs(spark, [(1, "Foo  Bar\nBaz")])
    docs = _docs(spark, [(2, "foo bar baz")])
    row = decontaminate(docs, ev, n=3).collect()[0]
    assert row["contaminated_ngrams"] == 1 and row["is_contaminated"]


def test_decontaminate_every_doc_present(spark):
    ev = _docs(spark, [(1, "q w e r t")])
    docs = _docs(spark, [(i, t) for i, t in enumerate(["", "a", "q w e r t y"])])
    out = decontaminate(docs, ev, n=5)
    assert out.count() == 3
    assert out.where(~F.col("is_contaminated")).count() == 2


def test_eval_ngram_set_distinct(spark):
    ev = _docs(spark, [(1, "a b c a b c"), (2, "a b c")])
    grams = {r["ngram"] for r in eval_ngram_set(ev, n=3).collect()}
    # keys are kernel window-hash surrogates — recompute them directly with
    # the batch kernel on the distinct-window source text
    import pandas as pd

    from entity_resolution_spark.functions.fast_text import ws_ngram_hashes_batch

    expected = set(ws_ngram_hashes_batch(pd.Series(["a b c a b c"]), 3)[0])
    assert len(expected) == 3  # "a b c", "b c a", "c a b"
    from entity_resolution_spark.operators.decontamination import kernel_sentinel

    # the set carries exactly one extra row: the kernel-version sentinel
    assert grams == expected | {kernel_sentinel()}


def test_stale_eval_set_fails_loudly(spark):
    """ADVICE r4: an eval set with the RIGHT dtype but no current-kernel
    sentinel (persisted under an older bigint kernel) must raise, not
    silently report zero contamination; and the sentinel row itself must
    never count as a contamination hit."""
    import pytest

    from entity_resolution_spark.operators.decontamination import (
        contamination_counts,
        eval_ngram_set,
        kernel_sentinel,
        ngram_hash_array,
    )

    docs = _docs(spark, [(1, "q w e r t y")])
    exploded = docs.select(
        F.col("unique_id").alias("_id"),
        F.explode_outer(ngram_hash_array(F.col("content"), 3)).alias("ngram"),
    )
    stale = spark.createDataFrame([(12345,), (67890,)], "ngram bigint")
    with pytest.raises(ValueError, match="kernel-version sentinel"):
        contamination_counts(exploded, stale, ["_id"])

    # a fresh set containing ONLY the sentinel yields zero contamination
    ev = eval_ngram_set(_docs(spark, []), n=3)
    assert ev.count() == 1  # just the sentinel
    out = contamination_counts(exploded, ev, ["_id"]).collect()
    assert out[0]["contaminated_ngrams"] == 0 and not out[0]["is_contaminated"]


def test_decontaminate_plan_broadcasts_eval_side(spark):
    """The eval n-gram set must reach the corpus join as a broadcast — a
    shuffled corpus-side join would be the wrong 100 TB shape."""
    ev = _docs(spark, [(1, "a b c d e")])
    docs = _docs(spark, [(2, "a b c d e f g")])
    plan = decontaminate(docs, ev, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
