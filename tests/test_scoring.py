"""Scoring tests: TF-IDF vectors, pair features, logistic fusion, threshold bump,
splitter semantics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.functions.strings import jaro_winkler_py, levenshtein_sim
from entity_resolution_spark.functions.vectors import tfidf_vectors
from entity_resolution_spark.operators.scoring import (
    PAIR_FEATURES,
    ScorerWeights,
    logistic_score,
    match_edges,
)


def test_tfidf_unit_norm_and_idf(spark):
    docs = spark.createDataFrame(
        [("a", ["x", "x", "y"]), ("b", ["x", "z"])], "unique_id string, toks array<string>"
    )
    vec = {r["unique_id"]: r for r in tfidf_vectors(docs, "unique_id", "toks").collect()}
    for r in vec.values():
        norm = math.sqrt(sum(w * w for w in r["weights"]))
        assert abs(norm - 1.0) < 1e-6  # weights are float32
        assert list(r["terms"]) == sorted(r["terms"])


def test_cosine_udf_identical_and_disjoint(score_pairs):
    got, _ = score_pairs(
        [[1, 2], [1, 2]], [[0.6, 0.8], [0.6, 0.8]],
        [[1, 2], [3, 4]], [[0.6, 0.8], [1.0, 0.0]],
    )
    assert abs(got[0] - 1.0) < 1e-9
    assert got[1] == 0.0


def test_pair_kernel_duplicate_term_ids_exact(score_pairs):
    """assume_unique hazard (VERDICT r3 #3): within-row duplicate term ids —
    e.g. two distinct terms collided to one 31-bit hash — must not corrupt
    the intersect. The kernel merges duplicates by summing weights (the
    assembler's canonical collided-run rule), so cosine/jaccard equal the
    dense computation over the merged vectors."""
    # row 0: side A carries term 7 TWICE (weights .6 and .8 — merge to 1.4);
    # the intersect must see ONE key per (row, term) and the merged weight
    dots, jac = score_pairs([[7, 7, 9]], [[0.6, 0.8, 0.36]], [[7, 9]], [[0.8, 0.36]])
    assert dots[0] == (0.6 + 0.8) * 0.8 + 0.36 * 0.36  # exact float arithmetic
    assert jac[0] == 1.0  # {7,9} vs {7,9} after the merge, not 2/3


def test_tfidf_collision_term_ids_unique_and_self_cosine(spark, score_pairs):
    """Two distinct int64 shingle values whose 31-bit xxhash64 ids collide
    (46796 and 55022 → 193894664, found by birthday search over the bit-exact
    numpy replica) in ONE doc: the assembler must emit unique term ids
    (weights SUMMED on the collided id, norm over the merged top-k) and
    self-cosine through the pair UDF must stay exactly 1.0."""
    import numpy as np

    from entity_resolution_spark.functions.vectors import _xxhash64_long

    a, b = 46796, 55022
    ha, hb = (
        _xxhash64_long(np.array([a, b], dtype=np.int64))
        & np.uint64(0x7FFFFFFF)
    ).astype(np.int64)
    assert ha == hb  # precondition: the pair really collides at 31 bits
    docs = spark.createDataFrame(
        [(1, [a, b, 999]), (2, [a, 999]), (3, [12345])],
        "unique_id long, toks array<long>",
    )
    vecs = tfidf_vectors(docs, "unique_id", "toks", min_df=1)
    rows = {r["unique_id"]: r for r in vecs.collect()}
    for r in rows.values():
        terms = list(r["terms"])
        assert len(terms) == len(set(terms)), "collided ids must be merged"
        assert terms == sorted(terms)
    assert len(rows[1]["terms"]) == 2  # {collided_id, hash(999)}
    terms = [r["terms"] for r in rows.values()]
    weights = [r["weights"] for r in rows.values()]
    cos, _ = score_pairs(terms, weights, terms, weights)
    for c in cos:
        assert abs(c - 1.0) < 1e-6


def test_jaro_winkler_known_values():
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("", "abc") == 0.0
    # classic textbook value: MARTHA vs MARHTA
    assert abs(jaro_winkler_py("martha", "marhta") - 0.9611) < 1e-3


def test_levenshtein_sim(spark):
    df = spark.createDataFrame([("kitten", "sitting"), ("x", "x")], "a string, b string")
    got = [r["s"] for r in df.select(levenshtein_sim(F.col("a"), F.col("b")).alias("s")).collect()]
    assert abs(got[0] - (1 - 3 / 7)) < 1e-9
    assert got[1] == 1.0


def test_logistic_score_monotone_and_exact_dominates(spark):
    rows = [
        ("a", "b", 0.9, 0.8, 0.9, 0.9, 1.0, 1.0, 0.0),
        ("c", "d", 0.1, 0.05, 0.5, 0.4, 0.0, 1.0, 0.0),
        ("e", "f", 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0),  # exact duplicate, nothing else
    ]
    pf = spark.createDataFrame(
        rows, "id_a string, id_b string, " + ", ".join(f"{c} double" for c in PAIR_FEATURES)
    )
    scored = {(r["id_a"], r["id_b"]): r["score"] for r in logistic_score(pf).collect()}
    assert scored[("a", "b")] > 0.95
    assert scored[("c", "d")] < 0.2
    assert scored[("e", "f")] > 0.99   # exact weight dominates


def test_large_block_threshold_bump(spark):
    w = ScorerWeights(threshold=0.5, large_block_bump=0.3, large_block_size=10)
    # block_n = the larger block size of the pair's records, as it rides
    # through the scoring kernel (build_pair_features block_sizes=)
    scored = spark.createDataFrame(
        [("a", "b", 0.6, 100), ("c", "d", 0.6, 2)],
        "id_a string, id_b string, score double, block_n long",
    )
    kept = {(r["id_a"], r["id_b"]) for r in match_edges(scored, w).collect()}
    assert kept == {("c", "d")}   # big-block pair needs > 0.8 now


def test_feature_boost_reference_golden(spark):
    """Reference golden (test/combiners/test_tfidf.py:18-65): cosine 0.45 between
    tfidf vectors [1,0,2] and [2,0,0]; one shared LOC value at max_energy 30
    boosts to 0.48 (clip-sum / max_energy arithmetic, tfidf.py:318-353)."""
    import math

    from entity_resolution_spark.operators.scoring import feature_boost_similarities

    cos = 2.0 / (math.sqrt(5.0) * 2.0)  # <[1,0,2],[2,0,0]> normalized = 0.4472
    sim = spark.createDataFrame(
        [("a1", "a2", cos)], "id_a string, id_b string, score double"
    )
    recs = spark.createDataFrame(
        [
            ("a1", ["Michigan ", "Hollywood ", "Toronto"]),
            ("a2", ["Romania ", "Toronto", "Italy"]),
        ],
        "unique_id string, loc array<string>",
    )
    assert round(cos, 2) == 0.45
    out = feature_boost_similarities(sim, recs, ["loc"], max_energy=30).collect()
    assert len(out) == 1
    assert round(out[0]["score"], 2) == 0.48

    # dense-matrix semantics: a pair below the scorer (no sim edge) still gains
    # pure boost energy; a scored pair with no shared features is unchanged
    sim2 = spark.createDataFrame(
        [("a1", "a3", 0.2)], "id_a string, id_b string, score double"
    )
    recs2 = spark.createDataFrame(
        [("a1", ["x", "y"]), ("a2", ["x"]), ("a3", ["z"])],
        "unique_id string, loc array<string>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in feature_boost_similarities(sim2, recs2, ["loc"], max_energy=2).collect()
    }
    assert got[("a1", "a2")] == 0.5   # pure boost: 1 shared / max_energy 2
    assert got[("a1", "a3")] == 0.2   # untouched


def test_typed_feature_tokens_features_text_vectorisation(spark, score_pairs):
    # FullArticleFeaturesTextExtractor contract (reference combiners/tfidf.py:
    # 98-116): one "FAMILY-value" token per extracted value; the token array is
    # the features-text document and TF-IDFs like any other term column.
    from entity_resolution_spark.functions.vectors import (
        tfidf_vectors,
        typed_feature_tokens,
    )

    df = spark.createDataFrame(
        [
            ("r1", "python", ["tok", "util"], None),
            ("r2", "python", ["tok"], "gpl"),
            ("r3", "go", None, "mit"),
        ],
        "unique_id string, lang string, kw array<string>, lic string",
    )
    toks = df.select(
        "unique_id",
        typed_feature_tokens(
            scalar_cols={"LANG": "lang", "LIC": "lic"},
            array_cols={"KW": "kw"},
        ).alias("ftoks"),
    )
    got = {r["unique_id"]: sorted(r["ftoks"]) for r in toks.collect()}
    assert got["r1"] == ["KW-tok", "KW-util", "LANG-python"]  # null scalar dropped
    assert got["r2"] == ["KW-tok", "LANG-python", "LIC-gpl"]
    assert got["r3"] == ["LANG-go", "LIC-mit"]  # null array drops silently

    vecs = {r["unique_id"]: r for r in tfidf_vectors(toks, "unique_id", "ftoks").collect()}
    pairs = [(ia, ib) for ia in vecs for ib in vecs if ia < ib]
    a = [vecs[ia] for ia, _ in pairs]
    b = [vecs[ib] for _, ib in pairs]
    cos, _ = score_pairs(
        [r["terms"] for r in a], [r["weights"] for r in a],
        [r["terms"] for r in b], [r["weights"] for r in b],
    )
    got = dict(zip(pairs, cos))
    assert got[("r1", "r2")] > 0.3      # shares LANG-python and KW-tok
    assert got[("r1", "r3")] == 0.0     # nothing shared
    assert got[("r2", "r3")] == 0.0     # disjoint values in every family


def test_tfidf_physical_strategy_parity(spark, monkeypatch):
    """The physical strategies — broadcast kernel, mmap-file kernel, fused
    term-stream kernel, tf-aggregation fallback — must emit bit-identical
    vectors: same int32 term ids, same float32 weights, same tie/dedup
    handling."""
    import random

    from entity_resolution_spark.functions import vectors as V

    rng = random.Random(7)
    rows = []
    vocab = [rng.getrandbits(63) - (1 << 62) for _ in range(300)]
    for i in range(120):
        toks = sorted(set(rng.sample(vocab, rng.randint(1, 40))))
        rows.append((i, toks))
    docs = spark.createDataFrame(rows, "unique_id long, toks array<long>")

    def snap(broadcast_rows, mmap_rows, terms_distinct=True):
        # the tier gates are module constants; set them for this build only
        monkeypatch.setattr(V, "BROADCAST_VOCAB_ROWS", broadcast_rows)
        monkeypatch.setattr(V, "MMAP_VOCAB_ROWS", mmap_rows)
        df = tfidf_vectors(
            docs, "unique_id", "toks", min_df=2, top_k=16,
            terms_distinct=terms_distinct,
        )
        return {
            r["unique_id"]: (list(r["terms"]), list(r["weights"]))
            for r in df.collect()
        }

    # broadcast gate wide open -> broadcast kernel
    bcast = snap(10**9, V.MMAP_VOCAB_ROWS)
    # broadcast gate shut, mmap gate open -> file-backed (addFile/memmap) kernel
    mmapped = snap(0, 10**9)
    assert bcast == mmapped
    # both kernel gates shut -> fused term-stream kernel
    fused = snap(0, 0)
    assert bcast == fused
    # terms_distinct=False (tf aggregation first) must agree too: inputs are
    # duplicate-free, so tf==1 and the output is identical
    tf_path = snap(0, 0, terms_distinct=False)
    assert bcast == tf_path


def test_tfidf_string_terms_with_vocab_filter_takes_stream_path(spark):
    """Regression: the Arrow kernel tiers assume int64 hashed terms (their
    xxhash64 replica is long-only); string term arrays with min_df/max_df set
    used to crash in the vocab numpy cast. They must route to the stream path
    and produce correctly pruned vectors."""
    rows = [
        ("a", ["NAME-x", "KW-alpha", "KW-beta"]),
        ("b", ["NAME-x", "KW-alpha"]),
        ("c", ["NAME-y", "KW-rare"]),
    ]
    docs = spark.createDataFrame(rows, "unique_id string, ftoks array<string>")
    out = {
        r["unique_id"]: r
        for r in tfidf_vectors(
            docs, "unique_id", "ftoks", min_df=2, terms_distinct=True
        ).collect()
    }
    # df: NAME-x=2, KW-alpha=2 survive; KW-beta/NAME-y/KW-rare (df=1) pruned
    assert len(out["a"]["terms"]) == 2 and len(out["b"]["terms"]) == 2
    assert "c" not in out  # every term pruned -> no vector row
    for r in out.values():
        assert abs(sum(w * w for w in r["weights"]) - 1.0) < 1e-6
