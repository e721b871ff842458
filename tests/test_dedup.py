"""Dedup operator tests: exact groups, jaccard pairs/clusters, MinHash recall,
SimHash, embedding near-dup — on hand-built fixtures with known answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dup_groups,
    jaccard_dup_clusters,
    jaccard_pairs,
    minhash_lsh_dup_pairs,
    simhash_dup_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (2, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
    (4, "completely different content about spark dataframes and shuffles", "en"),
    (5, "der schnelle braune fuchs springt wieder", "de"),
]
SCHEMA = "doc_id long, text string, lang string"


def test_exact_dup_groups(spark):
    d = spark.createDataFrame(DOCS, SCHEMA)
    out = {r["doc_id"]: (r["dup_group"], r["group_size"]) for r in exact_dup_groups(d).collect()}
    assert out[1] == (1, 2) and out[2] == (1, 2)
    assert out[3] == (3, 1) and out[4] == (4, 1) and out[5] == (5, 1)


def test_jaccard_pairs_and_clusters(spark):
    d = spark.createDataFrame(DOCS, SCHEMA)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(d, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0           # identical token sets
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7
    assert (1, 4) not in pairs
    clusters = {r["doc_id"]: r["cluster"] for r in jaccard_dup_clusters(d, threshold=0.5).collect()}
    assert clusters[1] == clusters[2] == clusters[3] == 1
    assert clusters[4] == 4 and clusters[5] == 5


def test_minhash_finds_near_dups(spark):
    d = spark.createDataFrame(DOCS, SCHEMA)
    got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_dup_pairs(d, shingle_k=3, verify_threshold=0.5).collect()}
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got
    assert all(p not in got for p in [(1, 4), (2, 4), (3, 4)])


def test_simhash_near_dups(spark):
    d = spark.createDataFrame(DOCS, SCHEMA)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_dup_pairs(d, max_hamming=16).collect()}
    assert got.get((1, 2)) == 0          # identical token sets → identical sketch
    assert (1, 3) in got                 # one-token change → small hamming
    assert got[(1, 3)] <= 16


def test_crowded_band_is_linear_not_quadratic(spark):
    """A 1k-member boilerplate family (identical text) must NOT emit the ~500k-pair
    clique from its shared band buckets: over band_cap the bucket star-represents,
    so candidate and output volume stay O(n) and connectivity is preserved."""
    fam = [(i, "exact same boilerplate license header repeated everywhere", "en")
           for i in range(1000)]
    other = [(5000, "completely different content about spark shuffles", "en")]
    d = spark.createDataFrame(fam + other, SCHEMA)

    mh = minhash_lsh_dup_pairs(d, shingle_k=3, verify_threshold=0.5, band_cap=64)
    mh_pairs = mh.collect()
    assert len(mh_pairs) == 999                      # star: (0, i) for every member
    assert {(r["id_a"], r["id_b"]) for r in mh_pairs} == {(0, i) for i in range(1, 1000)}
    assert all(r["jaccard"] == 1.0 for r in mh_pairs)

    sh = simhash_dup_pairs(d, max_hamming=6, band_cap=64).collect()
    assert len(sh) == 999
    assert all(r["hamming"] == 0 for r in sh)

    # under the cap the clique is untouched: the small-fixture pair sets are
    # identical to the uncapped round-2 behavior (other tests assert content)
    small = spark.createDataFrame(DOCS, SCHEMA)
    uncapped = {(r["id_a"], r["id_b"])
                for r in minhash_lsh_dup_pairs(small, shingle_k=3, verify_threshold=0.5,
                                               band_cap=10**9).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in minhash_lsh_dup_pairs(small, shingle_k=3, verify_threshold=0.5).collect()}
    assert uncapped == capped


def test_embedding_near_dup(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.14, 0.0]),   # cos ≈ 0.99
            (3, [0.0, 1.0, 0.0]),     # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(vecs, threshold=0.9).collect()}
    assert got == {(1, 2)}


def test_minhash_block_col_scopes_bands(spark):
    """block_col scopes band buckets: IDENTICAL texts in different blocks
    must never pair (the IdentityBlocker twin of the exact path)."""
    from entity_resolution_spark.operators.dedup import minhash_dup_clusters

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "py"),
            (2, "a b c d e f g h", "py"),
            (3, "a b c d e f g h", "go"),
            (4, "x y z w q r t u", "py"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r["doc_id"]: r["cluster"]
        for r in minhash_dup_clusters(docs, threshold=0.5, block_col="lang").collect()
    }
    assert out[1] == out[2], out
    assert out[3] != out[1] and out[4] != out[1], out


def test_null_block_semantics_agree_across_twins(spark):
    """ADVICE r4: NULL block values must behave identically in the exact
    jaccard path and the MinHash-LSH path — as their OWN block.  Two
    identical NULL-lang docs must pair in BOTH; a NULL-lang doc must never
    pair with an identical doc in a real block in EITHER."""
    from entity_resolution_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", None),
            (2, "a b c d e f g h", None),
            (3, "a b c d e f g h", "py"),
            (4, "a b c d e f g h", "py"),
            (5, "x y z w q r t u", None),
        ],
        "doc_id long, text string, lang string",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs, block_col="lang", threshold=0.5, ngram=3
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dup_pairs(
            docs, shingle_k=3, verify_threshold=0.5, block_col="lang"
        ).select("id_a", "id_b").collect()
    }
    assert exact == {(1, 2), (3, 4)}
    assert lsh == exact


def test_numeric_block_col_with_nulls(spark):
    """A numeric block column must work in both twins (the sentinel is
    string-typed; without the pre-coalesce cast, ANSI mode crashed on
    CAST_INVALID_INPUT for any NULL block and non-ANSI silently dropped
    NULL blocks from the exact path again)."""
    from entity_resolution_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_dup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", None),
            (2, "a b c d e f g h", None),
            (3, "a b c d e f g h", 7),
            (4, "a b c d e f g h", 7),
        ],
        "doc_id long, text string, grp int",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs, block_col="grp", threshold=0.5, ngram=3
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dup_pairs(
            docs, shingle_k=3, verify_threshold=0.5, block_col="grp"
        ).select("id_a", "id_b").collect()
    }
    assert exact == {(1, 2), (3, 4)} and lsh == exact


def test_session_memo_shares_subtree_until_cleared(spark, tmp_path, monkeypatch):
    """Within one pass, cc_jaccard_docs reuses the jaccard edge frame that
    jaccard_pairs_docs built; clear_session_memo() forces a rebuild."""
    from entity_resolution_spark import queries as Q
    from entity_resolution_spark.operators import components

    spark.createDataFrame(DOCS, SCHEMA).write.parquet(str(tmp_path / "documents.parquet"))
    builds = {"jaccard_pairs": 0, "connected_components": 0}

    def counted(module, name):
        fn = getattr(module, name)

        def wrapper(*args, **kwargs):
            builds[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)

    counted(Q, "jaccard_pairs")
    # queries label through components.label_components, which looks
    # connected_components up in its own module
    counted(components, "connected_components")
    sf_dir = str(tmp_path)
    Q.clear_session_memo()
    pairs = Q.QUERIES["jaccard_pairs_docs"](spark, sf_dir).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2), (1, 3), (2, 3)}
    Q.QUERIES["cc_jaccard_docs"](spark, sf_dir).collect()
    Q.QUERIES["cc_jaccard_docs"](spark, sf_dir).collect()
    assert builds == {"jaccard_pairs": 1, "connected_components": 1}
    Q.clear_session_memo()
    Q.QUERIES["cc_jaccard_docs"](spark, sf_dir).collect()
    assert builds == {"jaccard_pairs": 2, "connected_components": 2}
    Q.clear_session_memo()
