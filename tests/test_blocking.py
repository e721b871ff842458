"""Blocking + pair-generation tests: key families, caps/salting, star-vs-clique."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_spark.operators.blocking import (
    BlockingConfig,
    apply_block_caps,
    block_assignments,
)
from entity_resolution_spark.operators.pairs import candidate_pairs, clique_pairs, star_pairs
from entity_resolution_spark.plans.pipeline import PipelineConfig, extract_features


def _features(spark, rows):
    rf = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    return extract_features(rf, PipelineConfig())


def test_exact_sha_blocks_group_identical_content(spark):
    feats = _features(
        spark,
        [
            ("r1", "a.py", "c1", "python", "def f():\n    return 1"),
            ("r2", "b.py", "c2", "python", "def f():\n    return 1"),
            ("r3", "c.py", "c3", "python", "def g():\n    return 2"),
        ],
    )
    asg = block_assignments(feats, BlockingConfig(use_minhash=False, use_fingerprints=False, use_path_tokens=False))
    sha_blocks = asg.groupBy("block_key").agg(F.count("*").alias("n")).collect()
    by_n = sorted(r["n"] for r in sha_blocks)
    assert by_n == [1, 2]


def test_lang_never_crosses(spark):
    feats = _features(
        spark,
        [
            ("r1", "x.py", "c1", "python", "shared tokens here alpha beta gamma delta"),
            ("r2", "x.go", "c2", "go", "shared tokens here alpha beta gamma delta"),
        ],
    )
    asg = block_assignments(feats, BlockingConfig())
    pairs = candidate_pairs(asg)
    assert pairs.count() == 0  # same content, different lang → no shared key


def test_apply_block_caps_splits_big_blocks(spark):
    asg = spark.createDataFrame(
        [(f"id{i}", "big") for i in range(100)] + [(f"s{i}", "small") for i in range(5)],
        "unique_id string, block_key string",
    )
    capped = apply_block_caps(asg, cap=30)
    sizes = {r["block_key"]: r["n"] for r in capped.groupBy("block_key").agg(F.count("*").alias("n")).collect()}
    assert "small" in sizes and sizes["small"] == 5          # untouched
    big_parts = [k for k in sizes if k.startswith("big#")]
    assert len(big_parts) == 4                               # ceil(100/30)
    assert all(sizes[k] <= 45 for k in big_parts)            # roughly balanced
    assert sum(sizes[k] for k in big_parts) == 100
    # deterministic: same salt assignment on re-run
    again = {r["unique_id"]: r["block_key"] for r in apply_block_caps(asg, cap=30).collect()}
    for r in capped.collect():
        assert again[r["unique_id"]] == r["block_key"]


def test_star_vs_clique_pairs(spark):
    asg = spark.createDataFrame(
        [("a", "k"), ("b", "k"), ("c", "k"), ("d", "k2")],
        "unique_id string, block_key string",
    )
    star = {(r["id_a"], r["id_b"]) for r in star_pairs(asg).collect()}
    assert star == {("a", "b"), ("a", "c")}          # min-id star, linear count
    clique = {(r["id_a"], r["id_b"]) for r in clique_pairs(asg).collect()}
    assert clique == {("a", "b"), ("a", "c"), ("b", "c")}


def test_candidate_pairs_exact_flag_and_dedup(spark):
    asg = spark.createDataFrame(
        [("a", "sha:python:x"), ("b", "sha:python:x"), ("a", "mh0:python:7"), ("b", "mh0:python:7")],
        "unique_id string, block_key string",
    )
    got = {(r["id_a"], r["id_b"]): r["is_exact"] for r in candidate_pairs(asg).collect()}
    assert got == {("a", "b"): True}   # one pair, exact wins over similarity dup


def test_minhash_bands_block_near_duplicates(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    feats = _features(
        spark,
        [
            ("r1", "one.py", "c1", "python", base + "tail one"),
            ("r2", "two.py", "c2", "python", base + "tail two"),
            ("r3", "three.py", "c3", "python", "totally different words nothing shared xyz " * 6),
        ],
    )
    asg = block_assignments(feats, BlockingConfig(use_path_tokens=False, use_fingerprints=False))
    pairs = {(r["id_a"], r["id_b"]) for r in candidate_pairs(asg).collect()}
    feats_ids = {r["path"]: r["unique_id"] for r in feats.collect()}
    a, b = sorted([feats_ids["one.py"], feats_ids["two.py"]])
    assert (a, b) in pairs
    c = feats_ids["three.py"]
    assert all(c not in p for p in pairs)


# ---------------------------------------------------------------------------
# Multi-pass cutoff-harvest blocking (reference blockers/common.py:100-201,
# harvest fixture translated from test/blockers/test_blockers.py:95-102)
# ---------------------------------------------------------------------------

def _recs(spark, rows):
    return spark.createDataFrame(rows, "unique_id string, typ string, f array<string>")


def test_cutoff_harvest_multipass_blocks(spark):
    from entity_resolution_spark.operators.blocking import cutoff_harvest_blocks

    # A,B share {2,3} (weight 2) — harvested at th=2 before the weight-1 bridge
    # B–C (shared value 4) can glue them to C,D; final pass blocks the rest.
    rows = [
        ("A", "person", ["1", "2", "3"]),
        ("B", "person", ["2", "3", "4"]),
        ("C", "person", ["4", "5"]),
        ("D", "person", ["5", "6"]),
        ("E", "person", ["9"]),
    ]
    out = cutoff_harvest_blocks(
        _recs(spark, rows), ["f"], th_schedule=[2], cluster_cutoff=2, type_col="typ"
    )
    rowsets = {}
    for r in out.collect():
        rowsets.setdefault(r["block_key"], set()).add(r["unique_id"])
    assert sorted(map(sorted, rowsets.values())) == [["A", "B"], ["C", "D"], ["E"]]

    # sanity of the multi-pass claim: a single final-pass-only schedule glues
    # A..D into one component through the weight-1 bridge
    single = cutoff_harvest_blocks(
        _recs(spark, rows), ["f"], th_schedule=[1], cluster_cutoff=2, type_col="typ"
    )
    sets = {}
    for r in single.collect():
        sets.setdefault(r["block_key"], set()).add(r["unique_id"])
    assert sorted(map(sorted, sets.values())) == [["A", "B", "C", "D"], ["E"]]


def test_cutoff_harvest_never_crosses_types(spark):
    from entity_resolution_spark.operators.blocking import cutoff_harvest_blocks

    rows = [
        ("P1", "person", ["11", "22", "33"]),
        ("V1", "vessel", ["11", "22", "33"]),  # identical features, other type
    ]
    out = cutoff_harvest_blocks(
        _recs(spark, rows), ["f"], th_schedule=[1], cluster_cutoff=1, type_col="typ"
    )
    got = {r["unique_id"]: r["block_key"] for r in out.collect()}
    assert len(set(got.values())) == 2
    assert got["P1"].startswith("person-") and got["V1"].startswith("vessel-")


# ---------------------------------------------------------------------------
# Oversized-block split by secondary key with connectivity-argmax reassignment
# (reference blockers/country.py:19-126)
# ---------------------------------------------------------------------------

def test_split_oversized_by_key_argmax_connectivity(spark):
    from entity_resolution_spark.operators.blocking import split_oversized_blocks_by_key

    records = spark.createDataFrame(
        [
            ("a1", "big", ["x"]),
            ("a2", "big", ["x"]),
            ("b1", "big", ["y"]),
            ("m", "big", ["x", "y"]),   # ambiguous: connected to a1 and b1
            ("n", "big", []),            # no key: neighbor a1 carries x
            ("s1", "small", ["z"]),
            ("s2", "small", []),
        ],
        "unique_id string, block_key string, split_keys array<string>",
    )
    edges = spark.createDataFrame(
        [("m", "a1"), ("m", "b1"), ("n", "a1")], "id_a string, id_b string"
    )
    out = split_oversized_blocks_by_key(records, edges, min_split_size=3)
    got = {r["unique_id"]: r["block_key"] for r in out.collect()}
    # mean connectivity for m: x → 1 edge / 2 anchors = 0.5, y → 1/1 = 1.0 ⇒ y
    assert got["m"] == "big+y"
    # n has no key; its neighbor a1 contributes candidate x ⇒ x
    assert got["n"] == "big+x"
    assert got["a1"] == "big+x" and got["a2"] == "big+x" and got["b1"] == "big+y"
    # small blocks pass through unchanged
    assert got["s1"] == "small" and got["s2"] == "small"


def test_split_oversized_isolated_no_key_gets_null_bucket(spark):
    from entity_resolution_spark.operators.blocking import split_oversized_blocks_by_key

    records = spark.createDataFrame(
        [("a", "big", ["x"]), ("b", "big", ["x"]), ("c", "big", ["x"]), ("i", "big", [])],
        "unique_id string, block_key string, split_keys array<string>",
    )
    edges = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    out = split_oversized_blocks_by_key(records, edges, min_split_size=3)
    got = {r["unique_id"]: r["block_key"] for r in out.collect()}
    assert got["i"] == "big+00"


def test_oversize_split_by_key_recall_vs_salting(spark):
    """With a cap small enough that shared-key blocks overflow, the flagship's
    id-hash salting must still recover ≥ 95% of the true same-entity
    candidate pairs. (A CountryBlocker-style split by secondary key measured
    the same recall here, so the flagship salts; the split operator is
    tested on its own above.)"""
    from entity_resolution_spark.operators.blocking import (
        BlockingConfig,
        block_assignments,
    )
    from entity_resolution_spark.operators.pairs import candidate_pairs
    from entity_resolution_spark.plans.pipeline import PipelineConfig, extract_features
    from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

    import pyspark.sql.functions as F

    repo_files, ground_truth, _ = corpus_dataframes(
        spark,
        SynthConfig(
            seed=7, n_entities=40, shared_block_fraction=0.7,
            entities_per_shared_block=4,
        ),
    )
    feats = extract_features(repo_files, PipelineConfig()).persist()
    gt = ground_truth.select("unique_id", "ground_truth")
    truth_pairs = (
        gt.alias("a")
        .join(gt.alias("b"), F.col("a.ground_truth") == F.col("b.ground_truth"))
        .where(F.col("a.unique_id") < F.col("b.unique_id"))
        .select(
            F.col("a.unique_id").alias("id_a"), F.col("b.unique_id").alias("id_b")
        )
        .persist()
    )
    n_truth = truth_pairs.count()
    assert n_truth > 0

    asg = block_assignments(feats, BlockingConfig(block_cap=6))
    pairs = candidate_pairs(asg).select("id_a", "id_b")
    hits = pairs.join(truth_pairs, ["id_a", "id_b"], "left_semi").count()
    assert hits / n_truth >= 0.95
    feats.unpersist()
    truth_pairs.unpersist()


def test_bump_block_sizes_exact_blocks_reachable_under_default_geometry(spark):
    """Regression: with block_cap (200) <= large_block_size (400) the general
    sizing pass is skipped, but exact sha blocks are never capped — a family
    larger than large_block_size must still produce block_n for its members so
    their mixed pairs get the reference's +0.02 crowded-block bump."""
    from entity_resolution_spark.plans.pipeline import PipelineConfig, bump_block_sizes

    n_family = 450
    rows = [(f"r{i}", 777, True) for i in range(n_family)]  # one sha family
    rows += [(f"s{i}", 10 + i, False) for i in range(20)]   # small capped blocks
    asg = spark.createDataFrame(
        rows, "unique_id string, block_key long, is_exact boolean"
    )
    cfg = PipelineConfig()
    assert cfg.scorer.large_block_size >= cfg.blocking.block_cap  # default geometry
    got = {r["unique_id"]: r["block_n"] for r in bump_block_sizes(asg, cfg).collect()}
    assert len(got) == n_family
    assert all(v == n_family for v in got.values())
    assert "s0" not in got  # capped-family records carry no block_n (-> no bump)
