"""End-to-end correctness gate (BASELINE.md): pairwise F1 ≥ 0.99 on labeled pairs,
per-row content-sha256 integrity, determinism under different parallelism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.operators.blocking import BlockingConfig
from entity_resolution_spark.operators.scoring import ScorerWeights
from entity_resolution_spark.plans.pipeline import (
    PipelineConfig,
    audit_content_sha,
    resolve,
)
from entity_resolution_spark.qa.metrics import pairwise_f1
from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_dataframes(spark, SynthConfig(seed=42, n_entities=60))


@pytest.fixture(scope="module")
def resolved(spark, corpus):
    repo_files, _, _ = corpus
    return resolve(spark, repo_files, PipelineConfig())


def test_f1_gate_and_sha_audit(spark, corpus, resolved):
    repo_files, ground_truth, labeled_pairs = corpus
    out = resolved
    clusters = out["clusters"]

    # negatives must exist in the labeled pairs (over-combination is exercised)
    assert labeled_pairs.where(~F.col("label")).count() > 0

    # every input row present exactly once
    assert clusters.count() == repo_files.count()

    # integrity invariant: content sha preserved through every transform
    assert audit_content_sha(repo_files, clusters) == 0

    metrics = pairwise_f1(labeled_pairs, clusters)
    print("PAIRWISE:", metrics)
    assert metrics["f1"] >= 0.99, metrics


def test_all_exact_duplicates_cluster_together(spark, resolved):
    c = resolved["clusters"]
    # identical content => identical cluster (exact edges are never split)
    violations = (
        c.groupBy("content_sha")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert violations == 0


def test_boilerplate_family_emits_linear_pairs(spark):
    """A 300-copy byte-identical family (the web-corpus boilerplate shape) must
    resolve to ONE cluster with O(n) candidate pairs — the exact star carries
    the family; sha-covered clique pairs from the path/band/fingerprint
    families are dropped before the wide probe (pairs.drop_sha_covered_pairs)."""
    from pyspark.sql import functions as F

    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve

    boiler = "mit license permission is hereby granted free of charge " * 5
    rows = [
        (f"repo{i % 5}", f"src/pkg{i}/boiler_{i}.py", "c0", "python", boiler)
        for i in range(300)
    ] + [
        ("r", f"lib/mod_{j}.py", "c0", "python", f"def unique_fn_{j}(): return {j}")
        for j in range(20)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = resolve(spark, df, PipelineConfig())
    n_pairs = out["pairs"].count()
    boiler_sha = out["clusters"].groupBy("content_sha").count().where("count > 1")
    fam = (
        out["clusters"]
        .join(boiler_sha.select("content_sha"), "content_sha", "left_semi")
        .select("cluster_id")
        .distinct()
        .count()
    )
    n_clusters = out["clusters"].select("cluster_id").distinct().count()
    assert fam == 1                      # whole family is one cluster
    assert n_clusters == 21              # 1 family + 20 singletons
    assert n_pairs < 300 * 4, n_pairs    # linear in family size, not n^2/cap


@pytest.mark.parametrize(
    "build",
    [
        lambda: PipelineConfig(shingle_k=0),
        lambda: BlockingConfig(block_cap=1),
        lambda: ScorerWeights(weights=(9.0, 5.0)),
        lambda: ScorerWeights(threshold=0.0),
        lambda: ScorerWeights(threshold=1.0),
        lambda: ScorerWeights(large_block_size=0),
    ],
    ids=["shingle_k", "block_cap", "weights_len", "threshold_0", "threshold_1",
         "large_block_size"],
)
def test_bad_config_raises_when_built(build):
    """A bad config fails when it is built, before any Spark job runs."""
    with pytest.raises(ValueError):
        build()


def test_resolve_without_store_leaves_no_cache(spark):
    """Each stage frees the frames its operators cached once its output is
    materialized, so a store-less resolve() leaves the session's cache empty."""
    repo_files, _, _ = corpus_dataframes(spark, SynthConfig(seed=5, n_entities=15))
    spark.catalog.clearCache()
    out = resolve(spark, repo_files, PipelineConfig())
    assert out["clusters"].count() == repo_files.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
