"""Decompose the match_edges stage cost on a materialized corpus.

Usage: SPARK_DRIVER_MEMORY=48g python tools/profile_match_edges.py <corpus_dir> <cores>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from entity_resolution_spark.functions.strings import levenshtein_sim  # noqa: E402
from entity_resolution_spark.operators.blocking import block_assignments  # noqa: E402
from entity_resolution_spark.operators.pairs import candidate_pairs  # noqa: E402
from entity_resolution_spark.operators.scoring import build_pair_features  # noqa: E402
from entity_resolution_spark.plans.pipeline import (  # noqa: E402
    PipelineConfig,
    bump_block_sizes,
    extract_features,
    pipeline_vectors,
    surrogate_ids,
)
from entity_resolution_spark.session import get_spark  # noqa: E402


def main() -> int:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaling_corpus_60000"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("profme", master=f"local[{cores}]", shuffle_partitions=cores * 2)
    rf = spark.read.parquet(corpus)
    cfg = PipelineConfig()

    def t(name, fn):
        t0 = time.monotonic()
        r = fn()
        print(f"T {name}: {time.monotonic() - t0:.1f}s", flush=True)
        return r

    feats = surrogate_ids(extract_features(rf, cfg)).persist()
    t("warm_features", lambda: feats.count())
    vec = pipeline_vectors(feats).persist()
    t("warm_vectors", lambda: vec.count())
    asg = block_assignments(feats, cfg.blocking).persist()
    t("warm_assignments", lambda: asg.count())
    pairs = candidate_pairs(asg).persist()
    t("warm_pairs", lambda: pairs.count())

    feat = feats.join(vec, "unique_id", "left").select(
        "unique_id", "lang", "content_sha", "stem", "terms", "weights"
    ).persist()
    t("feat_join", lambda: feat.count())

    a = feat.select(*[F.col(c).alias(f"{c}_a") for c in feat.columns])
    b = feat.select(*[F.col(c).alias(f"{c}_b") for c in feat.columns])
    p = (
        pairs.join(a, pairs["id_a"] == a["unique_id_a"])
        .join(b, pairs["id_b"] == b["unique_id_b"])
    ).persist()
    t("pair_join", lambda: p.count())

    t("scalar_lev", lambda: p.select(
        levenshtein_sim(F.col("stem_a"), F.col("stem_b")).alias("x")
    ).agg(F.sum("x")).collect())
    # the pass resolve() runs: joins + JVM features + the score_pair_batches
    # kernel (cosine, jaccard, jaro-winkler)
    t("score_pair_batches", lambda: build_pair_features(
        pairs, feats, vec, block_sizes=bump_block_sizes(asg, cfg)
    ).agg(F.sum("cosine")).collect())

    bs = (
        asg.groupBy("block_key").agg(F.count("*").alias("_n"))
        .join(asg, "block_key")
        .groupBy("unique_id").agg(F.max("_n").alias("block_n"))
    )
    t("block_sizes", lambda: bs.count())
    return 0


if __name__ == "__main__":
    sys.exit(main())
