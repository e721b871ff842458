"""spark-submit entry point for the entity-resolution pipeline.

    python tools/package.py                       # builds dist/entity_resolution_spark.zip
    spark-submit --py-files dist/entity_resolution_spark.zip \
        jobs/resolve_job.py \
        --input  <path-or-iceberg-table of (repo,path,commit,lang,content)> \
        --output <clusters table/path> \
        [--checkpoint <stage-checkpoint root>] \
        [--format parquet|iceberg] [--labeled-pairs <path>] [--report]

``--report`` prints each pipeline stage's seconds (``resolve(timings=...)``),
with or without ``--checkpoint``: every stage ends materialized.

On a cluster the session comes from spark-submit's conf (executors, shuffle
partitions, AQE); locally it falls back to local[*]. The same job ran at
local[8] and local[32] produces identical clusters (tests/test_determinism_resume).

The session comes from ``session.get_spark``; its docstring says which
spark-submit settings win and when Python workers use the engine's daemon.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--labeled-pairs", default=None)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()

    from entity_resolution_spark.plans.checkpoint import CheckpointStore
    from entity_resolution_spark.plans.pipeline import (
        PipelineConfig,
        audit_content_sha,
        resolve,
    )
    from entity_resolution_spark.qa.metrics import pairwise_f1

    spark = get_spark("er-resolve")

    if args.format == "iceberg":
        repo_files = spark.read.table(args.input)
    else:
        repo_files = spark.read.parquet(args.input)

    store = CheckpointStore(spark, args.checkpoint) if args.checkpoint else None
    timings: dict = {}
    out = resolve(spark, repo_files, PipelineConfig(), store=store, timings=timings)
    clusters = out["clusters"]

    if args.format == "iceberg":
        clusters.writeTo(args.output).createOrReplace()
    else:
        clusters.write.mode("overwrite").parquet(args.output)

    bad = audit_content_sha(repo_files, spark.read.parquet(args.output)
                            if args.format == "parquet" else spark.read.table(args.output))
    print(json.dumps({"sha256_violations": bad, "rows": clusters.count()}))

    if args.labeled_pairs:
        lp = spark.read.parquet(args.labeled_pairs)
        print(json.dumps({"pairwise": pairwise_f1(lp, clusters)}))
    if args.report:
        print(json.dumps({"stage_seconds": timings}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
