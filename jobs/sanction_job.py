"""spark-submit entry point for the sanction-entity pipeline — the cluster twin
of the reference's ``__sanction_main__.py`` / ``inter-domain.py`` driver
(visitor chain → feature-intersection adjacency → connected components).

    python tools/package.py                       # builds dist/entity_resolution_spark.zip
    spark-submit --py-files dist/entity_resolution_spark.zip \
        jobs/sanction_job.py \
        --input  <parquet of (sanction_id, entity_type, sm_type, raw_entity)> \
        --output <clusters table/path> \
        [--entity-type person|organisation]          # default person
        [--sm-types sanction,pep-class-1]            # empty = all
        [--use-features alias_keyword]               # comma list; th over their union
        [--th 1]                                     # min shared values for an edge

Person entities run the full person visitor chain (alias/birth/country/
nationality/aml/father — ``operators/sanctions.py::sanction_features``);
organisations run the org chain (JSON summary, registration ids, org alias
keywords — ``::org_sanction_features``). Edges follow the reference's
``ConnectedComponentsCombiner`` (graph_based.py:12-66): intersection weight
over the selected features ≥ th → edge → CC; cluster id = min sanction_id in
the component. Everything is DataFrame-planar: the adjacency is the same
inverted-index operator the flagship pipeline uses, CC is large-star/small-star
with the small-graph union-find fast path — no driver-side loops over records.

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

PERSON_DEFAULT_FEATURES = ["alias_keyword"]
ORG_DEFAULT_FEATURES = ["org_alias_keyword", "org_ids"]


def build_clusters(records, entity_type: str, use_features: list[str], th: int):
    """(sanction_id, raw_entity) → (sanction_id, entity_id, n_members)."""
    from pyspark.sql import functions as F

    from entity_resolution_spark.operators.adjacency import feature_intersection_edges
    from entity_resolution_spark.operators.components import label_components
    from entity_resolution_spark.operators.sanctions import (
        org_sanction_features,
        sanction_features,
    )

    extract = org_sanction_features if entity_type == "organisation" else sanction_features
    feats = extract(records)
    base = feats.select(
        "sanction_id",
        *[
            F.coalesce(
                F.col(c), F.array().cast(feats.schema[c].dataType.simpleString())
            ).alias(c)
            for c in use_features
        ],
    ).localCheckpoint(eager=True)  # consumed by adjacency AND the label join

    edges = feature_intersection_edges(base, use_features, id_col="sanction_id").where(
        F.col("weight") >= th
    )
    out = label_components(
        base.select("sanction_id"), edges, "sanction_id", "id_a", "id_b",
        out_col="entity_id",
    )
    sizes = out.groupBy("entity_id").agg(F.count("*").alias("n_members"))
    return out.join(sizes, "entity_id").select("sanction_id", "entity_id", "n_members")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--entity-type", default="person",
                    choices=["person", "organisation"])
    ap.add_argument("--sm-types", default="")
    ap.add_argument("--use-features", default="")
    ap.add_argument("--th", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    spark = get_spark("sanction_resolve")
    records = spark.read.parquet(args.input)
    if "entity_type" in records.columns:
        records = records.where(F.col("entity_type") == args.entity_type)
    sm_types = [t for t in args.sm_types.split(",") if t]
    if sm_types and "sm_type" in records.columns:
        records = records.where(F.col("sm_type").isin(sm_types))

    use_features = [f for f in args.use_features.split(",") if f] or (
        ORG_DEFAULT_FEATURES if args.entity_type == "organisation"
        else PERSON_DEFAULT_FEATURES
    )
    clusters = build_clusters(records, args.entity_type, use_features, args.th)
    clusters.write.mode("overwrite").parquet(args.output)

    n = clusters.count()
    n_ent = clusters.select("entity_id").distinct().count()
    print(json.dumps({"rows": n, "entities": n_ent,
                      "entity_type": args.entity_type,
                      "use_features": use_features, "th": args.th}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
