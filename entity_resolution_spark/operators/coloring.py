"""Colour-negative-edges splitter (reference ``ColourNegativeEdgesSplitter``).

Reference: ``am_combiner/splitters/common.py:130-178`` — for every positive
component that contains internal negative edges:
- greedy-colour the NEGATIVE subgraph (largest-degree-first), so records joined
  by a negative edge always land in different colours (proper colouring);
- records with at least one negative edge take their colour as the new cluster;
- records isolated in the negative subgraph join the colour class with the
  highest MEAN positive-edge weight toward them (mean over the whole class,
  zeros included — common.py:166-173; ties → lowest colour via np.argmax);
- colours become fresh global cluster ids.

This is the splitter the survey excluded as order-dependent: networkx's
``greedy_color(strategy="largest_first")`` breaks degree ties by insertion
order. The deterministic re-expression fixes the tie order to
(degree desc, record id asc) — partition- and arrival-order-invariant, every
other step identical.

Spark form: positive components are labeled by the engine's distributed CC;
components are then small by construction (post-blocking, post-threshold), so
the per-component colouring is an ``applyInPandas`` numpy kernel over the
component key — the same decomposition the engine uses for every per-subgraph
operator (scale lives in the number of components).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def colour_component(
    ids: list[str],
    pos_edges: list[tuple[int, int, float]],
    neg_edges: list[tuple[int, int]],
) -> list[int]:
    """Colour one component. Returns a colour per record (aligned with ``ids``);
    -1 never occurs (isolated-in-negative records are assigned per the mean-edge
    rule, exactly common.py:160-173)."""
    n = len(ids)
    pos = np.zeros((n, n), dtype=np.float64)
    for i, j, w in pos_edges:
        pos[i, j] = pos[j, i] = w
    nbrs: list[set[int]] = [set() for _ in range(n)]
    for i, j in neg_edges:
        if i != j:
            nbrs[i].add(j)
            nbrs[j].add(i)

    deg = np.array([len(s) for s in nbrs])
    # deterministic largest_first: degree desc, then record id asc
    order = sorted(range(n), key=lambda i: (-deg[i], ids[i]))
    colour = np.full(n, -1, dtype=np.int64)
    for i in order:
        used = {colour[j] for j in nbrs[i] if colour[j] >= 0}
        c = 0
        while c in used:
            c += 1
        colour[i] = c
    n_colours = int(colour.max()) + 1 if n else 0

    final = np.full(n, -1, dtype=np.int64)
    final[deg > 0] = colour[deg > 0]
    # isolated-in-negative records: argmax of the MEAN positive weight toward
    # each colour class (mean over class members currently assigned, zeros
    # included; empty class → mean 0 — reference uses np.mean over the slice)
    for i in np.nonzero(deg == 0)[0]:
        means = []
        for c in range(n_colours):
            members = final == c
            means.append(pos[i, members].mean() if members.any() else 0.0)
        final[i] = int(np.argmax(means)) if means else 0
    return final.tolist()


def colour_negative_edges_split(
    pos_edges: DataFrame,
    neg_edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    weight_col: str = "score",
) -> DataFrame:
    """Positive match edges ⊕ negative edges → (unique_id, cluster_id, component).

    Components of the positive graph WITHOUT internal negative edges keep their
    CC label; components with negative evidence are recoloured (reference
    ``Splitter.split``, common.py:109-127, dispatches ``break_subgraph`` only
    for clusters containing negative edges). Cluster ids of recoloured
    components are ``<component>#c<colour>`` — globally unique, deterministic.
    ``component`` is the record's positive-graph component (the min id), so a
    caller can check the split against the CC partition without running CC
    again. Rows cover exactly the nodes of the positive graph.
    """
    from entity_resolution_spark.operators.components import connected_components

    # pe is consumed twice (CC seed + the pos_rows re-probe) and the upstream
    # edge producer may be expensive (a PPJoin, a scorer); an eager
    # localCheckpoint materializes it once — ContextCleaner-reclaimed, same
    # convention as dedup.jaccard_pairs' base
    pe = pos_edges.select(
        F.col(id_a).cast("string").alias("id_a"),
        F.col(id_b).cast("string").alias("id_b"),
        F.col(weight_col).cast("double").alias("w"),
    ).localCheckpoint(eager=True)
    # connected_components, not label_components: the splitter labels only the
    # nodes of the positive graph, so there is no vertex set to join back.
    # labels is consumed by four joins below: an eager localCheckpoint, whose
    # blocks the ContextCleaner reclaims when the frame is collected — a bare
    # persist here would outlive the call (the jaccard_pairs leak class).
    labels = (
        connected_components(pe, "id_a", "id_b")
        .withColumnRenamed("component", "_comp")
        .localCheckpoint(eager=True)
    )

    ne = (
        neg_edges.select(
            F.col(id_a).cast("string").alias("id_a"),
            F.col(id_b).cast("string").alias("id_b"),
        )
        .join(labels.withColumnRenamed("id", "id_a"), "id_a")
        .join(
            labels.withColumnRenamed("id", "id_b").withColumnRenamed("_comp", "_comp_b"),
            "id_b",
        )
        # only negative edges INTERNAL to a positive component force a split;
        # cross-component negatives are already satisfied
        .where(F.col("_comp") == F.col("_comp_b"))
        .select("id_a", "id_b", "_comp")
        # consumed by bad_comps (itself probed three times) and neg_rows —
        # without this, the negative-edge producer re-runs once per consumer
        .localCheckpoint(eager=True)
    )

    # dirty components are few (post-threshold components with internal
    # negative evidence); broadcast the semi-join key set to every probe
    bad_comps = F.broadcast(ne.select("_comp").distinct())
    clean = labels.join(bad_comps, "_comp", "left_anti").select(
        F.col("id").alias("unique_id"),
        F.col("_comp").alias("cluster_id"),
        F.col("_comp").alias("component"),
    )

    # union the three row kinds per dirty component into one grouped frame
    nodes = labels.join(bad_comps, "_comp").select(
        "_comp", F.col("id").alias("a"), F.lit(None).cast("string").alias("b"),
        F.lit(None).cast("double").alias("w"), F.lit("n").alias("kind"),
    )
    pos_rows = (
        pe.join(labels.withColumnRenamed("id", "id_a"), "id_a")
        .join(bad_comps, "_comp")
        .select(
            "_comp", F.col("id_a").alias("a"), F.col("id_b").alias("b"),
            "w", F.lit("p").alias("kind"),
        )
    )
    neg_rows = ne.select(
        "_comp", F.col("id_a").alias("a"), F.col("id_b").alias("b"),
        F.lit(None).cast("double").alias("w"), F.lit("e").alias("kind"),
    )
    grouped = nodes.unionByName(pos_rows).unionByName(neg_rows)

    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField("cluster_id", T.StringType()),
            T.StructField("component", T.StringType()),
        ]
    )

    def recolour(key, pdf):
        ids = sorted(pdf.loc[pdf["kind"] == "n", "a"].unique())
        idx = {v: i for i, v in enumerate(ids)}
        pos_l = [
            (idx[r.a], idx[r.b], float(r.w))
            for r in pdf[pdf["kind"] == "p"].itertuples()
            if r.a in idx and r.b in idx
        ]
        neg_l = [
            (idx[r.a], idx[r.b])
            for r in pdf[pdf["kind"] == "e"].itertuples()
            if r.a in idx and r.b in idx
        ]
        colours = colour_component(ids, pos_l, neg_l)
        return pd.DataFrame(
            {
                "unique_id": ids,
                "cluster_id": [f"{key[0]}#c{c}" for c in colours],
                "component": key[0],
            }
        )

    recoloured = grouped.groupBy("_comp").applyInPandas(recolour, out_schema)
    out = clean.unionByName(recoloured)
    return out
