"""GraphSAGE-style GCN combiner forward pass (reference ``GCNCombiner``).

Reference: ``am_combiner/combiners/ml.py:31-209`` — one SAGEConv layer
(mean aggregator, LeakyReLU) over the article graph whose edges come from
feature intersections and whose node features are the per-article embedding;
then L2-normalize → all-pairs cosine → threshold (with the same
large-cluster +0.02 bump above 400 records, ml.py:160-187) → connected
components. The reference loads TRAINED torch weights from S3
(ml.py:93-103); neither torch nor the artifact store exists in this
environment, so the layer weights are explicit numpy arrays — load them from
any local file and pass them in (the same pattern as the engine's broadcast
logistic scorer, ``operators/scoring.py:39-47`` + ``tools/fit_scorer.py``);
``seed=`` gives a deterministic Glorot init for an untrained encoder.

Spark form, built for the 100 TB shape:
- neighbor aggregation is the long-form distributed SpMM (same machinery as
  ``operators/fastrp.py``): edges ⋈ features → groupBy(dst) weighted mean —
  one hash join + one partial-agg shuffle, no Python;
- the dense ``W`` matmul + activation is a vectorized Arrow kernel over node
  rows (batch matmul, weights broadcast once);
- cosine/threshold/CC reuse the engine's existing operators.

One deliberate divergence: DGL's SAGEConv "mean" with ``edge_weight``
multiplies messages by the weight but divides by plain in-degree; here the
neighbor mean is the proper weighted mean (Σwx/Σw) — documented rather than
replicated, since the reference's choice is an artifact of DGL internals, not
of the model.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LARGE_CLUSTER_TH_BUMP_UP = 0.02  # ml.py:27-28
LARGE_CLUSTER_LIMIT = 400


def glorot_weights(in_dim: int, out_dim: int, seed: int = 7) -> dict[str, np.ndarray]:
    """Deterministic Glorot-uniform init for (w_self, w_neigh)."""
    rng = np.random.RandomState(seed)
    lim = float(np.sqrt(6.0 / (in_dim + out_dim)))
    return {
        "w_self": rng.uniform(-lim, lim, size=(in_dim, out_dim)),
        "w_neigh": rng.uniform(-lim, lim, size=(in_dim, out_dim)),
    }


def sage_layer(
    edges: DataFrame,
    node_feats: DataFrame,
    w_self: np.ndarray,
    w_neigh: np.ndarray,
    id_col: str = "id",
    feat_col: str = "features",
    leaky_alpha: float = 0.01,
) -> DataFrame:
    """One SAGEConv(mean) layer: h_i = LeakyReLU(x_i·W_self + mean_w(x_j)·W_neigh).

    ``edges``: (id_a, id_b, weight) undirected. Nodes with no neighbors
    aggregate a zero vector (DGL semantics for isolated nodes).
    Returns (id, embedding array<double>) with dim = w_self.shape[1].
    """
    spark = node_feats.sparkSession
    x = node_feats.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(feat_col).cast("array<double>").alias("x"),
    )
    sym = edges.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
        F.col("weight").cast("double").alias("w"),
    ).unionByName(
        edges.select(
            F.col("id_b").cast("string").alias("src"),
            F.col("id_a").cast("string").alias("dst"),
            F.col("weight").cast("double").alias("w"),
        )
    )
    # weighted neighbor mean in long form: explode features once, join the
    # (src-keyed) values onto edges, weighted-sum per (dst, pos), divide by the
    # dst's total edge weight — one join + one agg, shuffle-bounded
    xl = x.select("id", F.posexplode("x").alias("pos", "val"))
    agg = (
        sym.join(xl.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"), "pos")
        .agg(
            F.sum(F.col("w") * F.col("val")).alias("_wx"),
            F.sum("w").alias("_wsum"),
        )
        .select("id", "pos", (F.col("_wx") / F.col("_wsum")).alias("val"))
    )
    neigh = (
        agg.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("_pv"))
        .select("id", F.transform("_pv", lambda s: s["val"]).alias("nx"))
    )
    joined = x.join(neigh, "id", "left")

    in_dim, out_dim = w_self.shape
    bw_self = spark.sparkContext.broadcast(np.ascontiguousarray(w_self, dtype=np.float64))
    bw_neigh = spark.sparkContext.broadcast(np.ascontiguousarray(w_neigh, dtype=np.float64))

    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def kernel(batches):
        ws, wn = bw_self.value, bw_neigh.value
        for pdf in batches:
            xm = np.asarray(pdf["x"].tolist(), dtype=np.float64).reshape(len(pdf), in_dim)
            nmat = np.zeros_like(xm)
            has = pdf["nx"].notna().to_numpy()
            if has.any():
                nmat[has] = np.asarray(pdf.loc[has, "nx"].tolist(), dtype=np.float64)
            h = xm @ ws + nmat @ wn
            h = np.where(h > 0, h, leaky_alpha * h)  # LeakyReLU (ml.py:38)
            yield pd.DataFrame({"id": pdf["id"], "embedding": list(h)})

    return joined.mapInPandas(kernel, out_schema)


def gcn_resolve(
    records: DataFrame,
    feature_cols: list[str],
    node_feat_col: str,
    id_col: str = "unique_id",
    weights: dict[str, np.ndarray] | None = None,
    th: float = 0.5,
    rep_dim: int = 32,
    seed: int = 7,
) -> DataFrame:
    """The full GCNCombiner (ml.py:189-209): feature-intersection edges →
    SAGE layer over the node features → L2-normalized cosine > th (+0.02 when
    the block exceeds 400 records, ml.py:160-187) → connected components.

    ``weights``: {"w_self", "w_neigh"} numpy arrays (a trained model exported
    to npz/parquet); defaults to the seeded Glorot init.
    """
    from entity_resolution_spark.operators.adjacency import feature_intersection_edges

    # deterministic feature width: max size over NON-NULL rows (a .first()
    # would be partition-order-dependent and yields -1 on a null feature row)
    first = records.agg(
        F.max(F.size(F.col(node_feat_col).cast("array<double>"))).alias("d")
    ).first()
    if first is None or first["d"] is None or first["d"] <= 0:
        return records.select(
            F.col(id_col).cast("string").alias(id_col),
            F.lit(None).cast("string").alias("cluster_id"),
        )
    in_dim = int(first["d"])
    if weights is None:
        weights = glorot_weights(in_dim, rep_dim, seed=seed)

    edges = feature_intersection_edges(records, feature_cols, id_col=id_col)
    emb = sage_layer(
        edges,
        # null or off-width feature arrays get no embedding (and so coalesce
        # to singleton clusters below) instead of crashing the numpy reshape
        # in the kernel — ragged widths make tolist() an object array
        records.where(
            F.size(F.col(node_feat_col).cast("array<double>")) == in_dim
        ).select(
            F.col(id_col).alias("id"), F.col(node_feat_col).alias("features")
        ),
        weights["w_self"],
        weights["w_neigh"],
    )
    return _cosine_threshold_cc(records, emb, id_col, th)


def _cosine_threshold_cc(
    records: DataFrame, emb: DataFrame, id_col: str, th: float
) -> DataFrame:
    """Tail of the GCN combiners (ml.py:160-209): the threshold gets +0.02
    above 400 embedded records, then the FastRP cosine tail labels the
    clusters (:func:`fastrp.cosine_threshold_clusters`)."""
    from entity_resolution_spark.operators.fastrp import cosine_threshold_clusters

    emb = emb.persist()
    n = emb.count()
    eff_th = th + (LARGE_CLUSTER_TH_BUMP_UP if n > LARGE_CLUSTER_LIMIT else 0.0)
    out = cosine_threshold_clusters(records, emb, id_col, eff_th)
    emb.unpersist()
    return out


def gcn_hetero_resolve(
    records: DataFrame,
    feature_cols: list[str],
    node_feat_col: str,
    id_col: str = "unique_id",
    weights: dict[str, dict[str, np.ndarray]] | None = None,
    th: float = 0.5,
    rep_dim: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Reference ``GCNHeteroCombiner`` (ml.py:212-234; ``HeteroGCN``
    ml.py:46-62; ``articles_to_hetero_graph`` features/nn/common.py:111-170):
    ONE SAGEConv(mean aggregator, ReLU) per feature EDGE TYPE over that
    feature's intersection adjacency, per-type outputs combined with
    ``HeteroGraphConv(aggregate="mean")`` — an elementwise mean over the
    type outputs for every node — then the same cosine/threshold/CC tail as
    the homogeneous combiner.

    ``weights``: {feature_col: {"w_self", "w_neigh"}} (a trained HeteroGCN
    exported per-type, the S3-model analog); defaults to per-type seeded
    Glorot inits. Divergences, documented not replicated: the reference's
    empty-graph hack (a synthetic self-loop when every adjacency is empty,
    common.py:138-143) is unnecessary here — an edgeless type simply
    contributes its self-term only; and the weighted-mean vs DGL in-degree
    division note on :func:`sage_layer` applies per type.

    Scale shape: the per-type layers are independent narrow subplans over
    the SAME exploded feature frame (one posting join each, bounded by that
    feature's posting lists); the cross-type mean is one groupBy over
    (node, dim) — nodes × rep_dim × |types| rows, no pairs anywhere before
    the cosine stage.
    """
    from entity_resolution_spark.operators.adjacency import feature_intersection_edges

    first = records.agg(
        F.max(F.size(F.col(node_feat_col).cast("array<double>"))).alias("d")
    ).first()
    if first is None or first["d"] is None or first["d"] <= 0:
        return records.select(
            F.col(id_col).cast("string").alias(id_col),
            F.lit(None).cast("string").alias("cluster_id"),
        )
    in_dim = int(first["d"])

    edges_pf = feature_intersection_edges(
        records, feature_cols, id_col=id_col, per_feature=True
    ).localCheckpoint(eager=True)  # |types| consumers of one posting join
    feats = records.where(
        F.size(F.col(node_feat_col).cast("array<double>")) == in_dim
    ).select(F.col(id_col).alias("id"), F.col(node_feat_col).alias("features"))

    per_type = []
    for i, fc in enumerate(feature_cols):
        w = (
            weights[fc]
            if weights is not None
            else glorot_weights(in_dim, rep_dim, seed=seed + i)
        )
        e = edges_pf.where(F.col("feature") == fc).select(
            "id_a", "id_b", "weight"
        )
        per_type.append(
            sage_layer(
                e, feats, w["w_self"], w["w_neigh"],
                leaky_alpha=0.0,  # HeteroGCN uses plain ReLU (ml.py:55)
            )
        )
    stacked = per_type[0]
    for t in per_type[1:]:
        stacked = stacked.unionByName(t)
    mean_emb = (
        stacked.select("id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("id", "pos")
        .agg(F.avg("val").alias("val"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("_pv"))
        .select("id", F.transform("_pv", lambda s: s["val"]).alias("embedding"))
    )
    return _cosine_threshold_cc(records, mean_emb, id_col, th)
