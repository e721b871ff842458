"""Per-block spectral (Laplacian eigenmap) clustering — reference
``TFIDFAndGraphCosineSimilarityCombiner`` / ``utils/spectral.py``.

Reference: ``am_combiner/utils/spectral.py``:
- ``get_graph_eign`` (14-52): bipartite record↔feature-value graph (every record
  also linked to its block name, spectral.py:36), feature nodes used by only ONE
  record pruned, then Laplacian eigendecomposition sorted by eigenvalue;
- ``get_node_eign_vector`` (55-91): eigenvectors 1..4 (the Fiedler block) are the
  per-node embedding; record rows selected out;
- ``get_graph_clusters`` (93-113): all-pairs cosine of record embeddings,
  threshold, connected components.

Spark form: the eigendecomposition is per-block by contract (the reference runs
it inside one blocked name), so the operator is ``applyInPandas`` over the
blocking key with a vectorized numpy kernel per block — blocks are small
(capped upstream); 100 TB scale lives in the NUMBER of blocks, which Spark
distributes. Inside a block the kernel is exact: build the pruned bipartite
adjacency, ``np.linalg.eigh`` on the (symmetric) Laplacian — eigh is
deterministic and returns ascending eigenvalues, matching the reference's
``eig`` + argsort up to eigenvector sign, and cosine similarity is invariant to
per-eigenvector global sign flips (each coordinate flips for BOTH records, so
u·v and the norms are unchanged). Node order is fixed (records sorted by id,
then feature values sorted) so the labeling is partition- and
arrival-order-invariant, unlike the reference's nx insertion order — the
deterministic re-expression of a survey-excluded combiner.

sklearn/networkx are not available here; the kernel is ~50 lines of numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def spectral_labels_block(
    ids: list[str],
    feature_sets: list[list[str]],
    block_name: str,
    th: float = 0.5,
    vec_start: int = 1,
    vec_end: int = 4,
) -> np.ndarray:
    """Reference-exact spectral labels for one block (numpy kernel).

    Returns an int label per record (local to the block).
    """
    order = np.argsort(np.asarray(ids, dtype=object), kind="mergesort")
    ids = [ids[i] for i in order]
    feature_sets = [feature_sets[i] for i in order]
    n = len(ids)
    if n == 1:
        return np.zeros(1, dtype=np.int64)[np.argsort(order, kind="mergesort")]

    # feature usage across the block; degree-1 feature nodes pruned
    # (spectral.py:39-42 removes features used by a single record — they carry
    # no co-reference signal and only pad the Laplacian)
    usage: dict[str, int] = {}
    for fs in feature_sets:
        for v in set(fs):
            usage[v] = usage.get(v, 0) + 1
    kept = sorted(v for v, c in usage.items() if c > 1)
    # every record additionally links to the block-name node (spectral.py:36),
    # which keeps the graph connected exactly like the reference
    nodes = ids + kept + [block_name]
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    a = np.zeros((m, m), dtype=np.float64)
    for ri, fs in enumerate(feature_sets):
        for v in set(fs):
            if v in idx and v not in (ids[ri],):
                a[ri, idx[v]] = a[idx[v], ri] = 1.0
        a[ri, idx[block_name]] = a[idx[block_name], ri] = 1.0
    lap = np.diag(a.sum(axis=1)) - a
    _, vecs = np.linalg.eigh(lap)
    emb = vecs[:n, vec_start:vec_end]

    norms = np.linalg.norm(emb, axis=1)
    norms[norms == 0] = 1.0
    sim = (emb / norms[:, None]) @ (emb / norms[:, None]).T
    adj = sim > th

    # connected components over the thresholded similarity (union-find)
    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if adj[i, j]:
                ri_, rj_ = find(i), find(j)
                if ri_ != rj_:
                    parent[max(ri_, rj_)] = min(ri_, rj_)
    labels_sorted = np.array([find(i) for i in range(n)], dtype=np.int64)
    # undo the id sort so labels align with the caller's row order
    out = np.empty(n, dtype=np.int64)
    out[order] = labels_sorted
    return out


def spectral_cluster_blocks_gated(
    records: DataFrame,
    feature_cols: list[str],
    block_col: str = "blocking_key",
    id_col: str = "unique_id",
    th: float = 0.5,
    ftr_th: float = 1.0,
    graph_node_th: int = 5,
    vec_start: int = 1,
    vec_end: int = 4,
) -> DataFrame:
    """The reference ``TFIDFFeatrGraphCosineSimilarityCombiner``'s
    ``graph_node_th`` gate (``am_combiner/combiners/tfidf.py:424-577``):
    feature-intersection adjacency thresholded at ``ftr_th`` → connected
    subgraphs; ONLY subgraphs with ≥ ``graph_node_th`` records run the
    Laplacian eigendecomposition — smaller subgraphs bypass eig entirely and
    keep their component label, exactly the reference's
    ``if len(graph) >= self.graph_node_th`` loop.

    Spark form (the distributed re-expression): the subgraphs come from the
    DISTRIBUTED CC operator over block-scoped intersection edges — no
    driver-side graph — and the eig kernel runs per (block, big-subgraph)
    via ``applyInPandas``, so 100 TB scale lives in the number of subgraphs
    while each eig stays the reference's small dense problem. Output:
    (unique_id, block, cluster_id) with the engine's min-id labeling; small
    subgraphs emit their component id unchanged.
    """
    from entity_resolution_spark.operators.adjacency import (
        feature_intersection_edges,
    )
    from entity_resolution_spark.operators.components import label_components

    base = records.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(block_col).cast("string").alias("_blk"),
        F.flatten(
            F.array(
                *[
                    F.coalesce(F.col(c).cast("array<string>"), F.array())
                    for c in feature_cols
                ]
            )
        ).alias("_feats"),
    ).localCheckpoint(eager=True)  # feeds edges + two consumers below

    edges = feature_intersection_edges(
        base.select(
            F.col("_id").alias(id_col), F.col("_blk").alias(block_col), "_feats"
        ),
        ["_feats"],
        id_col=id_col,
        block_col=block_col,
    ).where(F.col("weight") >= ftr_th)
    labeled = label_components(base, edges, "_id", "id_a", "id_b", out_col="_comp")
    sizes = labeled.groupBy("_blk", "_comp").agg(F.count("*").alias("_n"))
    labeled = labeled.join(sizes, ["_blk", "_comp"]).localCheckpoint(eager=True)

    small = labeled.where(F.col("_n") < graph_node_th).select(
        F.col("_id").alias("unique_id"),
        F.col("_blk").alias(block_col),
        F.col("_comp").alias("cluster_id"),
    )

    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField(block_col, T.StringType()),
            T.StructField("cluster_id", T.StringType()),
        ]
    )

    def fit(key, pdf):
        ids = pdf["_id"].tolist()
        feats = [
            [str(v).lower().strip() for v in row if v is not None]
            for row in pdf["_feats"].tolist()
        ]
        labels_ = spectral_labels_block(
            ids, feats, str(key[0]), th=th, vec_start=vec_start, vec_end=vec_end
        )
        rep = pd.Series(ids).groupby(labels_).transform("min")
        return pd.DataFrame(
            {"unique_id": ids, block_col: key[0], "cluster_id": rep}
        )

    big = (
        labeled.where(F.col("_n") >= graph_node_th)
        .groupBy("_blk", "_comp")
        .applyInPandas(fit, out_schema)
    )
    return small.unionByName(big)


def spectral_cluster_blocks(
    records: DataFrame,
    feature_cols: list[str],
    block_col: str = "blocking_key",
    id_col: str = "unique_id",
    th: float = 0.5,
    vec_start: int = 1,
    vec_end: int = 4,
) -> DataFrame:
    """(id, block, feature arrays) → (unique_id, block, cluster_id).

    ``cluster_id`` = min record id of each in-block spectral component (the
    engine's stable labeling convention).
    """
    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField(block_col, T.StringType()),
            T.StructField("cluster_id", T.StringType()),
        ]
    )

    def fit(key, pdf):
        ids = pdf["_id"].tolist()
        feats = [
            [str(v).lower().strip() for v in row if v is not None]
            for row in pdf["_feats"].tolist()
        ]
        labels = spectral_labels_block(
            ids, feats, str(key[0]), th=th, vec_start=vec_start, vec_end=vec_end
        )
        rep = pd.Series(ids).groupby(labels).transform("min")
        return pd.DataFrame({"unique_id": ids, block_col: key[0], "cluster_id": rep})

    feat_concat = F.flatten(
        F.array(*[F.coalesce(F.col(c).cast("array<string>"), F.array()) for c in feature_cols])
    )
    base = records.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(block_col).cast("string").alias("_blk"),
        feat_concat.alias("_feats"),
    )
    return base.groupBy("_blk").applyInPandas(fit, out_schema)
