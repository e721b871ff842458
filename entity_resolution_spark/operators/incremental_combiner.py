"""Incremental (online) clustering combiners — reference
``PairwiseIncrementalCombiner`` / ``CentroidIncrementalCombiner``.

Reference: ``am_combiner/combiners/incremental_clustering.py`` — walk the
records one by one; each record joins the existing cluster with the highest
cosine similarity if it reaches the threshold, else founds a new cluster:
- pairwise variant (112-161): similarity to a cluster = max cosine over ALL its
  member points; strictly-greater comparison, so the EARLIEST-created cluster
  wins ties;
- centroid variant (163-210): similarity to a cluster = cosine to its running
  mean centroid (updated after every insertion, 23-27).

The survey excluded these as order-dependent: the reference's labels depend on
the arrival order of ``input_entities``. The deterministic re-expression fixes
the scan order to an explicit ``order_col`` (ingest timestamp, falling back to
the record id) — the labels are then a pure function of the data, and the
operator doubles as the batch replay of the streaming matcher
(``streaming/incremental.py`` handles the true online case).

Spark form: sequential-scan clustering is inherently per-block (the reference
runs it inside one blocked name); ``applyInPandas`` over the blocking key with
a vectorized numpy scan per block — similarity of the new point against all
existing points/centroids is one matmul per step, O(n²·d) per block, the same
arithmetic the reference spends through sklearn one pair at a time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def incremental_labels(
    x: np.ndarray, threshold: float, strategy: str = "pairwise"
) -> np.ndarray:
    """Scan rows in the given order; return a cluster index per row.

    ``strategy``: "pairwise" (max cosine to any member) or "centroid" (cosine
    to the running-mean centroid). Ties: strictly-greater comparison keeps the
    earliest cluster — exactly the reference loops (incremental_clustering.py:
    148-160, 203-210).
    """
    n, d = x.shape
    norms = np.linalg.norm(x, axis=1)
    safe = np.where(norms == 0, 1.0, norms)
    labels = np.full(n, -1, dtype=np.int64)
    n_clusters = 0
    if strategy == "pairwise":
        sims_ok = x / safe[:, None]
        for i in range(n):
            if n_clusters:
                s = sims_ok[:i] @ sims_ok[i]  # cosine to every earlier point
                # per-cluster max, then FIRST max across clusters in creation
                # order — the reference's outer loop iterates clusters in
                # creation order with a strictly-greater compare, so ties go
                # to the earliest CLUSTER (not the earliest scanned point)
                cmax = np.full(n_clusters, -np.inf)
                np.maximum.at(cmax, labels[:i], s)
                best_c = int(np.argmax(cmax))
                best = cmax[best_c]
                # strictly > 0 required: the reference starts at 0.0 with no
                # cluster selected (incremental_clustering.py:149-150)
                if best > 0.0 and best >= threshold:
                    labels[i] = best_c
                    continue
            labels[i] = n_clusters
            n_clusters += 1
    elif strategy == "centroid":
        centroids = np.zeros((0, d))
        counts = np.zeros(0, dtype=np.int64)
        for i in range(n):
            if n_clusters:
                cn = np.linalg.norm(centroids, axis=1)
                cn = np.where(cn == 0, 1.0, cn)
                s = (centroids @ x[i]) / (cn * safe[i])
                best_c = int(np.argmax(s))  # first max = earliest cluster
                best = s[best_c]
                if best > 0.0 and best >= threshold:
                    labels[i] = best_c
                    centroids[best_c] = (centroids[best_c] * counts[best_c] + x[i]) / (
                        counts[best_c] + 1
                    )
                    counts[best_c] += 1
                    continue
            labels[i] = n_clusters
            centroids = np.vstack([centroids, x[i][None, :]])
            counts = np.append(counts, 1)
            n_clusters += 1
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return labels


def incremental_cluster_blocks(
    records: DataFrame,
    vec_col: str,
    block_col: str = "blocking_key",
    id_col: str = "unique_id",
    order_col: str | None = None,
    threshold: float = 0.5,
    strategy: str = "pairwise",
) -> DataFrame:
    """(id, block, dense vector[, order]) → (unique_id, block, cluster_id).

    ``order_col`` fixes the scan order (ingest time); defaults to the record id.
    ``cluster_id`` = id of the founding record of each cluster — stable,
    globally unique, and identical at any partitioning.
    """
    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField(block_col, T.StringType()),
            T.StructField("cluster_id", T.StringType()),
        ]
    )

    def fit(key, pdf):
        pdf = pdf.sort_values(["_ord", "_id"], kind="mergesort").reset_index(drop=True)
        x = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)
        labels = incremental_labels(x, threshold, strategy)
        ids = pdf["_id"].to_numpy()
        founders = {}
        for i, lab in enumerate(labels):
            founders.setdefault(int(lab), ids[i])
        return pd.DataFrame(
            {
                "unique_id": ids,
                block_col: key[0],
                "cluster_id": [founders[int(lab)] for lab in labels],
            }
        )

    # order_col keeps its NATIVE type: a numeric ingest sequence cast to
    # string would scan "1000" before "999" (lexicographic), silently
    # re-ordering the walk; pandas sorts longs/timestamps natively
    ord_expr = F.col(order_col) if order_col else F.col(id_col).cast("string")
    base = records.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(block_col).cast("string").alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
        ord_expr.alias("_ord"),
    )
    return base.groupBy("_blk").applyInPandas(fit, out_schema)
