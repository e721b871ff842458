"""Per-block k-means + silhouette sweep (reference ``TFIDFKMeansCombiner``).

Reference: ``am_combiner/combiners/tfidf.py:20-78`` — per blocked name:
- ≤ 3 records → every record its own cluster (``[0, 1, 2][:n]``, tfidf.py:52);
- else sweep ``k = 2 .. n-1``, fit MiniBatchKMeans(random_state=20), score with
  euclidean silhouette, keep the best-silhouette labeling; if every silhouette
  is ≤ 0, keep the LAST sweep's labels (tfidf.py:58-72).

Spark form: the combiner is a per-block algorithm by contract (the reference
fits one model per entity name), so it maps onto ``applyInPandas`` over the
blocking key — each block is small (post-blocking, capped upstream), while the
NUMBER of blocks is what grows at 100 TB; Spark parallelizes across blocks and
the in-block solver is vectorized numpy. Two deliberate divergences from the
reference, both required for engine determinism (the survey excluded this
combiner as tie-dependent; this is the deterministic re-expression):

- full-batch Lloyd with seeded k-means++ init (``RandomState(20)``) instead of
  MiniBatchKMeans — no minibatch sampling order dependence;
- block rows are sorted by record id before fitting, so labels are invariant
  to partitioning and arrival order (verified by the determinism test).

sklearn/scipy are not available in this environment; the solver and silhouette
are ~40 lines of numpy, exact for the small-block regime.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _kmeans_pp_init(x: np.ndarray, k: int, rng: np.random.RandomState) -> np.ndarray:
    """Seeded k-means++: D²-weighted center choice (deterministic given rng)."""
    n = x.shape[0]
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.randint(n)]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0.0:
            centers[j:] = x[rng.randint(n, size=k - j)]
            break
        probs = d2 / total
        centers[j] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    return centers


def _lloyd(x: np.ndarray, k: int, rng: np.random.RandomState, max_iter: int = 50):
    centers = _kmeans_pp_init(x, k, rng)
    labels = np.zeros(len(x), dtype=np.int64)
    for _ in range(max_iter):
        # pairwise squared distances via the expansion trick (no scipy)
        d2 = (
            (x**2).sum(axis=1)[:, None]
            - 2.0 * x @ centers.T
            + (centers**2).sum(axis=1)[None, :]
        )
        new_labels = d2.argmin(axis=1)
        if (new_labels == labels).all() and _ > 0:
            break
        labels = new_labels
        for j in range(k):
            mask = labels == j
            if mask.any():
                centers[j] = x[mask].mean(axis=0)
    return labels


def _silhouette(x: np.ndarray, labels: np.ndarray) -> float:
    """Mean euclidean silhouette (sklearn semantics: clusters of size 1 → s=0)."""
    n = len(x)
    uniq = np.unique(labels)
    if len(uniq) < 2 or len(uniq) >= n:
        return 0.0
    d = np.sqrt(
        np.maximum(
            (x**2).sum(axis=1)[:, None] - 2.0 * x @ x.T + (x**2).sum(axis=1)[None, :],
            0.0,
        )
    )
    s = np.zeros(n)
    for i in range(n):
        same = labels == labels[i]
        n_same = same.sum()
        if n_same <= 1:
            s[i] = 0.0
            continue
        a = d[i, same].sum() / (n_same - 1)
        b = min(d[i, labels == c].mean() for c in uniq if c != labels[i])
        s[i] = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
    return float(s.mean())


def kmeans_silhouette_labels(x: np.ndarray, seed: int = 20, max_k: int | None = None):
    """The reference's sweep (tfidf.py:50-72) on one block's dense matrix."""
    n = len(x)
    if n <= 3:
        return np.arange(n, dtype=np.int64)
    hi = n if max_k is None else min(n, max_k + 1)
    best, best_sil, labels = None, 0.0, None
    for k in range(2, hi):
        rng = np.random.RandomState(seed)
        labels = _lloyd(x, k, rng)
        sil = _silhouette(x, labels)
        if sil > best_sil:
            best_sil, best = sil, labels
    return best if best is not None else labels


def cluster_blocks_with_algo(
    records: DataFrame,
    vec_col: str,
    algorithm,
    block_col: str = "blocking_key",
    id_col: str = "unique_id",
) -> DataFrame:
    """Pluggable per-block clustering (reference
    ``TFIDFCombinerWithClusteringAlgo``, tfidf.py:119-163: any
    ``fit_predict``-style algorithm over the block's dense vectors).

    ``algorithm``: callable ``(np.ndarray) -> array of int labels`` — evaluated
    inside the Arrow worker per block, rows pre-sorted by record id so any
    deterministic algorithm yields partition-invariant labels. ``cluster_id``
    is the min record id per label (engine convention).
    """
    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField(block_col, T.StringType()),
            T.StructField("cluster_id", T.StringType()),
        ]
    )

    def fit(key, pdf):
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        x = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)
        labels = np.asarray(algorithm(x))
        ids = pdf["_id"].to_numpy()
        rep = pd.Series(ids).groupby(labels).transform("min")
        return pd.DataFrame({"unique_id": ids, block_col: key[0], "cluster_id": rep})

    base = records.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(block_col).cast("string").alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )
    return base.groupBy("_blk").applyInPandas(fit, out_schema)


def kmeans_cluster_blocks(
    records: DataFrame,
    vec_col: str,
    block_col: str = "blocking_key",
    id_col: str = "unique_id",
    seed: int = 20,
    max_k: int | None = 12,
) -> DataFrame:
    """(id, block, dense vector) → (id, block, cluster_id).

    ``cluster_id`` is globally unique: the min record id of each in-block
    cluster (the same labeling convention as connected components — stable,
    partition-invariant). ``max_k`` bounds the silhouette sweep: the reference
    sweeps to n-1, O(n)-many fits; at 100 TB block sizes are capped upstream
    but an O(n²·k) sweep per block still wants a ceiling (12 covers the
    reference's regime; pass None for exact reference behavior).
    """
    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField(block_col, T.StringType()),
            T.StructField("cluster_id", T.StringType()),
        ]
    )

    def fit(key, pdf):
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        x = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)
        labels = kmeans_silhouette_labels(x, seed=seed, max_k=max_k)
        ids = pdf["_id"].to_numpy()
        rep = pd.Series(ids).groupby(labels).transform("min")
        return pd.DataFrame(
            {"unique_id": ids, block_col: key[0], "cluster_id": rep}
        )

    base = records.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(block_col).cast("string").alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )
    return base.groupBy("_blk").applyInPandas(fit, out_schema)
