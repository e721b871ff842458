"""Fit the logistic pair-scorer offline on synthetic labeled pairs.

The reference trains sklearn models offline and ships them via S3
(``am_combiner/utils/storage.py:35-53``); here the training set is the
deterministic synthetic corpus' labeled pairs, features are the same
PAIR_FEATURES the pipeline computes, and the model is a plain-numpy logistic
regression (no sklearn in this environment). Prints fitted weights + the
held-out F1 of fitted-vs-default weights; paste the weights into
``ScorerWeights`` if they beat the defaults.

Usage: python tools/fit_scorer.py [--entities 200] [--seed 11]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from entity_resolution_spark.operators.scoring import (  # noqa: E402
    PAIR_FEATURES,
    ScorerWeights,
    build_pair_features,
)
from entity_resolution_spark.plans.pipeline import (  # noqa: E402
    PipelineConfig,
    extract_features,
    pipeline_vectors,
    surrogate_ids,
)
from entity_resolution_spark.session import get_spark  # noqa: E402
from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes  # noqa: E402


def fit_logistic(x: np.ndarray, y: np.ndarray, lr: float = 0.5, epochs: int = 2000,
                 l2: float = 1e-3) -> tuple[float, np.ndarray]:
    """Batch gradient descent with L2; features are already ~[0,1]-scaled."""
    n, d = x.shape
    w = np.zeros(d)
    b = 0.0
    for _ in range(epochs):
        z = x @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (x.T @ g / n + l2 * w)
        b -= lr * g.mean()
    return b, w


def f1_at(b: float, w: np.ndarray, x: np.ndarray, y: np.ndarray, th: float = 0.5) -> float:
    p = 1.0 / (1.0 + np.exp(-(x @ w + b))) > th
    tp = int(((p == 1) & (y == 1)).sum())
    fp = int(((p == 1) & (y == 0)).sum())
    fn = int(((p == 0) & (y == 1)).sum())
    if tp == 0:
        return 0.0
    prec, rec = tp / (tp + fp), tp / (tp + fn)
    return 2 * prec * rec / (prec + rec)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=200)
    ap.add_argument("--seed", type=int, default=11)
    args = ap.parse_args()

    spark = get_spark("fit-scorer")
    rf, gt, lp = corpus_dataframes(spark, SynthConfig(seed=args.seed, n_entities=args.entities))
    cfg = PipelineConfig()
    feats = surrogate_ids(extract_features(rf, cfg)).persist()
    vec = pipeline_vectors(feats)

    # train on ALL labeled pairs (the exhaustive within-block pairs include the
    # cross-entity negatives that blocking correctly never co-blocks), keyed by
    # the same surrogate ids as the features
    labels = lp.select(
        F.xxhash64("unique_id_a").alias("id_a"),
        F.xxhash64("unique_id_b").alias("id_b"),
        F.col("label").cast("int").alias("y"),
    )
    pf = build_pair_features(
        labels.select("id_a", "id_b", F.lit(False).alias("is_exact")), feats, vec
    )
    data = pf.join(labels, ["id_a", "id_b"]).select(*PAIR_FEATURES, "y").collect()
    x = np.array([[r[c] or 0.0 for c in PAIR_FEATURES] for r in data])
    y = np.array([r["y"] for r in data], dtype=float)
    print(f"training pairs: {len(y)} ({int(y.sum())} positive)")

    rng = np.random.default_rng(0)
    idx = rng.permutation(len(y))
    cut = int(len(y) * 0.7)
    tr, te = idx[:cut], idx[cut:]
    b, w = fit_logistic(x[tr], y[tr])
    d = ScorerWeights()
    print("fitted bias", round(b, 3), "weights", dict(zip(PAIR_FEATURES, np.round(w, 3))))
    print("fitted  F1(holdout):", round(f1_at(b, w, x[te], y[te]), 4))
    print("default F1(holdout):", round(f1_at(d.bias, np.array(d.weights), x[te], y[te]), 4))
    return 0


if __name__ == "__main__":
    sys.exit(main())
