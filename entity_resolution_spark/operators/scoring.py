"""Pairwise scoring inside blocks: feature vectors → logistic scorer → match edges.

Reference semantics being reproduced:
- TF-IDF cosine as the main signal (``am_combiner/combiners/tfidf.py:199-217``);
- auxiliary set-intersection boost joined with the cosine edge
  (``am_combiner/combiners/tfidf.py:318-353``);
- a logistic model fusing per-pair features into one probability
  (``am_combiner/combiners/ml.py:237-271`` — 2-feature logistic fusion;
  ``ml.py:274-345`` — pairwise classifier over stacked vectors);
- thresholding into an adjacency (``am_combiner/combiners/tfidf.py:243-259``) and the
  large-block threshold bump (+0.02 over 400 records, ``ml.py:27-28,160-187``).

Spark design: the candidate-pair DataFrame joins the per-record feature table twice
(shuffle on id both times — at scale, bucket the feature table by unique_id so both
probes co-locate without reshuffling); set/string features that Spark has built-ins
for (levenshtein, soundex, equality) are JVM expressions computed before the Python
boundary; the sparse-cosine/jaccard intersect and Jaro-Winkler run in ONE zero-copy
``mapInArrow`` pass (functions/arrow_kernels.py — no pandas object arrays, binary-
search intersect over pre-sorted term ids); the logistic fusion itself is a plain
SQL expression (sigmoid of a dot product), so the scorer adds zero Python overhead.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions.strings import levenshtein_sim
from entity_resolution_spark.operators.adjacency import feature_intersection_edges

# Feature columns produced by build_pair_features, in scorer order.
# soundex_stem = phonetic equality of the path stems, the code-domain analog of
# the reference's sanction alias soundex feature (features/common.py:282-298).
PAIR_FEATURES = [
    "cosine", "jaccard", "jw_stem", "lev_stem", "soundex_stem", "same_lang", "exact",
]


@dataclass(frozen=True)
class ScorerWeights:
    """Logistic coefficients over PAIR_FEATURES (fit offline on synthetic labeled
    pairs with tools/fit_scorer.py; defaults validated by the e2e F1 test)."""
    bias: float = -7.0
    weights: tuple[float, ...] = (9.0, 5.0, 1.0, 1.0, 0.5, 1.0, 20.0)
    threshold: float = 0.5
    large_block_bump: float = 0.02   # ref: +0.02 over 400 records
    large_block_size: int = 400

    def __post_init__(self):
        if len(self.weights) != len(PAIR_FEATURES):
            raise ValueError(f"weights needs one entry per PAIR_FEATURES: {self.weights}")
        if not 0 < self.threshold < 1:
            raise ValueError(f"threshold must be in (0, 1), got {self.threshold}")
        if self.large_block_size < 1:
            raise ValueError(f"large_block_size must be >= 1, got {self.large_block_size}")


def build_pair_features(
    pairs: DataFrame,
    features: DataFrame,
    vectors: DataFrame,
    persisted: list | None = None,
    block_sizes: DataFrame | None = None,
) -> DataFrame:
    """pairs(id_a, id_b, is_exact) ⋈ features ⋈ vectors → per-pair feature columns.

    ``features``: unique_id, lang, content_sha, stem (scalar cols only are joined).
    ``vectors``:  unique_id, terms, weights (terms ARE the hashed shingles, so
    cosine and jaccard both come from one batched UDF over terms/weights — the
    wide shingle arrays never enter the pair join).
    ``block_sizes``: optional (unique_id, block_n); when given, the pair-level
    ``block_n = greatest(block_n_a, block_n_b)`` rides through the scoring kernel
    so :func:`match_edges` applies the large-block bump with no extra join.
    """
    # the features⋈vectors frame probes the pair table twice (a-side and b-side);
    # persist so the join runs once (plan trees duplicate unshared subtrees)
    # sha carried as 32-byte BINARY through the pair join (vs 64-char hex
    # string): equality-only use, half the bytes in the wide shuffle
    feat = features.join(vectors.hint("shuffle_hash"), "unique_id", "left").select(
        "unique_id", "lang", F.unhex("content_sha").alias("content_sha"),
        "stem", "terms", "weights"
    )
    if block_sizes is not None:
        feat = feat.join(
            block_sizes.select("unique_id", "block_n").hint("shuffle_hash"),
            "unique_id", "left",
        )
    feat = feat.persist()
    if persisted is not None:
        persisted.append(feat)  # unpersisted at the caller's stage boundary
    a = feat.select(*[F.col(c).alias(f"{c}_a") for c in feat.columns])
    b = feat.select(*[F.col(c).alias(f"{c}_b") for c in feat.columns])
    # SHUFFLE_HASH on the feat probes: the feat rows are WIDE (two top-k
    # term/weight arrays ≈ 1 KB) — a sort-merge join Tungsten-sorts that
    # payload on both probe sides; hashing the feat partition (≈ feat_bytes /
    # n_parts per task) skips both sorts, and the narrow pairs side streams.
    p = (
        pairs.join(a.hint("shuffle_hash"), pairs["id_a"] == a["unique_id_a"])
        .join(b.hint("shuffle_hash"), pairs["id_b"] == b["unique_id_b"])
    )
    # JVM-expressible features are computed BEFORE the Python boundary and ride
    # through the Arrow batch untouched; cosine/jaccard/jw come from the one
    # zero-copy kernel pass (arrow_kernels.score_pair_batches).
    block_n = (
        F.greatest("block_n_a", "block_n_b")
        if block_sizes is not None
        else F.lit(None).cast("long")
    )
    pre = p.select(
        "id_a",
        "id_b",
        "terms_a",
        "weights_a",
        "terms_b",
        "weights_b",
        "stem_a",
        "stem_b",
        block_n.alias("block_n"),
        levenshtein_sim(F.col("stem_a"), F.col("stem_b")).alias("lev_stem"),
        (F.soundex("stem_a") == F.soundex("stem_b")).cast("double").alias("soundex_stem"),
        (F.col("lang_a") == F.col("lang_b")).cast("double").alias("same_lang"),
        # "exact" (weight 20 ≈ a forced merge) requires FULL 256-bit sha equality.
        # The sha-prefix block key (is_exact pairs) is blocking-only: a 48-bit
        # prefix collision at ~2^24 docs would otherwise silently merge distinct
        # contents; here it just costs one scored candidate pair.
        (F.col("content_sha_a") == F.col("content_sha_b")).cast("double").alias("exact"),
    )
    from entity_resolution_spark.functions.arrow_kernels import (
        PAIR_FEATURE_SCHEMA,
        score_pair_batches,
    )

    return pre.mapInArrow(score_pair_batches, PAIR_FEATURE_SCHEMA)


def logistic_score(pair_features: DataFrame, w: ScorerWeights | None = None) -> DataFrame:
    """sigmoid(bias + w·f) as a pure SQL expression → (id_a, id_b, score)."""
    w = w or ScorerWeights()
    z = F.lit(w.bias)
    for coef, name in zip(w.weights, PAIR_FEATURES):
        z = z + F.lit(coef) * F.coalesce(F.col(name), F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    extras = [c for c in ("block_n",) if c in pair_features.columns]
    return pair_features.select(
        "id_a", "id_b", *PAIR_FEATURES, *extras, score.alias("score")
    )


def feature_boost_similarities(
    sim_edges: DataFrame,
    records: DataFrame,
    feature_cols: list[str],
    max_energy: int = 75,
    id_col: str = "unique_id",
    sim_col: str = "score",
) -> DataFrame:
    """Boost pairwise similarities by clipped feature-intersection energy.

    Reference arithmetic reproduced exactly
    (``am_combiner/combiners/tfidf.py:318-353``):
    ``sim += clip(Σ_f |shared values in f|, 0, max_energy) / max_energy`` —
    golden 0.45 → 0.48 at max_energy 30 with one shared LOC value
    (``test/combiners/test_tfidf.py:18-65``).

    The reference adds the boost into a DENSE within-block matrix, so a pair
    with zero cosine but shared features still gains energy; the relational
    equivalent is a full-outer join of the (canonical id_a < id_b) similarity
    edges with the intersection edges, similarity coalesced to 0. One groupBy
    shuffle for the intersections (posting-list bounded), one pair-key join.
    """
    boosts = feature_intersection_edges(records, feature_cols, id_col=id_col)
    boost = (
        F.least(F.coalesce(F.col("weight"), F.lit(0.0)), F.lit(float(max_energy)))
        / F.lit(float(max_energy))
    )
    return (
        sim_edges.join(boosts, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            (F.coalesce(F.col(sim_col), F.lit(0.0)) + boost).alias(sim_col),
        )
    )


def match_edges(scored: DataFrame, w: ScorerWeights | None = None) -> DataFrame:
    """Threshold scored pairs into match edges, with the large-block bump.

    ``scored`` carries ``block_n``: the larger block size of the pair's two
    records (NULL = no bump), riding through the scoring kernel from
    :func:`build_pair_features`. Pairs over ``large_block_size`` need a score
    above ``threshold + large_block_bump`` (the reference's anti-
    overcombination guard for crowded names) — a pure predicate, no join.
    """
    w = w or ScorerWeights()
    big = F.coalesce(F.col("block_n"), F.lit(0)) > w.large_block_size
    th = F.lit(w.threshold) + F.when(big, F.lit(w.large_block_bump)).otherwise(F.lit(0.0))
    return scored.where(F.col("score") > th).select("id_a", "id_b", "score")
