"""The end-to-end entity-resolution pipeline.

Stage DAG (each stage materialized — into a CheckpointStore or as a local
checkpoint — mirrors the reference's
load → extract → block → combine → store flow, ``README.md:113-122``):

  repo_files ──► features ──► block assignments ──► candidate pairs
        │            │                                  │
        │            └── tfidf vectors ─────────────────┤
        │                                               ▼
        │                                     pair features → scores
        │                                               ▼
        │                                    match edges (threshold, splitter)
        │                                               ▼
        └────────────────────────────► clusters (connected components)

Every record keeps ``content_sha`` from the first stage; the final output re-joins
it so the sha256 integrity invariant is auditable end-to-end (BASELINE.md).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions import text as TX
from entity_resolution_spark.functions.hashing import content_sha, unique_id
from entity_resolution_spark.functions.vectors import tfidf_vectors
from entity_resolution_spark.operators.blocking import BlockingConfig, block_assignments
from entity_resolution_spark.operators.components import connected_components
from entity_resolution_spark.operators.pairs import candidate_pairs, drop_sha_covered_pairs
from entity_resolution_spark.operators.scoring import (
    ScorerWeights,
    build_pair_features,
    logistic_score,
    match_edges,
)
from entity_resolution_spark.plans.checkpoint import CheckpointStore


# min_df=2 prunes hapax shingles from the TF-IDF vectors. df=1 terms appear
# in exactly one document, so they contribute 0 to every pair dot product —
# pruning is lossless for the cosine numerator and only shrinks norms/unions,
# i.e. scores can only rise. It is also the big payload lever: the pair join
# ships these arrays, and the hapax tail is the bulk of the vocabulary
# (reference analog: TfidfVectorizer min_df=5, am_combiner/dataloop.py:33-36).
MIN_DF = 2
# Hard cap on TF-IDF vector width (top-k by weight, renormalized). The pair
# join ships terms/weights arrays through the shuffle TWICE — unbounded
# vectors made match_edges shuffle-payload-bound (flat 4→16 cores, BENCH
# round 1). 128 is the largest sweep value holding the e2e F1 gate at 1.0
# (sweep None/256/128 → 1.0, 64 → 0.9927, 32 → 0.9468; tools/debug_recall.py).
TFIDF_TOP_K = 128


@dataclass
class PipelineConfig:
    shingle_k: int = 5
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scorer: ScorerWeights = field(default_factory=ScorerWeights)

    def __post_init__(self):
        if self.shingle_k < 1:
            raise ValueError(f"shingle_k must be >= 1, got {self.shingle_k}")


def extract_features(
    repo_files: DataFrame, cfg: PipelineConfig, keep: list[str] | None = None
) -> DataFrame:
    """The visitor stage: derive ids + typed feature columns, never touching content.

    (Reference: visitors mutate Article objects in place,
    ``am_combiner/features/frontend.py:24-43``; here each feature is a column and
    ``content`` itself is only read, never rewritten — the sha256 invariant.)
    """
    # The tokenize → shingle → fingerprint loop is the hot visitor. A pure-JVM
    # higher-order-function version (per-window slice/xxhash64 lambdas)
    # evaluates interpreted lambdas per token element and measured FLAT across
    # cores inside one local-mode JVM (~60s on 175k files at 4 AND 16 cores —
    # PLANS.md round-2 audit). The Arrow kernel
    # (functions.fast_text.code_features: C-speed crc32 + vectorized numpy
    # polynomial window hashes in separate Python worker processes) computes the
    # same three columns scalably; shingles are stored HASHED (array<long>):
    # 4-6× less shuffle width than raw strings, long-compare intersects, and
    # minhash / TF-IDF downstream operate on the hashes directly.
    from entity_resolution_spark.functions.fast_text import code_features

    with_cf = repo_files.select(
        unique_id().alias("unique_id"),
        "repo",
        "path",
        "commit",
        "lang",
        content_sha().alias("content_sha"),
        TX.path_stem("path").alias("stem"),
        TX.path_tokens("path").alias("path_toks"),
        code_features(F.col("content"), cfg.shingle_k).alias("_cf"),
        *[F.col(c) for c in (keep or [])],
    )
    return with_cf.select(
        *[F.col(c) for c in (keep or [])],
        "unique_id",
        "repo",
        "path",
        "commit",
        "lang",
        "content_sha",
        "stem",
        "path_toks",
        F.col("_cf.shingles").alias("shingles"),
        F.col("_cf.fingerprints").alias("fingerprints"),
        F.col("_cf.minhash").alias("minhash"),
        F.col("_cf.n_tokens").alias("n_tokens"),
    )


def pipeline_vectors(features: DataFrame, persisted: list | None = None) -> DataFrame:
    """The TF-IDF vectors :func:`resolve` scores with, from
    :func:`extract_features` output: ``MIN_DF`` vocabulary pruning, top
    ``TFIDF_TOP_K`` terms per doc. The Arrow tokenizer ``np.unique``'s each
    shingle array (fast_text.py:82), so tf≡1: skip the tf shuffle and keep
    rows doc-clustered so the vector assembly agg scales with cores."""
    return tfidf_vectors(
        features, "unique_id", "shingles", MIN_DF,
        top_k=TFIDF_TOP_K, persisted=persisted, terms_distinct=True,
    )


def bump_block_sizes(assignments: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    """Per-record ``block_n`` for the large-block threshold bump (reference's
    +0.02-over-400 anti-overcombination guard) — sized only as far as blocks
    can actually exceed ``large_block_size``:

    - capped families are bounded by ``block_cap``, so when
      ``large_block_size >= block_cap`` they can never trigger the bump and
      the full-volume sizing pass over the assignment fan-out is skipped;
    - exact (sha) blocks are NEVER capped (their pairs are stars), so they can
      exceed the trigger under ANY geometry: size just those (one assignment
      row per record) and keep only the over-threshold families — on real
      corpora this frame is empty-or-tiny (a single content sha with more
      than ``large_block_size`` byte-identical copies), so the downstream
      feat join builds against a broadcast-sized side. A 500-copy boilerplate
      family therefore still bumps its members' MIXED pairs against
      near-variant files, which the geometry shortcut alone would miss.
    """
    if cfg.scorer.large_block_size < cfg.blocking.block_cap:
        return (
            assignments.groupBy("block_key")
            .agg(F.count("*").alias("_n"))
            .hint("shuffle_hash")   # build on the aggregated (1 row/key) side;
            .join(assignments, "block_key")  # nothing sorts the exploded side
            .groupBy("unique_id")
            .agg(F.max("_n").alias("block_n"))
        )
    ex = assignments.where(F.col("is_exact")).select("unique_id", "block_key")
    big = (
        ex.groupBy("block_key")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > cfg.scorer.large_block_size)
    )
    return (
        ex.join(F.broadcast(big), "block_key")
        .groupBy("unique_id")
        .agg(F.max("_n").alias("block_n"))
    )


def surrogate_ids(features: DataFrame) -> DataFrame:
    """Features keyed by the int64 surrogate ``xxhash64(unique_id)``; the
    sha-hex id moves to ``unique_id_str``. The pair kernel declares
    ``id_a long, id_b long``, so every ``build_pair_features`` caller needs it.

    Id narrowing: the 64-BYTE sha-hex id rides in every shuffle key and sort
    of the middle stages (blocking, pair join, edges, CC); the 8-byte
    surrogate gives integer compares in the sort-merge joins (measured 27%
    faster pair join), and the cluster stage maps back to the string id.
    Collision risk n²/2^65 — at 10^12 records switch to a 128-bit pair
    (connected components is type-agnostic, so that is a one-line change here).
    """
    return features.withColumn("unique_id_str", F.col("unique_id")).withColumn(
        "unique_id", F.xxhash64("unique_id")
    )


def resolve(
    spark,
    repo_files: DataFrame,
    cfg: PipelineConfig | None = None,
    store: CheckpointStore | None = None,
    timings: dict | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every stage DataFrame keyed by stage name.

    Every stage comes back materialized, with no cache for the caller to
    free. With a ``CheckpointStore``, each stage is written (Iceberg-style)
    and re-read, and a re-run after a crash resumes from the last completed
    stage — the reference's cache-resume pattern generalized. Resume does not
    check the input or config: the signature is a constant, so a store
    written for another corpus or ``PipelineConfig`` is reused as is. Without
    a store, each stage is a local checkpoint (reclaimed by the
    ContextCleaner). ``timings`` gets each stage's real cost in both modes.
    """
    cfg = cfg or PipelineConfig()
    sig = "v3"  # bumped when pipeline logic changes; a content hash at production scale

    def stage(name: str, compute):
        # compute() appends what its operators cache to `caches`; all of it is
        # unpersisted once the output is materialized (or the stage fails)
        t0 = time.monotonic()
        caches: list = []
        try:
            if store is not None:
                out = store.get_or_compute(
                    name, lambda: compute(caches), input_signature=sig
                )
            else:
                out = compute(caches).localCheckpoint(eager=True)
        finally:
            for df in caches:
                df.unpersist()
        if timings is not None:
            timings[name] = round(time.monotonic() - t0, 2)
        return out

    features = stage("features", lambda _: extract_features(repo_files, cfg))
    fi = surrogate_ids(features)
    vectors = stage("vectors", lambda caches: pipeline_vectors(fi, caches))
    assignments = stage(
        "assignments", lambda caches: block_assignments(fi, cfg.blocking, persisted=caches)
    )
    # Drop candidate pairs whose two sides are byte-identical duplicates —
    # the exact family's star already carries their connectivity, so the wide
    # vector probe + scorer pass over them is pure redundancy. The dup map
    # costs one narrow groupBy and is sized by the actual duplicate
    # population (empty ⇒ the filter joins are no-ops), so duplicate-free
    # corpora pay ~nothing and a boilerplate-heavy web corpus saves O(n·cap)
    # wide rows per n-copy family.
    pairs = stage(
        "candidate_pairs",
        lambda _: drop_sha_covered_pairs(candidate_pairs(assignments), fi),
    )

    def compute_edges(caches: list):
        block_sizes = bump_block_sizes(assignments, cfg)
        # block_n joins into the per-record feat frame and rides through the
        # scoring kernel; the splitter is a predicate on pair features already
        # computed (same_lang/exact) — the old post-scoring joins re-derived
        # both from fi at the cost of two broadcast builds per run
        pf = build_pair_features(
            pairs, fi, vectors, persisted=caches, block_sizes=block_sizes
        )
        # negative-evidence splitter (the reference's
        # DeleteNegativeEdgesSplitter, am_combiner/splitters/common.py:181-216):
        # deleting an edge before CC equals subtract-then-recluster. lang must
        # agree unless content is byte-identical; null lang on either side splits
        scored = logistic_score(pf, cfg.scorer).where(
            (F.col("same_lang") == 1.0) | (F.col("exact") == 1.0)
        )
        return match_edges(scored, cfg.scorer)

    edges = stage("match_edges", compute_edges)

    def compute_clusters(caches: list):
        # connected_components, not label_components: the label joins below
        # are broadcast- or shuffle-hash-hinted by the label count, and the
        # representative is the min STRING id, not the min surrogate
        labels = connected_components(
            edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        ).persist()
        caches.append(labels)
        # The labeling joins probe with rows carrying the 64-char string id +
        # sha; shuffling those across cores is the one clusters-stage cost
        # that GROWS with core count (sliver partitions of a small frame).
        # labels has one row per matched record — when it is broadcast-sized
        # (it is, whenever CC took the small-graph union-find path), both
        # joins become map-side and the stage stops anti-scaling. Larger label
        # sets (true cluster scale) hash-build instead: the probe side
        # streams, nothing sorts. The count is cheap: CC returns a
        # materialized frame on the small path, and the loop path's output
        # is one narrow agg over a checkpointed edge set.
        # ~1M (long,long) label rows ≈ 50-60 MB as a broadcast relation (and
        # reps carry 64-char strings) — stay inside the session's 64 MB
        # threshold so the fast path cannot OOM the driver; bigger label sets
        # take the shuffle-hash path one row below
        broadcastable = labels.count() <= 1_000_000
        hinted = F.broadcast(labels) if broadcastable else labels.hint("shuffle_hash")
        all_ids = fi.select("unique_id", "unique_id_str", "lang", "content_sha")
        comp = all_ids.join(hinted, all_ids["unique_id"] == labels["id"], "left").select(
            "unique_id_str",
            "lang",
            "content_sha",
            F.coalesce(F.col("component"), F.col("unique_id")).alias("_comp"),
        )
        # cluster representative stays the MIN STRING id of the component (the
        # public min-member contract, independent of the int64 surrogates)
        reps = comp.groupBy("_comp").agg(F.min("unique_id_str").alias("cluster_rep"))
        reps = F.broadcast(reps) if broadcastable else reps.hint("shuffle_hash")
        return comp.join(reps, "_comp").select(
            F.col("unique_id_str").alias("unique_id"),
            "lang",
            "content_sha",
            "cluster_rep",
            F.xxhash64("cluster_rep").alias("cluster_id"),
        )

    clusters = stage("clusters", compute_clusters)
    return {
        "features": features,
        "vectors": vectors,
        "assignments": assignments,
        "pairs": pairs,
        "edges": edges,
        "clusters": clusters,
    }


def audit_content_sha(repo_files: DataFrame, clusters: DataFrame) -> int:
    """The per-row integrity check: every input row's sha256(content) must appear
    unchanged on its output row. Returns the number of violations (0 == pass)."""
    expected = repo_files.select(
        unique_id().alias("unique_id"), content_sha().alias("expected_sha")
    )
    joined = expected.join(clusters, "unique_id", "full")
    return joined.where(
        F.col("expected_sha").isNull()
        | F.col("content_sha").isNull()
        | (F.col("expected_sha") != F.col("content_sha"))
    ).count()
