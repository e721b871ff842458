"""Multi-pass blocking: exact keys + MinHash-LSH bands, with block-size caps and salting.

Reference semantics being reproduced (not ported):

- multi-pass blocking over several key families, harvesting blocks per pass
  (``am_combiner/blockers/common.py:100-201`` — FeatureBasedNameBlockerWithCutoff);
- oversized-block splitting by a secondary/salt key
  (``am_combiner/blockers/country.py:19-126`` — CountryBlocker splits blocks over
  ``min_split_size`` by country code);
- inverted-index candidate generation instead of N² comparison
  (``am_combiner/utils/adjacency.py:15-70``).

The Spark expression of "a block" is a row ``(unique_id, block_key)``; a record may
carry several keys (one per pass/family) and the union of per-key pair sets is the
candidate set. All keys carry the ``lang`` component so cross-language pairs are never
generated (the reference never crosses blocking_field boundaries either).

Scale notes (100 TB): every key family below is a map-side projection + one groupBy;
LSH banding bounds the candidate count; block caps bound the per-block self-join at
``cap²``; salting keeps any single shuffle partition bounded even under pathological
keys (license boilerplate, empty files). AQE skew-join is on as a second line of
defense.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_resolution_spark.functions.fast_text import N_MINHASH
from entity_resolution_spark.functions.hashing import band_hashes

# MinHash-LSH geometry: the Arrow tokenizer's signature width, banded with
# rows-per-band = NUM_HASHES // BANDS. r=2 keeps catch probability high for
# jaccard ≥ 0.3 pairs (P = 1-(1-s²)^16 ≈ 0.78 at s=0.3, 0.99 at s=0.5).
NUM_HASHES = N_MINHASH
BANDS = 16
SHA_PREFIX_LEN = 12  # exact-duplicate key: sha prefix (48 bits)
# Posting-frequency cutoff for the EXACT-VALUE families (path tokens,
# fingerprints): a key shared by more than this many records is too common
# to carry linking evidence (think "utils.py", license-header fingerprints)
# and is EXCLUDED from pair generation — the block-level analog of TF-IDF
# max_df pruning (reference max_df=0.95 / inverse_degree weighting,
# utils/adjacency.py:61-64). Structural at scale: these key vocabularies
# are ~fixed, so block size grows ∝ corpus and cliques grow ∝ corpus² —
# salting alone keeps the quadratic pair mass (measured: path cliques were
# 2.5M of 2.6M candidates on a 175k-file corpus, 10× the content families;
# cutoff 16 → 446k candidates, pairwise F1 0.99991 vs 0.99996, match_edges
# wall 75s → 34s). MinHash bands are exempt: a crowded band is genuine
# mutual similarity, handled by salted caps instead.
COMMON_KEY_MAX = 16


@dataclass(frozen=True)
class BlockingConfig:
    block_cap: int = 200            # max records per similarity block (ref: split size 1000,
                                    # large-cluster guard 400 — we default tighter)
    use_path_tokens: bool = True
    use_minhash: bool = True
    use_fingerprints: bool = True   # winnowing fingerprints — copy-detection blocker

    def __post_init__(self):
        if self.block_cap < 2:
            raise ValueError(f"block_cap must be >= 2, got {self.block_cap}")


def exact_sha_blocks(features: DataFrame) -> DataFrame:
    """(unique_id, block_key) for exact-content duplicates: lang + content-sha prefix.

    Block keys across every family are int64 ``xxhash64(family, lang, value)``
    — NOT strings. The union of all families (~50 key rows per record at the
    default config) is the widest-fanout frame of the pipeline, and its bytes
    flow through the cache, the sizing aggregation+join, and the candidate
    self-join; 8-byte integer keys vs ~40-byte strings is a structural
    shuffle/cache cut, and integer compares beat string compares in every
    downstream sort/hash. A cross-family 64-bit collision merely merges two
    blocks (extra candidate pairs for the scorer to reject): P ≈ keys²/2^65,
    recall-safe by construction.
    """
    return features.select(
        "unique_id",
        F.xxhash64(
            F.lit("sha"), "lang", F.substring("content_sha", 1, SHA_PREFIX_LEN)
        ).alias("block_key"),
    )


def path_token_blocks(features: DataFrame) -> DataFrame:
    """(unique_id, block_key) on normalized path tokens (skip empty token sets)."""
    return features.where(F.size("path_toks") > 0).select(
        "unique_id",
        F.xxhash64(
            F.lit("path"), "lang", F.concat_ws("_", "path_toks")
        ).alias("block_key"),
    )


def minhash_band_blocks(features: DataFrame) -> DataFrame:
    """MinHash-LSH band keys over content shingles.

    The Arrow tokenizer already emits the ``NUM_HASHES``-slot signature per
    doc (splitmix salts min-reduced while the shingle hashes are cache-hot),
    so band keys are a pure projection over the cached features frame — no
    explode, no aggregation. The earlier JVM shape re-exploded 137.9M
    shingle rows and ran ``NUM_HASHES`` hash evals per row into a groupBy
    (~300 executor-CPU-s of the blocking stage at 703k files).
    """
    sig = features.where(F.size("minhash") == NUM_HASHES).select(
        "unique_id", "lang", *band_hashes("minhash", NUM_HASHES, BANDS)
    )
    return sig.select(
        "unique_id",
        F.explode(
            F.array(
                *[
                    # band identity is already inside band_b (per-band seeded
                    # xxhash64); fold lang in and emit the int64 key directly
                    F.xxhash64(F.lit("mh"), "lang", F.col(f"band_{b}"))
                    for b in range(BANDS)
                ]
            )
        ).alias("block_key"),
    )


def fingerprint_blocks(features: DataFrame) -> DataFrame:
    """(unique_id, block_key) per content fingerprint (winnowing sample of shingle
    hashes, ``fast_text.code_features``). Documents sharing any unchanged region
    co-block — robust to localized edits where MinHash bands can miss. The inverted
    index over fingerprints is the same exploded-equi-join shape as the reference's
    feature adjacency (``utils/adjacency.py:50-54``)."""
    return features.select(
        "unique_id",
        "lang",
        F.explode("fingerprints").alias("_fp"),
    ).select(
        "unique_id",
        F.xxhash64(F.lit("fp"), "lang", "_fp").alias("block_key"),
    )


def apply_block_caps(assignments: DataFrame, cap: int, salt_col: str = "unique_id") -> DataFrame:
    """Split any block larger than ``cap`` into deterministic salted sub-blocks.

    Mirrors the reference's oversized-block handling (CountryBlocker splits blocks
    over ``min_split_size`` by a secondary key, ``blockers/country.py:67-91``). The
    salt is ``xxhash64(unique_id) pmod n_sub`` — deterministic, partition-independent.
    Trade-off (documented): records of one true entity inside a giant block may land
    in different sub-blocks for *that key family*; other key families (sha, path,
    other bands) still link them, and CC restores transitivity.
    """
    from pyspark.sql import types as T

    sizes = assignments.groupBy("block_key").agg(F.count("*").alias("_bs"))
    # hash-build on the aggregated (1 row/key) side; SMJ would sort the full
    # exploded assignment stream just to look up a per-key size
    joined = assignments.join(sizes.hint("shuffle_hash"), "block_key")
    n_sub = F.ceil(F.col("_bs") / F.lit(cap)).cast("long")
    salt = F.pmod(F.xxhash64(F.col(salt_col)), n_sub)
    if isinstance(assignments.schema["block_key"].dataType, T.LongType):
        sub_key = F.xxhash64(F.col("block_key"), salt)  # int64 keys stay int64
    else:
        sub_key = F.concat_ws("#", F.col("block_key"), salt.cast("string"))
    salted = F.when(F.col("_bs") <= cap, F.col("block_key")).otherwise(sub_key)
    return joined.select(F.col("unique_id"), salted.alias("block_key"))


def cutoff_harvest_blocks(
    records: DataFrame,
    feature_cols: list[str],
    th_schedule: list[int],
    cluster_cutoff: int,
    id_col: str = "unique_id",
    type_col: str | None = None,
) -> DataFrame:
    """Multi-pass blocking with cluster-size cutoff harvesting → (id, block_key).

    The reference's ``FeatureBasedNameBlockerWithCutoff``
    (``am_combiner/blockers/common.py:100-201``), re-expressed as a driver loop
    over DataFrame passes. For each feature count i (growing feature set) and
    each threshold th descending from ``th_schedule[i]`` to 1:

    - build intersection edges over ``feature_cols[:i+1]`` on the RECORDS NOT
      YET BLOCKED, where the newest feature's contribution only counts with
      weight ≥ th (earlier features count at any weight — the reference zeroes
      sub-threshold entries of the last matrix before summing);
    - connected components; every component of size ≥ ``cluster_cutoff`` is
      harvested as one block and its records leave the loop;
    - the final pass (last feature, th=1) harvests everything (cutoff forced
      to 0, ``blockers/common.py:193-195``) — guaranteed termination.

    Early high-threshold passes carve out the tightest groups before looser
    evidence can glue them into giant blocks — this is the recall-preserving
    alternative to hash-salting a block apart. Block key = ``{type}-{min
    member id}`` (deterministic under any partitioning; harvested member sets
    are disjoint so keys never collide). Each pass is a bounded shuffle job;
    the loop is the reference's own pass structure, not per-record iteration.
    """
    from entity_resolution_spark.operators.adjacency import feature_intersection_edges
    from entity_resolution_spark.operators.components import label_components

    assert len(feature_cols) == len(th_schedule), "feature and threshold counts must match"

    # type-scope the records so components never cross record types (the
    # reference blocks each object_type dict entry independently): the CC node
    # id is a composite (type, id), and feature values are prefixed with the
    # type at explode time below, so cross-type value collisions produce no edge
    typ = F.col(type_col) if type_col else F.lit("block")
    work = records.select(
        F.col(id_col).alias("_id"),
        typ.cast("string").alias("_type"),
        *[
            F.transform(
                F.col(fc),
                lambda v: F.concat_ws("\x1f", typ.cast("string"), v.cast("string")),
            ).alias(fc)
            for fc in feature_cols
        ],
    )
    work = work.withColumn("_tid", F.concat_ws("\x1f", "_type", "_id"))
    work = work.localCheckpoint(eager=True)

    harvested: list[DataFrame] = []
    n_feats = len(feature_cols)
    for i in range(n_feats):
        feats = feature_cols[: i + 1]
        last = feats[-1]
        for th in range(th_schedule[i], 0, -1):
            final_pass = i == n_feats - 1 and th == 1
            cutoff = 0 if final_pass else cluster_cutoff
            ef = feature_intersection_edges(
                work, feats, id_col="_tid", per_feature=True
            )
            edges = (
                ef.where((F.col("feature") != last) | (F.col("weight") >= th))
                .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
                .distinct()
            )
            comp = label_components(
                work.select("_id", "_type", "_tid"), edges, "_tid", out_col="_comp"
            ).persist()
            sizes = comp.groupBy("_comp").agg(F.count("*").alias("_cs"))
            harvest = (
                comp.join(sizes, "_comp")
                .where(F.col("_cs") >= F.lit(max(cutoff, 1)))
            )
            min_ids = harvest.groupBy("_comp").agg(F.min("_id").alias("_rep"))
            block = (
                harvest.join(min_ids, "_comp")
                .select(
                    F.col("_id").alias(id_col),
                    F.concat_ws("-", "_type", "_rep").alias("block_key"),
                    "_tid",
                )
            ).localCheckpoint(eager=True)
            harvested.append(block.select(id_col, "block_key"))
            work = (
                work.join(block.select("_tid"), "_tid", "left_anti")
                .localCheckpoint(eager=True)
            )
            comp.unpersist()
            if final_pass or not work.take(1):
                break
        if not work.take(1):
            break

    out = harvested[0]
    for h in harvested[1:]:
        out = out.unionByName(h)
    return out


def split_oversized_blocks_by_key(
    records: DataFrame,
    edges: DataFrame,
    min_split_size: int = 1000,
    id_col: str = "unique_id",
    block_col: str = "block_key",
    keys_col: str = "split_keys",
    null_key: str = "00",
) -> DataFrame:
    """Split blocks larger than ``min_split_size`` by a secondary key, assigning
    ambiguous records to the sub-block with maximal mean edge connectivity.

    The reference's ``CountryBlocker`` (``am_combiner/blockers/country.py:19-126``)
    re-expressed relationally — the recall-preserving alternative to id-hash
    salting for that key family:

    - a record with exactly ONE secondary key joins that key's sub-block;
    - a record with SEVERAL keys joins, among its own keys, the one maximizing
      mean connectivity = |edges to that key's single-key members| / |that
      key's single-key members| (``country.py:55-65``);
    - a record with NO key considers its graph-neighbors' keys (or ``00`` when
      isolated), same argmax;
    - ties break on the smallest key (the reference sorts candidates then takes
      ``np.argmax``'s first maximum).

    ``records``: (id_col, block_col, keys_col array<string>); ``edges``:
    (id_a, id_b) intra-block connectivity. Small blocks pass through unchanged;
    oversized blocks get ``{block}+{key}`` sub-keys.
    """
    sizes = records.groupBy(block_col).agg(F.count("*").alias("_bs"))
    rec = records.join(sizes, block_col)
    small = rec.where(F.col("_bs") <= min_split_size).select(id_col, block_col)
    big = rec.where(F.col("_bs") > min_split_size).select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.array_distinct(F.col(keys_col)).alias("_keys"),
    ).withColumn("_nk", F.size("_keys")).persist()

    # sym feeds BOTH the anchor-connectivity and neighbor-key subtrees, and the
    # whole result is re-consumed by downstream sizing joins — without a
    # materialization boundary the evidence-edge subtree is duplicated
    # multiplicatively into the final plan (plan trees, not DAGs)
    sym = edges.select(F.col("id_a").alias("_src"), F.col("id_b").alias("_dst")).union(
        edges.select(F.col("id_b").alias("_src"), F.col("id_a").alias("_dst"))
    ).persist()
    anchors = big.where(F.col("_nk") == 1).select(
        "_id", "_blk", F.element_at("_keys", 1).alias("_key")
    )
    anchor_counts = anchors.groupBy("_blk", "_key").agg(F.count("*").alias("_mk"))
    # c_ik: edges from record i to single-key members of key k (same block)
    conn = (
        sym.join(anchors.select(F.col("_id").alias("_dst"), "_blk", "_key"), "_dst")
        .groupBy(F.col("_src").alias("_id"), "_blk", "_key")
        .agg(F.count("*").alias("_c"))
    )

    multi_cand = big.where(F.col("_nk") > 1).select(
        "_id", "_blk", F.explode("_keys").alias("_key")
    )
    nbr_keys = (
        sym.join(
            big.select(F.col("_id").alias("_dst"), "_blk", F.col("_keys").alias("_dk")),
            "_dst",
        )
        .select(F.col("_src").alias("_id"), "_blk", F.explode("_dk").alias("_key"))
        .distinct()
    )
    none_rec = big.where(F.col("_nk") == 0).select("_id", "_blk")
    none_cand = none_rec.join(nbr_keys, ["_id", "_blk"], "left")

    cand = multi_cand.unionByName(none_cand.where(F.col("_key").isNotNull()))
    scored = (
        cand.join(conn, ["_id", "_blk", "_key"], "left")
        .join(anchor_counts, ["_blk", "_key"], "left")
        .select(
            "_id", "_blk", "_key",
            F.when(
                F.coalesce(F.col("_mk"), F.lit(0)) > 0,
                F.coalesce(F.col("_c"), F.lit(0)).cast("double") / F.col("_mk"),
            ).otherwise(F.lit(0.0)).alias("_mean"),
        )
    )
    w = Window.partitionBy("_id", "_blk").orderBy(F.col("_mean").desc(), F.col("_key").asc())
    picked = (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("_id", "_blk", "_key")
    ).persist()  # consumed twice (isolated anti-join + assigned union)
    isolated = none_rec.join(picked.select("_id"), "_id", "left_anti").select(
        "_id", "_blk", F.lit(null_key).alias("_key")
    )
    assigned = anchors.unionByName(picked).unionByName(isolated)
    out_big = assigned.select(
        F.col("_id").alias(id_col),
        F.concat_ws("+", "_blk", "_key").alias(block_col),
    )
    # materialize + truncate lineage at the operator boundary: the internal
    # tree (sym reused twice, picked twice, window over 3 joins) would
    # otherwise be re-expanded by every downstream consumer — the plan-tree
    # duplication that melts Catalyst when this feeds further sizing joins.
    # The operator runs on the oversized-block subset only, so the eager
    # materialization is a bounded stage even at cluster scale.
    result = small.unionByName(out_big).localCheckpoint(eager=True)
    big.unpersist()
    sym.unpersist()
    picked.unpersist()
    return result


def block_assignments(
    features: DataFrame,
    cfg: BlockingConfig | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Union of all key families → capped (unique_id, block_key) assignments.

    ``features`` must carry: unique_id, lang, content_sha, path_toks, minhash,
    fingerprints (the :func:`plans.pipeline.extract_features` columns).
    """
    cfg = cfg or BlockingConfig()

    # family tag rides as a 1-byte literal column (free per-part constant):
    # 0=sha (exact; star pairs, never capped), 1=path, 2=mh, 3=fp
    parts = [exact_sha_blocks(features).withColumn("_fam", F.lit(0).cast("byte"))]
    if cfg.use_path_tokens:
        parts.append(path_token_blocks(features).withColumn("_fam", F.lit(1).cast("byte")))
    if cfg.use_minhash:
        parts.append(minhash_band_blocks(features).withColumn("_fam", F.lit(2).cast("byte")))
    if cfg.use_fingerprints:
        parts.append(fingerprint_blocks(features).withColumn("_fam", F.lit(3).cast("byte")))
    asg = parts[0]
    for p in parts[1:]:
        asg = asg.unionByName(p)
    # The union stacks every family's partitions (4 × source parallelism =
    # sliver tasks whose launch overhead dominates at high core counts);
    # narrow-coalesce back to the session's shuffle parallelism so each task
    # carries one partition per family.
    n_parts = int(asg.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    asg = asg.coalesce(n_parts)
    # The union feeds one sizing aggregation and one join — persist so the
    # minhash/fingerprint subtrees execute once (Spark plans are trees, not
    # DAGs; at cluster scale this is the stage checkpoint).
    asg = asg.persist()
    if persisted is not None:
        persisted.append(asg)  # unpersisted at the caller's stage boundary

    # ONE sizing pass for every policy (was three groupBy+join rounds — each
    # shuffle barrier is fixed per-query-stage latency that caps scaling):
    #   - exact-value families (path:/fp:) drop keys more common than
    #     COMMON_KEY_MAX (no linking evidence — block-level max_df pruning);
    #   - sha: blocks pass through uncapped (their pairs are stars);
    #   - everything else over block_cap splits into salted sub-blocks.
    # COMMON_KEY_MAX < block_cap, so kept exact-value keys are never salted —
    # the fused CASE is exactly the old sequential semantics.
    sizes = asg.groupBy("block_key").agg(F.count("*").alias("_bs"))
    joined = asg.join(sizes.hint("shuffle_hash"), "block_key")
    is_sha = F.col("_fam") == 0
    is_exact_val = F.col("_fam").isin(1, 3)
    joined = joined.where(~(is_exact_val & (F.col("_bs") > COMMON_KEY_MAX)))

    n_sub = F.ceil(F.col("_bs") / F.lit(cfg.block_cap)).cast("long")
    salted = F.when(
        is_sha | (F.col("_bs") <= cfg.block_cap), F.col("block_key")
    ).otherwise(
        F.xxhash64(F.col("block_key"), F.pmod(F.xxhash64("unique_id"), n_sub))
    )
    return joined.select(
        F.col("unique_id"), salted.alias("block_key"), is_sha.alias("is_exact")
    )

