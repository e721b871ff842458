"""Deduplication operators for a large-scale training-data pipeline.

The same blocking/scoring/CC machinery as the ER pipeline, specialized to the
common dedup recipes (each one maps to a reference concept noted inline):

- exact (hash-groupBy)               ↔ the reference's sha-style URL dedupe
                                       (``am_combiner/combiners/common.py:90``)
- n-gram / token Jaccard pairs       ↔ feature-intersection adjacency
                                       (``am_combiner/utils/adjacency.py:15-70``)
- MinHash-LSH near-dup               ↔ blocking + pairwise-similarity-threshold
- SimHash near-dup                   ↔ same, bit-sketch variant
- embedding-cosine near-dup          ↔ BERT-vector cosine combiner
                                       (``am_combiner/combiners/tfidf.py:199-217``)

All operators take/return DataFrames; cluster ids are min-member ids (stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions import text as TX
from entity_resolution_spark.functions.hashing import band_hashes
from entity_resolution_spark.functions.vectors import array_jaccard, cosine_array_cols
from entity_resolution_spark.operators.components import label_components


def _blk_expr(block_col: str | None):
    """Block key with NULLs coalesced to a NUL-prefixed sentinel so every
    dedup path agrees on NULL-block semantics: NULL-block docs form their
    OWN block (they pair with each other, never across into real blocks).
    Without this the exact path's equi-join on _blk silently dropped NULL
    blocks while the LSH path's concat_ws band key silently SKIPPED the
    NULL, bucketing all NULL-block docs with nothing separating them from
    each other's bands — the twins disagreed (ADVICE r4).

    The column is cast to string BEFORE the coalesce: a numeric block_col
    would otherwise resolve the coalesce by casting the sentinel to the
    column type — a CAST_INVALID_INPUT crash under ANSI mode, and under
    non-ANSI a silent NULL that reintroduces the very divergence this
    helper exists to fix. _blk is internal (equality key only), so the
    stringification changes no pairing semantics."""
    if not block_col:
        return F.lit("all").alias("_blk")
    return F.coalesce(
        F.col(block_col).cast("string"), F.lit("\x00<null>")
    ).alias("_blk")


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via sha256-groupBy: (id, dup_group = min id with same hash, group_size).

    One shuffle on the hash; at 100 TB this is the cheapest possible dedup pass and
    runs first so downstream near-dup stages see each distinct text once.
    """
    h = docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("_h"))
    groups = h.groupBy("_h").agg(
        F.min(id_col).alias("dup_group"), F.count("*").alias("group_size")
    )
    return (
        h.join(groups, "_h")
        .select(F.col(id_col), "dup_group", "group_size")
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    threshold: float = 0.8,
    ngram: int = 1,
) -> DataFrame:
    """All same-block pairs with distinct-token (or token-n-gram) Jaccard ≥ threshold.

    Exact variant (no LSH): within-block self-join — use for small/capped blocks or
    as the verification pass after LSH candidate generation. JVM-only expressions.

    Internal representation: tokens/shingles are carried as sorted-distinct
    ``xxhash64`` int64 surrogates, not strings — set sizes, intersections and
    therefore jaccard equal the string-set definition up to 64-bit collisions
    (the engine's accepted id-surrogate class). The census/posting/verify
    exchanges ship 8-byte longs instead of token strings, and the verify's
    ``array_intersect`` compares longs — measured 14.8s → 13.1s cold on the
    sf0.1 query (the remaining cost is candidate volume: 1.8M genuine ≥0.6
    pairs at sf0.1, not payload width). The STRING definition remains the
    semantic contract (the DuckDB oracles compute it verbatim and
    hash-match).
    """
    if ngram == 1:
        toks_expr = TX.distinct_tokens(F.col(text_col))
    else:
        # bind tokens via a one-element transform before the shingle
        # window-slide (HOF lambdas re-evaluate embedded children per element)
        toks_expr = F.get(
            F.transform(
                F.array(TX.tokens(F.col(text_col))),
                lambda tk: F.array_distinct(TX.shingles(tk, ngram)),
            ),
            0,
        )
    base = docs.select(
        F.col(id_col).alias("_id"),
        _blk_expr(block_col),
        F.array_sort(
            F.array_distinct(F.transform(toks_expr, lambda t: F.xxhash64(t)))
        ).alias("_toks"),
    )
    base = base.withColumn("_n", F.size("_toks"))

    # --- Exact prefix-filter candidate generation (AllPairs/PPJoin, Xiao et al.
    # WWW'08 Lemma 1; Chaudhuri et al. ICDE'06) — replaces the quadratic
    # within-block self-join. Tokens get a global per-block order by ascending
    # document frequency (rarest first, ties by token). Per doc of size n the
    # prefix is its first  p = n - ceil(t·n) + 1  tokens in that order; two sets
    # with J ≥ t MUST share a prefix token (with the length filter |B| ≥ t·|A|,
    # the common-overlap bound α = ceil(t/(1+t)·(|A|+|B|)) ≥ ceil(t·|X|) for
    # both sides, so these per-set prefixes are at least the lemma's lengths).
    # Candidates are therefore the prefix-token inverted-index join — linear in
    # posting-list sizes, not block size² — and the exact jaccard verify keeps
    # the output set bit-identical to the brute-force definition.
    #
    # base is consumed by the posting-index subtree AND the two verify probes;
    # an eager localCheckpoint materializes the tokenization once and — unlike
    # a bare persist() — its blocks are reclaimed by the ContextCleaner when
    # the frame goes out of scope, so repeated calls in a long-lived session
    # (bench, notebook, micro-batch) cannot accumulate cached frames.
    base = base.localCheckpoint(eager=True)
    toks_x = base.select("_blk", F.col("_id"), F.explode("_toks").alias("_t"))
    dfreq = toks_x.groupBy("_blk", "_t").agg(F.count("*").alias("_df"))
    ordered = (
        toks_x.join(dfreq, ["_blk", "_t"])
        .groupBy("_blk", "_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_t")))
            ).alias("_ord")
        )
        .select("_blk", "_id", F.col("_ord._t").alias("_otoks"))
    )
    prefix_len = (
        F.size("_otoks") - F.ceil(F.lit(threshold) * F.size("_otoks")) + 1
    ).cast("int")
    postings = ordered.select(
        "_blk",
        "_id",
        F.size("_otoks").alias("_n"),
        F.posexplode(F.slice("_otoks", 1, prefix_len)).alias("_pp", "_pt"),
    )
    pa = postings.select(
        "_blk", "_pt", F.col("_id").alias("id_a"), F.col("_n").alias("_na"),
        F.col("_pp").alias("_ppa"),
    )
    pb = postings.select(
        "_blk", "_pt", F.col("_id").alias("id_b"), F.col("_n").alias("_nb"),
        F.col("_pp").alias("_ppb"),
    )
    # POSITIONAL filter (PPJoin, Xiao et al. WWW'08 §3): both docs list
    # tokens in the same global per-block order, so for the FIRST shared
    # token of a pair, sitting at 0-based prefix offsets (pa, pb), the
    # overlap can be at most min(n_a − pa, n_b − pb); a pair with
    # jaccard ≥ t needs overlap ≥ t/(1+t)·(n_a+n_b). Rows failing the bound
    # are pruned BEFORE the distinct — a truly-qualifying pair always
    # survives via its first-shared-token row (which lies in BOTH prefixes
    # whenever the pair can qualify, the standard PPJoin argument), so the
    # verified output is bit-identical; only never-qualifying volume
    # shrinks (measured at sf0.1: posting rows 19.9M → 10.1M into the
    # distinct, candidates 2.52M → 2.45M, output pairs and value hash
    # unchanged; cold build 21.0 → 14.1s in a paired A/B). The 1e-9 slack
    # absorbs float rounding in t/(1+t): it can only ADMIT a borderline
    # row (harmless — verify is exact), never drop a qualifying one.
    alpha = F.lit(threshold / (1.0 + threshold)) * (F.col("_na") + F.col("_nb"))
    cand = (
        pa.join(pb, ["_blk", "_pt"])
        .where(F.col("id_a") < F.col("id_b"))
        # length-ratio filter: jaccard ≥ t ⟹ min(|a|,|b|) ≥ t·max(|a|,|b|) —
        # applied on the posting join before the distinct shuffle
        .where(
            F.least("_na", "_nb").cast("double")
            >= threshold * F.greatest("_na", "_nb")
        )
        .where(
            F.least(
                F.col("_na") - F.col("_ppa"), F.col("_nb") - F.col("_ppb")
            ).cast("double") + 1e-9
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col("_id").alias("id_a"), F.col("_toks").alias("_toks_a"),
        F.col("_n").alias("_na"),
    )
    vb = base.select(
        F.col("_id").alias("id_b"), F.col("_toks").alias("_toks_b"),
        F.col("_n").alias("_nb"),
    )
    # |A∪B| = |A|+|B|-|A∩B| for distinct arrays: one array_intersect instead
    # of intersect + union per verified pair
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_toks_a", "_toks_b")).alias("_i"),
            F.col("_na"),
            F.col("_nb"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("_i").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_i"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    threshold: float = 0.8,
    ngram: int = 1,
) -> DataFrame:
    """Jaccard pairs → connected components → (id, cluster = min id of component).

    ``ngram`` threads through to :func:`jaccard_pairs`: 1 = distinct-token
    Jaccard; k>1 = distinct token-k-gram (shingle) Jaccard — pass the same k
    as :func:`minhash_dup_clusters`'s ``shingle_k`` (and the same
    ``block_col``) to make this the exact verification twin of the MinHash
    scale path."""
    edges = jaccard_pairs(docs, id_col, text_col, block_col, threshold, ngram)
    return label_components(
        docs.select(id_col), edges, id_col, "id_a", "id_b", out_col="cluster"
    )


def minhash_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
    band_cap: int = 256,
    block_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs → connected components → (id, cluster).

    The SCALE twin of :func:`jaccard_dup_clusters` (same output contract:
    every input doc labeled, singletons label themselves). Candidate volume
    is bounded by band collisions + the band cap, never by posting-list or
    block sizes — the corpus-prep lesson from the 700k-file run: the exact
    PPJoin path's prefix posting lists are only selective when the
    vocabulary is large relative to the corpus; on a low-diversity corpus
    (code files from a shared template pool, ~10k tokens/lang) Σ|posting|²
    explodes while band buckets stay capped. RefinedWeb/SlimPajama use
    MinHash for the same reason at web scale.

    Similarity is distinct ``shingle_k``-gram Jaccard (verified exactly on
    every candidate — no LSH false positives; misses bounded by the band
    schedule, recall-gated 1.0 in bench.py at the default schedule).

    ``block_col`` (default None = corpus-wide, the RefinedWeb shape) scopes
    band buckets to the block, making this the semantic twin of
    ``jaccard_dup_clusters(block_col=..., ngram=shingle_k)``.
    """
    pairs = minhash_lsh_dup_pairs(
        docs, id_col=id_col, text_col=text_col, shingle_k=shingle_k,
        verify_threshold=threshold, band_cap=band_cap, block_col=block_col,
    )
    return label_components(
        docs.select(id_col), pairs, id_col, "id_a", "id_b", out_col="cluster"
    )


def _band_candidates(stacked: DataFrame, cap: int) -> DataFrame:
    """(``_bk``, ``_id``) band memberships → candidate (id_a, id_b), id_a < id_b.

    Buckets at or under ``cap`` members emit the full within-bucket clique (the
    lossless pair set). A bucket OVER ``cap`` is a boilerplate family — near-
    identical texts that collide in every band — and its clique is Θ(n²): a
    100k-member family would emit 5·10⁹ rows from one key. Those buckets
    star-represent instead (every member pairs with the bucket's min id, O(n)
    rows), the same degradation the pipeline applies to exact-sha blocks
    (``pairs.star_pairs``). Pair-level completeness inside a crowded bucket
    becomes connectivity-level completeness: downstream dedup clustering
    (connected components over the verified pairs) is unchanged whenever the
    family's members verify against the representative, which is exactly the
    near-identical situation that crowds a bucket in the first place.
    """
    # stacked feeds the count subtree AND the membership join, and the result
    # feeds clique AND star: materialize once (eager localCheckpoint — blocks
    # are ContextCleaner-reclaimed, unlike a bare persist) or the whole
    # sketch pipeline upstream recomputes per consumer (measured 2x wall on
    # the sf0.1 minhash query when the cap path added the second consumer)
    stacked = stacked.localCheckpoint(eager=True)
    counts = stacked.groupBy("_bk").agg(
        F.count("*").alias("_bn"), F.min("_id").alias("_rep")
    )
    s = stacked.join(counts, "_bk").localCheckpoint(eager=True)
    small = s.where(F.col("_bn") <= cap)
    clique = (
        small.alias("a")
        .join(small.select("_bk", F.col("_id").alias("_idb")).alias("b"), "_bk")
        .where(F.col("_id") < F.col("_idb"))
        .select(F.col("_id").alias("id_a"), F.col("_idb").alias("id_b"))
    )
    star = (
        s.where((F.col("_bn") > cap) & (F.col("_id") != F.col("_rep")))
        .select(F.col("_rep").alias("id_a"), F.col("_id").alias("id_b"))
    )
    return clique.unionByName(star).distinct()


def minhash_lsh_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    verify_threshold: float = 0.5,
    band_cap: int = 256,
    block_col: str | None = None,
) -> DataFrame:
    """Scale path: shingle → MinHash → band-bucket join → verify with true Jaccard.

    The LSH candidate join is the 100 TB-safe path — pair count is bounded by band
    collisions, not block size². Candidates are then *verified* with the exact
    Jaccard so the output has no LSH false positives (false negatives bounded by
    the band schedule: P(miss) = (1-s^r)^b). Buckets over ``band_cap`` members
    star-represent instead of going clique-quadratic (see ``_band_candidates``).

    Signature: the Arrow tokenizer computes distinct hashed shingles AND the
    ``blocking.NUM_HASHES``-slot MinHash signature (banded ``blocking.BANDS``
    ways, the same schedule as the ER blocker) in ONE pass per doc — no
    explode, no aggregation (the ``minhash_band_blocks`` discipline). The
    earlier exploded-JVM shape ran one xxhash64 eval per hash per shingle row
    — 3.4B evals on a 700k-file corpus, 68% of the corpus-prep job's wall and
    an AGGREGATE_OUT_OF_MEMORY under an 8 GiB heap. Shingle jaccard over the
    kernel's hashed windows equals string-shingle jaccard up to 64-bit
    collisions (the id-surrogate collision class the engine already accepts).
    """
    from entity_resolution_spark.functions.fast_text import code_features
    from entity_resolution_spark.operators.blocking import BANDS, NUM_HASHES

    base = docs.select(
        F.col(id_col).alias("_id"),
        _blk_expr(block_col),
        code_features(F.col(text_col), shingle_k).alias("_cf"),
    ).select(
        "_id",
        "_blk",
        F.col("_cf.shingles").alias("_sh"),
        F.col("_cf.minhash").alias("_mh"),
    )
    # base feeds the band subtree AND both verify probes — materialize the
    # kernel output once (same discipline as jaccard_pairs)
    base = base.localCheckpoint(eager=True)
    sig = base.where(F.size("_mh") == NUM_HASHES).select(
        "_id", "_blk", *band_hashes("_mh", NUM_HASHES, BANDS)
    )
    # band-bucket key includes the block: with block_col set, candidates can
    # only form within a block (the IdentityBlocker twin of the exact path)
    stacked = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "#",
                        F.col("_blk"),
                        F.lit(str(b)),
                        F.col(f"band_{b}").cast("string"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("_bk"),
    )
    cand = _band_candidates(stacked, band_cap)
    toks = base.select("_id", F.col("_sh"))
    a = toks.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = toks.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", array_jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("jaccard")
        )
        .where(F.col("jaccard") >= verify_threshold)
    )


def simhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    prefix_bits: int = 8,
    band_cap: int = 256,
) -> DataFrame:
    """SimHash near-dup: 64-bit Charikar sketch per doc, candidates = docs sharing
    an aligned ``prefix_bits``-bit band, verified by Hamming distance ≤ max_hamming.

    Band-completeness (pigeonhole): two sketches within Hamming d share at least
    one of the 64/prefix_bits aligned bands whenever d < 64/prefix_bits. The
    defaults (8 bands of 8 bits, max_hamming=6 < 8) therefore make the banded
    candidate set COMPLETE — the output equals the exact Hamming-≤-6 pair set,
    which the bench recall gate asserts as recall 1.0. Narrower bands trade
    candidate volume for the guarantee; with 4×16 bits the guarantee drops to
    d ≤ 3 (the round-1 configuration's documented gap). Buckets over
    ``band_cap`` members star-represent instead of going clique-quadratic
    (see ``_band_candidates``).
    """
    from entity_resolution_spark.functions.hashing import hamming64, simhash64, simhash_fold

    exploded = docs.select(
        F.col(id_col).alias("_id"), F.explode(TX.distinct_tokens(F.col(text_col))).alias("_t")
    )
    bitsums = exploded.groupBy("_id").agg(*simhash64(F.col("_t")))
    # sketch feeds the band subtree AND both verify probes — materialize once
    sketch = bitsums.select("_id", simhash_fold().alias("_sim")).localCheckpoint(
        eager=True
    )
    n_bands = 64 // prefix_bits
    banded = sketch.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.shiftright(F.col("_sim"), i * prefix_bits)
                        .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                        .cast("string"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_bk"),
    )
    cand = _band_candidates(banded, band_cap)
    # re-attach the narrow (id, sketch) frame — cheaper than carrying the
    # sketch through the star/clique band machinery
    sa = sketch.select(F.col("_id").alias("id_a"), F.col("_sim").alias("_sim_a"))
    sb = sketch.select(F.col("_id").alias("id_b"), F.col("_sim").alias("_sim_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", hamming64(F.col("_sim_a"), F.col("_sim_b")).alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute within block). JVM zip_with/aggregate
    dot products — no Python. For the sub-quadratic path see similarity.lsh_ann."""
    base = vectors.select(
        F.col(id_col).alias("_id"),
        _blk_expr(block_col),
        F.col(vec_col).alias("_v"),
    )
    a = base.select(F.col("_id").alias("id_a"), "_blk", F.col("_v").alias("_va"))
    b = base.select(F.col("_id").alias("id_b"), "_blk", F.col("_v").alias("_vb"))
    return (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_array_cols(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def canonical_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Materialize a dedup decision: per cluster keep ONE canonical document.

    Dedup is not done when pairs/clusters are found — a training pipeline must
    decide which copy survives. The keep rule mirrors the common corpus recipe
    (RefinedWeb/SlimPajama keep-one): the member with the MOST whitespace
    tokens wins (the longest copy usually carries the least truncation), ties
    broken by the smallest id (deterministic on any engine/partitioning).

    ``clusters``: (id_col, cluster_col) as produced by
    :func:`jaccard_dup_clusters` / :func:`exact_dup_groups` (any labeling
    where the cluster id is orderable works). Output: one row per INPUT doc —
    (id, cluster, n_tokens, keep boolean) — so both the survivor list
    (``keep``) and the drop audit (``NOT keep``) fall out of one frame.

    Scale shape: one exchange on the cluster id feeding a single window sort;
    no self-join, no collect. Cluster sizes are near-dup family sizes — the
    band caps upstream (``_band_candidates``) bound them, so the per-key sort
    is bounded too. All non-boolean outputs are integers (oracle-hash safe).
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("_id"),
        TX.token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    ).join(
        clusters.select(
            F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cl")
        ),
        "_id",
    )
    w = Window.partitionBy("_cl").orderBy(
        F.col("n_tokens").desc(), F.col("_id").asc()
    )
    return base.select(
        F.col("_id").alias(id_col),
        F.col("_cl").alias(cluster_col),
        "n_tokens",
        (F.row_number().over(w) == 1).alias("keep"),
    )
