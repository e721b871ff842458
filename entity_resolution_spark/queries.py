"""Driver-contract query suite: every operator family exposed as (spark, sf_dir) →
DataFrame, each with a DuckDB-runnable ANSI-SQL oracle where SQL can express it.

Tables (parquet under sf_dir): region nation customer supplier part orders lineitem
events documents embeddings.

Column-name discipline: every computed column is aliased identically in the Spark
plan and the SQL string (the driver sorts columns by name and hashes values).
Floats that pass through aggregation are rounded to fixed decimals on BOTH sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_resolution_spark.functions import text as TX
from entity_resolution_spark.functions.text import _LANG_MARKERS
from entity_resolution_spark.operators.adjacency import negative_edges_numeric_distance
from entity_resolution_spark.operators.components import label_components
from entity_resolution_spark.operators.dedup import (
    exact_dup_groups,
    jaccard_pairs,
    minhash_lsh_dup_pairs,
    simhash_dup_pairs,
)
from entity_resolution_spark.operators.similarity import brute_force_topk, lsh_ann_topk


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _embeddings(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The embeddings table as (vec_id, *cols, embedding array<double>)."""
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", *cols, F.col("embedding").cast("array<double>").alias("embedding")
    )


# ---------------------------------------------------------------------------
# Relational parity queries (SURVEY.md §2.8: the aggregation/join/sort patterns
# the reference actually uses, on the TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                              AS sum_qty,
       round(sum(l_extendedprice), 2)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       round(avg(l_quantity), 4)                              AS avg_qty,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_TOP_REVENUE_NATIONS = """
SELECT n_name,
       count(*)                        AS n_orders,
       round(sum(o_totalprice), 2)     AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.05)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_ORDER_PRIORITY_SEMIJOIN = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
"""


def q_topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )


SQL_TOPK_ORDERS_PER_PRIORITY = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
WHERE rk <= 3
"""


def q_weighted_avg_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_discount") * F.col("l_quantity")) / F.sum("l_quantity"), 6
        ).alias("w_avg_discount")
    )


SQL_WEIGHTED_AVG_DISCOUNT = """
SELECT l_returnflag,
       round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS w_avg_discount
FROM lineitem
GROUP BY l_returnflag
"""


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # the reference's min/max content-length filter (utils/data.py:196-204)
    return (
        d.where(F.length("text").between(100, 400))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.length("text")), 4).alias("avg_len"),
        )
    )


SQL_DOC_LENGTH_HISTOGRAM = """
SELECT lang, count(*) AS n_docs, round(avg(length(text)), 4) AS avg_len
FROM documents
WHERE length(text) BETWEEN 100 AND 400
GROUP BY lang
"""


def q_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-size histogram over (lang, source) — the blocking skew diagnostic."""
    d = _t(spark, sf_dir, "documents")
    sizes = d.groupBy("lang", "source").agg(F.count("*").alias("block_size"))
    return sizes.groupBy("block_size").agg(F.count("*").alias("n_blocks"))


SQL_BLOCK_STATS = """
SELECT block_size, count(*) AS n_blocks
FROM (SELECT lang, source, count(*) AS block_size FROM documents GROUP BY lang, source)
GROUP BY block_size
"""


# ---------------------------------------------------------------------------
# Dedup / text-analysis operators over documents
# ---------------------------------------------------------------------------

def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return exact_dup_groups(d).select("doc_id", "dup_group", "group_size")


SQL_EXACT_DEDUP_DOCS = """
SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS dup_group,
       count(*) OVER (PARTITION BY h)  AS group_size
FROM (SELECT doc_id, sha256(text) AS h FROM documents)
"""


def q_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.token_count("text").cast("long").alias("n_ws_tokens"))


SQL_TOKEN_COUNTS_DOCS = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws_tokens
FROM documents
"""


def q_quality_stats_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality aggregates in integer MICRO-UNITS (ratio × 10^6,
    rounded half-up per doc, then averaged with integer round-half-up).

    Two rounds of float formulations (round-1 plain doubles, round-2
    decimal-summed doubles) hash-matched locally but not in the driver — the
    residual mismatch lives in engine/version float canonicalization, not in
    the math. So the hashed output now contains NO floating point at all:
    every value is a bigint produced by integer div arithmetic, identical on
    any engine.  round-half-up(a/b) ≡ (2a + b) div (2b) for non-negative ints.
    """
    stop_arr = F.array(*[F.lit(w) for w in TX.STOPWORDS])
    d = _t(spark, sf_dir, "documents")
    # bind tokens to a column first: HOF lambdas re-evaluate embedded child
    # expressions per element (would re-tokenize per token otherwise)
    tk = d.select("lang", TX.tokens(F.col("text")).alias("_tk"))
    per_doc = tk.select(
        "lang",
        F.size("_tk").cast("long").alias("_nt"),
        F.size(F.filter(F.col("_tk"), lambda t: F.array_contains(stop_arr, t)))
        .cast("long").alias("_ns"),
        F.aggregate(
            F.col("_tk"), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("_tc"),
    )
    micro = per_doc.select(
        "lang",
        "_nt",
        F.when(
            F.col("_nt") > 0, F.expr("(2000000 * _ns + _nt) div (2 * _nt)")
        ).otherwise(F.lit(0)).cast("long").alias("_srm"),
        F.when(
            F.col("_nt") > 0, F.expr("(2000000 * _tc + _nt) div (2 * _nt)")
        ).otherwise(F.lit(0)).cast("long").alias("_mtm"),
    )
    return (
        micro.groupBy("lang")
        .agg(
            F.sum("_nt").alias("total_tokens"),
            F.sum("_srm").alias("_ssr"),
            F.sum("_mtm").alias("_smt"),
            F.count("*").alias("_n"),
        )
        .select(
            "lang",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.expr("(2 * _ssr + _n) div (2 * _n)").cast("long")
            .alias("avg_stopword_ratio_micro"),
            F.expr("(2 * _smt + _n) div (2 * _n)").cast("long")
            .alias("avg_token_len_micro"),
        )
    )


_STOPWORDS_SQL = "(" + ",".join(f"'{w}'" for w in TX.STOPWORDS) + ")"

SQL_QUALITY_STATS_LANG = f"""
WITH toks AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents
), per_doc AS (
  SELECT lang,
         len(tk)::BIGINT AS nt,
         len(list_filter(tk, t -> t IN {_STOPWORDS_SQL}))::BIGINT AS ns,
         COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)::BIGINT AS tc
  FROM toks
), micro AS (
  SELECT lang, nt,
         CASE WHEN nt > 0 THEN (2000000 * ns + nt) // (2 * nt) ELSE 0 END AS srm,
         CASE WHEN nt > 0 THEN (2000000 * tc + nt) // (2 * nt) ELSE 0 END AS mtm
  FROM per_doc
)
SELECT lang,
       CAST(sum(nt) AS BIGINT)                               AS total_tokens,
       CAST((2 * sum(srm) + count(*)) // (2 * count(*)) AS BIGINT)
         AS avg_stopword_ratio_micro,
       CAST((2 * sum(mtm) + count(*)) // (2 * count(*)) AS BIGINT)
         AS avg_token_len_micro
FROM micro GROUP BY lang
"""


def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", TX.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


def _lang_id_sql_case() -> str:
    codes = list(_LANG_MARKERS)
    score_exprs = []
    for c in codes:
        markers = ",".join(f"'{m}'" for m in _LANG_MARKERS[c])
        score_exprs.append(
            f"len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),"
            f" t -> t IN ({markers}))) AS s_{c}"
        )
    whens = []
    for i, c in enumerate(codes):
        conds = [f"s_{c} > 0"] + [f"s_{c} >= s_{later}" for later in codes[i + 1:]]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{c}'")
    return (
        "WITH scored AS (SELECT lang, "
        + ", ".join(score_exprs)
        + " FROM documents) SELECT lang, CASE "
        + " ".join(whens)
        + " ELSE 'unknown' END AS predicted, count(*) AS n_docs"
        " FROM scored GROUP BY 1, 2"
    )


SQL_LANG_ID_DOCS = _lang_id_sql_case()


# Session-scoped memo for shared subtrees (VERDICT r3 #7): the ≥0.6 PPJoin
# edge graph and its connected components feed THREE registered queries
# (jaccard_pairs, cc_jaccard, dedup_survivors) — ~30s of the 78s r3 bench was
# one subtree computed three times; the MinHash pair set and the flagship
# clusters are shared the same way. Frames are eagerly localCheckpoint'ed
# (ContextCleaner-reclaimable) and keyed by the live SparkContext's
# applicationId + the caller's key — unique per context, so a restarted
# session never sees stale frames (an id()-based key could alias after GC)
# and repeated bench iterations share one materialization.
_memo: dict[tuple, DataFrame] = {}


def _session_memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame memoized under ``key`` in this Spark application, built as
    ``build().localCheckpoint(eager=True)`` by its first consumer."""
    key = (spark.sparkContext.applicationId, *key)
    if key not in _memo:
        _memo[key] = build().localCheckpoint(eager=True)
    return _memo[key]


def clear_session_memo() -> None:
    """Drop every session-scoped shared frame. Bench honesty hook: bench.py
    calls this at the start of each timing pass, so a pass pays each shared
    subtree's build cost exactly once — in its FIRST consumer — instead of
    min-of-passes silently reporting only memo hits. The localCheckpoint
    blocks behind the dropped references are reclaimed by the
    ContextCleaner."""
    _memo.clear()


def _jaccard_edges_docs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6, ngram: int = 1
) -> DataFrame:
    return _session_memo(
        spark,
        ("edges", sf_dir, threshold, ngram),
        lambda: jaccard_pairs(
            _t(spark, sf_dir, "documents"), "doc_id", "text", "lang",
            threshold=threshold, ngram=ngram,
        ),
    )


def _cc_jaccard_labels_docs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6
) -> DataFrame:
    return _session_memo(
        spark,
        ("cc", sf_dir, threshold),
        lambda: label_components(
            _t(spark, sf_dir, "documents").select("doc_id"),
            _jaccard_edges_docs(spark, sf_dir, threshold),
            "doc_id", "id_a", "id_b",
        ),
    )


def q_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_edges_docs(spark, sf_dir).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_JACCARD_PAIRS_DOCS = """
WITH t AS (
  SELECT doc_id, lang,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '')) AS tk
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.tk, b.tk))::DOUBLE
             / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 6) AS jaccard
FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
      / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.6
"""


def q_cc_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ≥0.6-jaccard graph — the transitive-closure
    core, oracled by a recursive-CTE reachability query in DuckDB. Shares the
    edge + label frames with jaccard_pairs/dedup_survivors via the
    session-scoped memo above."""
    return _cc_jaccard_labels_docs(spark, sf_dir)


SQL_CC_JACCARD_DOCS = """
WITH RECURSIVE t AS (
  SELECT doc_id, lang,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '')) AS tk
  FROM documents
), e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
        / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.6
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
"""


def q_negative_edges_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-distance negator (reference adjacency.py:161-167) on document length:
    same-lang pairs whose n_chars differ by more than 300 are negative evidence."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("unique_id"),
        "lang",
        F.array(F.col("n_chars")).alias("nc"),
    )
    neg = negative_edges_numeric_distance(d, "nc", 300.0, block_col="lang")
    return neg.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


SQL_NEGATIVE_EDGES_NCHARS = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id::VARCHAR < b.doc_id::VARCHAR
WHERE (b.n_chars - a.n_chars > 300) OR (a.n_chars - b.n_chars > 300)
"""


def q_feature_adjacency_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-intersection adjacency (§2.3) on a bounded subset: edge weight = number
    of shared distinct tokens, weight ≥ 25, doc_id < 100."""
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").cast("string").alias("unique_id"),
            TX.distinct_tokens("text").alias("toks"),
        )
    )
    from entity_resolution_spark.operators.adjacency import feature_intersection_edges

    e = feature_intersection_edges(d, ["toks"])
    return e.where(F.col("weight") >= 25).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("weight").cast("long").alias("weight"),
    )


SQL_FEATURE_ADJACENCY_DOCS = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '')) AS tk
  FROM documents WHERE doc_id < 100
), x AS (SELECT doc_id, unnest(tk) AS v FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS weight
FROM x a JOIN x b ON a.v = b.v AND a.doc_id::VARCHAR < b.doc_id::VARCHAR
GROUP BY 1, 2
HAVING count(*) >= 25
"""


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    probes = e.where(F.col("vec_id") < 20)
    return brute_force_topk(e, probes, k=5).select(
        "probe_id", "neighbor_id", "cosine", "rank"
    )


SQL_EMBEDDING_TOPK = """
WITH scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
  WHERE p.vec_id < 20
)
SELECT probe_id, neighbor_id, cosine, rank FROM (
  SELECT probe_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dup via blocked BLAS tiles (applyInPandas) —
    the vectorized replacement for the per-pair HOF cosine baseline
    (operators.dedup.embedding_near_dup_pairs, kept as the reference semantics)."""
    from entity_resolution_spark.operators.similarity import blocked_cosine_pairs

    e = _embeddings(spark, sf_dir)
    return blocked_cosine_pairs(e, threshold=0.35).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


SQL_EMBEDDING_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
"""


# ---------------------------------------------------------------------------
# Non-SQL-expressible operators (rows-only checks): hash-sketch dedup, LSH ANN,
# and the full ER pipeline
# ---------------------------------------------------------------------------

def _minhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized MinHash-LSH verified pair set (shingle_k=3,
    verify_threshold=0.5) — shared by minhash_near_dup,
    acceptance_distribution_docs and minhash_recall_gate, which previously
    each rebuilt the identical signature + band + verify subtree. Bench
    clears the memo per pass, so the build is honestly attributed to its
    first consumer in each pass."""
    return _session_memo(
        spark,
        ("minhash", sf_dir),
        lambda: minhash_lsh_dup_pairs(
            _t(spark, sf_dir, "documents"), shingle_k=3, verify_threshold=0.5
        ),
    )


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs_docs(spark, sf_dir).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_minhash_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall gate for the MinHash-LSH scale path: integer
    (n_exact, n_hit, n_missed) of the banded+verified LSH pair set against
    the EXACT corpus-wide 3-gram-jaccard pair set at the same 0.5 threshold.
    The DuckDB oracle computes the exact set from string shingles and
    asserts the perfect-recall counts (n_hit = n_exact, n_missed = 0) — the
    bench's recall gate turned into a hash-compared driver row. Both engines
    use the identical length-compensating shingle rule (docs shorter than k
    tokens contribute one whole-sequence shingle)."""
    d = _t(spark, sf_dir, "documents")
    exact = jaccard_pairs(
        d, "doc_id", "text", block_col=None, threshold=0.5, ngram=3
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    approx = _minhash_pairs_docs(spark, sf_dir).select("id_a", "id_b")
    n_exact = exact.count()
    n_hit = approx.join(exact, ["id_a", "id_b"], "left_semi").count()
    return spark.createDataFrame(
        [(n_exact, n_hit, n_exact - n_hit)],
        "n_exact bigint, n_hit bigint, n_missed bigint",
    )


SQL_MINHASH_RECALL_GATE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)])
         WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
         ELSE [] END AS s
  FROM tk
), e AS (
  SELECT count(*) AS n_exact
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_exact AS BIGINT) AS n_hit,
       CAST(0 AS BIGINT)       AS n_missed
FROM e
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return simhash_dup_pairs(d, max_hamming=6)


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(spark, sf_dir)
    probes = e.where(F.col("vec_id") < 20)
    # Hamming-ranked sign sketches (256 bits, radius 115): true top-5
    # neighbors sit near cosine ≈ 0.3-0.4 — barely above the random-direction
    # tail — so bucketed LSH either misses them or floods candidates
    # (round-2's schedule lost to brute force). The sketch screen admits ≈5%
    # of the corpus to exact rerank (lsh_ann_recall_gate asserts recall ≥
    # 0.95 at sf0.01); radius is the recall/scan dial.
    return lsh_ann_topk(e, probes, k=5)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: seeded spherical-k-means coarse cells over a
    deterministic corpus sample, corpus assigned to nearest cell, probes scan
    their n_probe nearest cells with exact rerank. Rows-only (float k-means);
    recall is gated by ivf_ann_recall_gate on planted high-cosine partners — the
    near-dup-retrieval regime coarse cells actually index. (This corpus is
    isotropic at cosine 0.3-0.5 where ANY cell index degenerates to
    recall ≈ scan fraction; the sketch path covers that regime.)"""
    from entity_resolution_spark.operators.similarity import ivf_ann_topk

    e = _embeddings(spark, sf_dir)
    probes = e.where(F.col("vec_id") < 20)
    return ivf_ann_topk(e, probes, k=5, n_probe=4)


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): per-subspace codebooks
    + ADC lookup-table scoring + global ADC top-R + exact rerank — the
    memory-bound ANN scale tier (m code bytes per row instead of d floats).
    Deterministic (seeded sample-trained codebooks, fixed iterations,
    partitioning-independent candidate set) but float-iterative k-means —
    rows-only; brute-parity and planted-partner goldens in
    tests/test_similarity.py, recall gate in pq_ann_recall_gate."""
    from entity_resolution_spark.operators.similarity import pq_ann_topk

    e = _embeddings(spark, sf_dir)
    probes = e.where(F.col("vec_id") < 20)
    return pq_ann_topk(e, probes, k=5, m=8, k_codes=32, rerank=64)


def _docs_repo_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents adapted to the pipeline's mandated input shape (repo=source,
    path=doc_id.txt, commit=doc_id, lang=lang, content=text)."""
    return _t(spark, sf_dir, "documents").select(
        F.col("source").alias("repo"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.col("doc_id").cast("string").alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )


def q_er_resolve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: full ER pipeline over :func:`_docs_repo_files`.
    The resolved cluster frame is memoized per session (shared with the
    ``er_resolve_f1_docs`` confusion-count gate; bench clears the memo per
    pass)."""
    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve

    def build():
        out = resolve(spark, _docs_repo_files(spark, sf_dir), PipelineConfig(shingle_k=3))
        return out["clusters"].select("unique_id", "lang", "content_sha", "cluster_id")

    return _session_memo(spark, ("er_clusters", sf_dir), build)


def q_er_resolve_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline with an independent oracle: the SAME resolve() code path
    (features → blocking → star/clique pairs → logistic scoring → splitter → CC)
    restricted to the exact-sha key family, whose fixpoint is SQL-expressible.

    With only ``sha:{lang}:{sha_prefix}`` blocks, candidate pairs are the star
    pairs of each block, and an edge forms iff the full 256-bit shas are equal
    (the ``exact`` feature, weight 20, pushes the logistic over threshold; a
    non-equal-sha pair inside a block exists only under a 48-bit prefix
    collision — P ≈ n²/2^49, absent in the test tables — and would additionally
    need near-identical content to cross the threshold without ``exact``). The
    oracle: cluster representative = min unique_id over (lang, sha256(text)).
    """
    from entity_resolution_spark.operators.blocking import BlockingConfig
    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve

    cfg = PipelineConfig(
        shingle_k=3,
        blocking=BlockingConfig(
            use_path_tokens=False, use_minhash=False, use_fingerprints=False
        ),
    )
    out = resolve(spark, _docs_repo_files(spark, sf_dir), cfg)
    return out["clusters"].select("unique_id", "lang", "content_sha", "cluster_rep")


SQL_ER_RESOLVE_DOCS_EXACT = """
WITH r AS (
  SELECT sha256(source || chr(31) || doc_id::VARCHAR || '.txt'
                || chr(31) || doc_id::VARCHAR)          AS unique_id,
         lang,
         sha256(text)                                    AS content_sha
  FROM documents
)
SELECT unique_id, lang, content_sha,
       min(unique_id) OVER (PARTITION BY lang, content_sha) AS cluster_rep
FROM r
"""


def pair_count(n):
    """n·(n−1)/2 in exact bigint, overflow-hardened: the even factor is
    halved BEFORE the multiply — the naive n·(n−1) product overflows bigint
    at n ≈ 3.04e9 while this form is exact over the FULL representable
    domain — every n ≤ 2^32, the largest n whose pair count itself fits in
    bigint — and because exactly one of n, n−1 is even it is still pure
    integer arithmetic (a `/2` double round-trip would lose integers past
    2^53; billion-row truth groups are real at the target scale —
    test_f1_pair_count_bigint_safe exercises n = 2^32)."""
    return F.when(
        n.bitwiseAND(F.lit(1)) == 0, F.shiftright(n, 1) * (n - 1)
    ).otherwise(n * F.shiftright(n - 1, 1))


def q_er_resolve_f1_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable F1 gate for the FULL flagship family (VERDICT r3 #3):
    pairwise confusion counts of the full pipeline's clusters against the
    SQL-certifiable truth, restricted to the shared blocking key — the north
    rule's "labeled pairs at the same blocking key" made a hash-compared
    driver row instead of a pytest claim.

    Truth = the (lang, sha256(content)) clusters that the exact-family query
    (``er_resolve_docs_exact``) independently certifies hash-exact. Pairs are
    counted INSIDE the pipeline's own exact blocking key ``sha:{lang}:{48-bit
    sha prefix}`` (reference semantics: ``qa/acceptance_metrics.py:55-74``
    computes P/R/F1 over labeled pairs at the shared key):

    - tp = same-truth pairs the pipeline put in one cluster,
    - fn = same-truth pairs it split (recall failures),
    - fp = within-block pairs it merged across DIFFERENT full shas (possible
      only under a 48-bit prefix collision — certifying the blocking key
      itself carries no false merges).

    The oracle asserts the perfect-score counts (tp = Σ n·(n-1)/2 over truth
    groups, fp = fn = 0) straight from the documents table, so this row is
    green IFF the full family achieves pairwise F1 = 1.0 on these labeled
    pairs. All counts are exact bigint arithmetic — no float F1 in the
    hashed output.

    Scale shape: three map-side-combining groupBys over (lang, sha[, prefix,
    cluster]) — pair counts come from group sizes (n·(n-1)/2), never from
    materializing pairs."""
    from entity_resolution_spark.operators.blocking import SHA_PREFIX_LEN

    clusters = q_er_resolve_docs(spark, sf_dir)
    g = clusters.select(
        "lang", "content_sha",
        F.substring("content_sha", 1, SHA_PREFIX_LEN).alias("_pfx"),
        "cluster_id",
    ).localCheckpoint(eager=True)

    _pairs = pair_count

    pos = (
        g.groupBy("lang", "content_sha").agg(F.count("*").alias("_n"))
        .agg(F.coalesce(F.sum(_pairs(F.col("_n"))), F.lit(0)).alias("_pos"))
    )
    tp = (
        g.groupBy("lang", "content_sha", "cluster_id")
        .agg(F.count("*").alias("_m"))
        .agg(F.coalesce(F.sum(_pairs(F.col("_m"))), F.lit(0)).alias("_tp"))
    )
    pred_blk = (
        g.groupBy("lang", "_pfx", "cluster_id").agg(F.count("*").alias("_b"))
        .agg(F.coalesce(F.sum(_pairs(F.col("_b"))), F.lit(0)).alias("_pred"))
    )
    return (
        pos.crossJoin(tp).crossJoin(pred_blk)  # three 1-row frames
        .select(
            F.col("_tp").cast("bigint").alias("tp"),
            (F.col("_pred") - F.col("_tp")).cast("bigint").alias("fp"),
            (F.col("_pos") - F.col("_tp")).cast("bigint").alias("fn"),
        )
    )


SQL_ER_RESOLVE_F1_DOCS = """
WITH t AS (
  SELECT lang, sha256(text) AS sha, COUNT(*) AS n
  FROM documents
  GROUP BY 1, 2
)
SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS tp,
       CAST(0 AS BIGINT) AS fp,
       CAST(0 AS BIGINT) AS fn
FROM t
"""


def q_sanction_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep nested-JSON normalization (the sanction visitor family,
    reference ``features/common.py:336-530``): a raw-entity JSON document is
    constructed deterministically per customer, then parsed + flattened by the
    JVM-only extractors in ``operators/sanctions.py``. The oracle computes the
    same outputs straight from the source columns — so the JSON round-trip and
    every extractor expression are what is actually under test.

    (``alias_phonetic`` is exercised by unit-test goldens instead: DuckDB has
    no soundex, so it can't appear in a hash-compared oracle output.)
    """
    from entity_resolution_spark.operators.sanctions import sanction_features

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    y = (F.lit(1900) + k % 100).cast("int")
    s = (k % 3).cast("int")
    ystr = y.cast("string")

    def _birth(lo, hi):
        return F.struct(lo.alias("min_date"), hi.alias("max_date"))

    births = (
        F.when(k % 11 == 0, F.lit(None).cast(
            "array<struct<min_date:string,max_date:string>>"))
        .when(k % 5 == 0, F.array(_birth(
            F.concat(ystr, F.lit("-06-15")), F.concat(ystr, F.lit("-06-15")))))
        .when(k % 5 == 1, F.array(_birth(
            F.concat(ystr, F.lit("-01-01")),
            F.concat((y + s).cast("string"), F.lit("-01-01")))))
        .otherwise(F.array(
            _birth(F.concat(ystr, F.lit("-01-01")),
                   F.concat((y + s).cast("string"), F.lit("-12-31"))),
            _birth(F.concat((y + 4).cast("string"), F.lit("-01-01")),
                   F.concat((y + 4).cast("string"), F.lit("-12-31"))),
        ))
    )
    names = F.array(
        F.struct(F.col("c_name").alias("name"), F.lit("primary").alias("name_type")),
        F.struct(
            F.concat_ws(" ", "c_mktsegment", "c_name").alias("name"),
            F.lit("aka").alias("name_type"),
        ),
    )
    locations = F.array(F.struct(
        F.format_string("C%02d", "c_nationkey").alias("country_code"),
        F.when(k % 17 == 0, F.lit("International")).otherwise(F.lit("HQ"))
        .alias("original_name"),
    ))
    raw = c.select(
        "c_custkey",
        F.to_json(F.struct(F.struct(
            names.alias("names"), births.alias("births"),
            locations.alias("locations"),
        ).alias("data"))).alias("raw_entity"),
    )
    out = sanction_features(raw)
    return out.select(
        "c_custkey",
        F.element_at("primary", 1).alias("primary_name"),
        F.array_join("alias", "|").alias("aliases_cat"),
        F.array_join("alias_keyword", "|").alias("kw_cat"),
        F.array_join("alias_keyword_bigrams", "|").alias("bigrams_cat"),
        F.coalesce(F.element_at("yob", 1), F.lit(-1)).alias("yob_min"),
        F.coalesce(F.element_at("yob", -1), F.lit(-1)).alias("yob_max"),
        F.coalesce(F.array_join("yob_known", "|"), F.lit("")).alias("yob_known_cat"),
        F.coalesce(F.array_join("dob", "|"), F.lit("")).alias("dob_cat"),
        F.coalesce(F.array_join("country_code", "|"), F.lit("")).alias("country_cat"),
    )


SQL_SANCTION_FEATURES = r"""
WITH base AS (
  SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
         CAST(1900 + c_custkey % 100 AS INTEGER) AS y,
         CAST(c_custkey % 3 AS INTEGER)          AS s,
         c_mktsegment || ' ' || c_name           AS aka
  FROM customer
), kw AS (
  SELECT *,
    array_to_string(list_sort(list_filter(
      string_split(regexp_replace(lower(c_name), '[,/\(\)\.\-;`'']', ' ', 'g'), ' '),
      t -> length(t) > 2)), '+') AS kw_a,
    array_to_string(list_sort(list_filter(
      string_split(regexp_replace(lower(aka), '[,/\(\)\.\-;`'']', ' ', 'g'), ' '),
      t -> length(t) > 2)), '+') AS kw_b
  FROM base
)
SELECT c_custkey,
  c_name AS primary_name,
  array_to_string(list_sort([c_name, aka]), '|') AS aliases_cat,
  array_to_string(list_sort(list_distinct([kw_a, kw_b])), '|') AS kw_cat,
  kw_b AS bigrams_cat,
  CASE WHEN c_custkey % 11 = 0 THEN -1 ELSE y END AS yob_min,
  CASE WHEN c_custkey % 11 = 0 THEN -1
       WHEN c_custkey % 5 IN (0, 1) THEN y
       ELSE y + 4 END AS yob_max,
  CASE WHEN c_custkey % 11 = 0 THEN ''
       WHEN c_custkey % 5 = 0 THEN CAST(y AS VARCHAR)
       WHEN c_custkey % 5 = 1 THEN array_to_string(list_sort(list_distinct(
            [CAST(y AS VARCHAR), CAST(y + s AS VARCHAR)])), '|')
       ELSE CAST(y AS VARCHAR) || '|' || CAST(y + 4 AS VARCHAR) END AS yob_known_cat,
  CASE WHEN c_custkey % 11 = 0 THEN ''
       WHEN c_custkey % 5 = 0 THEN CAST(y AS VARCHAR) || '-06-15'
       WHEN c_custkey % 5 = 1 AND s = 0 THEN CAST(y AS VARCHAR) || '-01-01'
       ELSE '' END AS dob_cat,
  CASE WHEN c_custkey % 17 = 0 THEN ''
       ELSE printf('C%02d', c_nationkey) END AS country_cat
FROM kw
"""


def q_sanction_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sanction-entity resolution — the reference's production
    sanction pipeline (``inter-domain.py:3-18``): alias visitors ->
    ``ConnectedComponentsCombiner`` over shared ALIAS_KEYWORD
    (``combiners/graph_based.py:12-66``, th=1), plus ``SanctionTermVisitor``
    (``sanction_term.py:39-57``, bypass-translation, char_len=12 here so the
    truncation path is exercised).

    Raw entities are synthesized deterministically per customer: every
    customer carries a ``Syndicate %03d`` alias (custkey % 40), and every
    third customer additionally bridges through a ``Network %03d`` alias of
    its syndicate's FAMILY (``(custkey % 40) % 8``) — so the 40 syndicate
    groups merge transitively into exactly 8 family components (verified:
    8 components at sf0.01, not one degenerate blob), and the oracle's
    recursive CTE must follow the same two-hop bridges.

    Scale shape: keyword-group edges are star-reduced (member -> min custkey
    of the group) instead of the quadratic all-pairs expansion — O(group)
    edges per keyword, identical CC labels; the group-by and join shuffle on
    the keyword only."""
    from entity_resolution_spark.operators.sanctions import (
        alias_features,
        parse_raw_entity,
        sanction_term_features,
    )

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    syn = F.format_string("Syndicate %03d", (k % 40).cast("int"))
    net = F.format_string("Network %03d", ((k % 40) % 8).cast("int"))
    names = F.filter(
        F.array(
            F.struct(F.col("c_name").alias("name"), F.lit("primary").alias("name_type")),
            F.struct(syn.alias("name"), F.lit("aka").alias("name_type")),
            F.when(
                k % 3 == 0,
                F.struct(net.alias("name"), F.lit("aka").alias("name_type")),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    display_fields = F.array(
        F.struct(
            F.lit("Other Information").alias("title"),
            F.concat_ws(" ", "c_mktsegment", "c_name").alias("value"),
        ),
        F.struct(
            F.lit("Unrequested Title").alias("title"),
            F.col("c_mktsegment").alias("value"),
        ),
    )
    raw = c.select(
        "c_custkey",
        F.to_json(
            F.struct(
                F.struct(
                    names.alias("names"), display_fields.alias("display_fields")
                ).alias("data")
            )
        ).alias("raw_entity"),
    )
    feats = sanction_term_features(
        alias_features(parse_raw_entity(raw)), ["Other Information"], char_len=12
    )
    base = feats.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "alias_keyword",
        "term_other_information",
    )
    # consumed by the keyword explode AND the final label join: materialize the
    # JSON parse + alias extraction once (eager localCheckpoint — blocks are
    # ContextCleaner-reclaimed, unlike a bare persist)
    base = base.localCheckpoint(eager=True)
    kw = base.select("c_custkey", F.explode("alias_keyword").alias("kw"))
    hubs = kw.groupBy("kw").agg(F.min("c_custkey").alias("hub"))
    edges = (
        kw.join(hubs, "kw")
        .where(F.col("c_custkey") != F.col("hub"))
        .select(F.col("hub").alias("src"), F.col("c_custkey").alias("dst"))
        .distinct()
    )
    return label_components(base, edges, "c_custkey", out_col="entity_id").select(
        "c_custkey",
        F.col("entity_id").cast("long").alias("entity_id"),
        F.array_join("term_other_information", "|").alias("terms_cat"),
    )


SQL_SANCTION_RESOLVE = r"""
WITH RECURSIVE base AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         substr(c_mktsegment || ' ' || c_name, 1, 12) AS term,
         c_custkey % 40 AS syn,
         (c_custkey % 40) % 8 AS net,
         (c_custkey % 3 = 0) AS bridged
  FROM customer
), kw AS (
  -- primary-name keywords are unique per customer (no edges); only the
  -- synthesized alias families create keyword groups
  SELECT id, 'S' || lpad(CAST(syn AS VARCHAR), 3, '0') AS kw FROM base
  UNION ALL
  SELECT id, 'N' || lpad(CAST(net AS VARCHAR), 3, '0') FROM base WHERE bridged
), hubs AS (
  SELECT kw, min(id) AS hub FROM kw GROUP BY kw
), e AS (
  SELECT h.hub AS src, k.id AS dst
  FROM kw k JOIN hubs h USING (kw) WHERE k.id <> h.hub
), sym AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), reach(src, dst) AS (
  SELECT id, id FROM base
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), labels AS (
  SELECT src AS id, min(dst) AS entity_id FROM reach GROUP BY src
)
SELECT b.id AS c_custkey, l.entity_id, b.term AS terms_cat
FROM base b JOIN labels l USING (id)
"""


def q_org_sanction_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Organisation-type visitor chain over synthesized raw-entity JSON
    (``organisation_visitors.py:25-129`` + ``JsonSummarizer``,
    ``vectorisation.py:247-339``): display-field summary text, registration-id
    and designation-year extraction, and alias keyword variants. The
    synthesized org names carry no brackets or 'a.k.a.' markers, so the
    keyword recursion takes its single-variant path and the oracle can replay
    it with the same sort/filter/join pipeline as `sanction_features`'
    person keywords (plus the org stopword/numeric token rule)."""
    from entity_resolution_spark.operators.sanctions import org_sanction_features

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    aka = F.concat_ws(" ", "c_mktsegment", "c_name", F.lit("Ltd"))
    names = F.array(
        F.struct(F.col("c_name").alias("name"), F.lit("primary").alias("name_type")),
        F.struct(aka.alias("name"), F.lit("aka").alias("name_type")),
    )
    regnum = F.concat(
        F.lit("AB"), F.format_string("%05d", (k % 90000).cast("int")), F.lit(" XY1001")
    )
    desdate = F.concat((F.lit(1990) + k % 30).cast("string"), F.lit("-03-04"))
    display_fields = F.array(
        F.struct(F.lit("Program").alias("title"), F.col("c_mktsegment").alias("value")),
        F.struct(F.lit("Not A Real Title").alias("title"), F.lit("dropme").alias("value")),
        F.struct(F.lit("Registration Number").alias("title"), regnum.alias("value")),
        F.struct(F.lit("Designation Date").alias("title"), desdate.alias("value")),
    )
    raw = c.select(
        "c_custkey",
        F.to_json(
            F.struct(
                F.struct(
                    names.alias("names"), display_fields.alias("display_fields")
                ).alias("data")
            )
        ).alias("raw_entity"),
    )
    out = org_sanction_features(raw)
    return out.select(
        "c_custkey",
        "full_text",
        F.array_join("org_ids", "|").alias("org_ids_cat"),
        F.array_join(F.transform("designation_year", lambda y: y.cast("string")), "|")
        .alias("years_cat"),
        F.array_join("org_alias_keyword", "|").alias("org_kw_cat"),
    )


SQL_ORG_SANCTION_FEATURES = r"""
WITH base AS (
  SELECT c_custkey, c_name, c_mktsegment,
         c_mktsegment || ' ' || c_name || ' Ltd' AS aka,
         'AB' || lpad(CAST(c_custkey % 90000 AS VARCHAR), 5, '0') AS regtok,
         CAST(1990 + c_custkey % 30 AS VARCHAR) AS desyear
  FROM customer
), kw AS (
  SELECT *,
    lower(c_name) AS kw_primary,
    array_to_string(list_sort(list_filter(
      string_split(regexp_replace(lower(aka), '[,/\(\)\.\-;`'']', ' ', 'g'), ' '),
      t -> t SIMILAR TO '[0-9]+'
           OR (length(t) > 2 AND t NOT IN
               ('ltd','llc','lcc','inc','corp','corporation','company')))), '+')
      AS kw_aka
  FROM base
)
SELECT c_custkey,
  c_mktsegment || '.' || regtok || ' XY1001' || '.' || desyear || '-03-04'
    AS full_text,
  CASE WHEN regtok LIKE '%1001' THEN '' ELSE regtok END AS org_ids_cat,
  desyear AS years_cat,
  array_to_string(list_sort(list_distinct([kw_primary, kw_aka])), '|') AS org_kw_cat
FROM kw
"""


def q_repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition quality stats over the documents table
    (``operators/repetition.py``): duplicate-line counts/chars and best
    bigram char coverage, all integer parts — the training-data filter
    signals computed relationally (explode → groupBy, no per-row quadratic
    scans)."""
    from entity_resolution_spark.operators.repetition import repetition_stats

    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d, text_col="text", id_col="doc_id")


SQL_REPETITION_STATS_DOCS = r"""
WITH d AS (
  SELECT doc_id, text FROM documents
), lines AS (
  SELECT d.doc_id, trim(u.l) AS line
  FROM d, UNNEST(string_split(d.text, chr(10))) AS u(l)
  WHERE length(trim(u.l)) > 0
), lc AS (
  SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2
), ls AS (
  SELECT doc_id,
         SUM(c)                                            AS n_lines,
         SUM(c) - COUNT(*)                                 AS dup_lines,
         SUM(CASE WHEN c > 1 THEN c * length(line) END)    AS dup_chars,
         SUM(c * length(line))                             AS line_chars
  FROM lc GROUP BY 1
), tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS toks
  FROM d
), tc AS (
  SELECT doc_id,
         list_sum(list_transform(toks, t -> length(t))) AS tok_chars,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bgs
  FROM tk
), bc AS (
  SELECT doc_id, u.bg, COUNT(*) AS c
  FROM tc, UNNEST(tc.bgs) AS u(bg) GROUP BY 1, 2
), tb AS (
  SELECT doc_id, MAX(c * (length(bg) - 1)) AS top_bigram_chars FROM bc GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(ls.n_lines, 0) AS BIGINT)           AS n_lines,
       CAST(coalesce(ls.dup_lines, 0) AS BIGINT)         AS dup_lines,
       CAST(coalesce(ls.dup_chars, 0) AS BIGINT)         AS dup_chars,
       CAST(coalesce(ls.line_chars, 0) AS BIGINT)        AS line_chars,
       CAST(coalesce(tb.top_bigram_chars, 0) AS BIGINT)  AS top_bigram_chars,
       CAST(coalesce(tc.tok_chars, 0) AS BIGINT)         AS tok_chars
FROM d
LEFT JOIN ls USING (doc_id)
LEFT JOIN tc USING (doc_id)
LEFT JOIN tb USING (doc_id)
"""


def q_events_windowed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event rollup over the ``events`` stream table — the
    batch twin of the Structured Streaming windowed aggregation in
    ``streaming/incremental.py`` (same ``F.window`` expression a
    ``readStream`` plan would use), plus nested-JSON property extraction
    (``get_json_object`` over the ``props`` payload — the raw-entity JSON
    digging pattern of the sanction visitors applied to event payloads).

    All hashed outputs are integer-exact: window start as epoch seconds,
    value summed in cents (the source has 2-decimal values), the JSON ``k``
    property summed as bigint. Scale shape: one hash shuffle on
    (window, event_type); partial aggregation map-side."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
            "sum_k",
        )
    )


SQL_EVENTS_WINDOWED_STATS = r"""
SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the ``events`` table: a new session starts
    after a >30-minute silence per user — the batch twin of Structured
    Streaming's session windows (``F.session_window``), formulated with lag +
    running sum so the oracle can replay it exactly. Epochs are floored to
    whole seconds on both sides (``unix_timestamp`` semantics) so the gap
    comparison and the hashed outputs are integer-exact.

    Scale shape: one shuffle on user_id for the two window passes, then the
    session groupBy reuses the same partitioning (no second exchange)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("long").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    gap = F.col("es") - F.lag("es").over(w)
    sess = e.withColumn(
        "_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_idx",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("es").alias("session_start"),
        (F.max("es") - F.min("es")).alias("duration_sec"),
    )


SQL_EVENTS_SESSIONIZE = r"""
WITH s AS (
  SELECT user_id, event_id,
         floor(epoch(ts))::BIGINT AS es
  FROM events
), m AS (
  SELECT user_id, event_id, es,
         CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
), t AS (
  SELECT user_id, es,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM m
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       MIN(es) AS session_start, MAX(es) - MIN(es) AS duration_sec
FROM t GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# Graph-embedding / per-block combiner queries (SURVEY §2.5/§2.7 rows flipped
# in round 3: FastRP, spectral, k-means, incremental, colour splitter, GCN,
# term + selected-text visitors, sampled acceptance distribution)
# ---------------------------------------------------------------------------

def q_name_commonness_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-commonness scoring (reference ``name_commonness.py:57-120``) over
    the part names: token-frequency table from the same corpus, per-name
    commonness = ∏ token counts / total^n. The hashed output carries the
    INTEGER numerator (product of counts; 0 when a token is missing or
    repeated — the reference's guard) so no float crosses the oracle hash."""
    from entity_resolution_spark.operators.commonness import (
        name_commonness_scores,
        token_frequency_table,
    )

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    freq = token_frequency_table(p, "p_name")
    total = p.count()
    return name_commonness_scores(
        p, freq, total, name_col="p_name", id_col="p_partkey"
    ).select("p_partkey", "n_tokens", "commonness_num")


SQL_NAME_COMMONNESS_PARTS = r"""
WITH tok AS (
  SELECT p_partkey,
         list_filter(regexp_split_to_array(lower(p_name), '\s+'),
                     t -> t <> '') AS toks
  FROM part
), freq AS (
  SELECT t AS word_token, count(*) AS no_of_tokens
  FROM (SELECT p_partkey, unnest(list_distinct(toks)) AS t FROM tok)
  GROUP BY t
), x AS (
  SELECT p_partkey, len(toks) AS n, unnest(list_distinct(toks)) AS word_token
  FROM tok
), m AS (
  SELECT p_partkey, n, count(*) AS hits, product(no_of_tokens::DOUBLE) AS prod
  FROM x JOIN freq USING (word_token) GROUP BY 1, 2
)
SELECT tok.p_partkey,
       CAST(len(tok.toks) AS INT) AS n_tokens,
       CAST(coalesce(CASE WHEN m.hits = m.n THEN m.prod ELSE 0 END, 0) AS BIGINT)
         AS commonness_num
FROM tok LEFT JOIN m USING (p_partkey)
"""


def q_fastrp_cosine_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastRP embedding similarity over the token-adjacency graph, ORACLE-EXACT:
    the projection rows use a portable md5-hex hash (identical in Spark and
    DuckDB) instead of the numpy RNG, so the entire distributed SpMM
    (M²R/M³R accumulation, fastRP.py:78-106) is replayed in SQL. Output is the
    cosine between the FastRP embeddings of every directly-adjacent pair,
    floored to 1e-4 (integer-exact hash; float sum-order noise is ~1e-11)."""
    from entity_resolution_spark.operators.fastrp import fastrp_embeddings

    dim = 8
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").cast("string").alias("unique_id"),
            TX.distinct_tokens("text").alias("toks"),
        )
    )
    from entity_resolution_spark.operators.adjacency import feature_intersection_edges

    e = feature_intersection_edges(d, ["toks"]).where(F.col("weight") >= 25)
    r_long = (
        d.select("unique_id")
        .select(F.col("unique_id").alias("id"), F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("pos"))
        .select(
            "id", "pos",
            (F.conv(F.substring(F.md5(F.concat_ws(":", "id", "pos")), 1, 8), 16, 10)
             .cast("long") % 6).alias("_h"),
        )
        .select(
            "id", "pos",
            F.when(F.col("_h") == 4, F.lit(-0.658))
            .when(F.col("_h") == 5, F.lit(0.658))
            .otherwise(F.lit(0.0)).alias("val"),
        )
        .where(F.col("val") != 0.0)
    )
    emb = fastrp_embeddings(e, dim=dim, r_long=r_long)
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda s, v: s + v * v))
    ne = emb.select("id", "embedding", norm.alias("_n")).where(F.col("_n") > 0)
    a = ne.select(F.col("id").alias("id_a"), F.col("embedding").alias("_ea"), F.col("_n").alias("_na"))
    b = ne.select(F.col("id").alias("id_b"), F.col("embedding").alias("_eb"), F.col("_n").alias("_nb"))
    dot = F.aggregate(F.zip_with("_ea", "_eb", lambda u, v: u * v), F.lit(0.0), lambda s, v: s + v)
    return (
        e.select("id_a", "id_b")
        .join(a, "id_a").join(b, "id_b")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.floor(dot / (F.col("_na") * F.col("_nb")) * 10000).cast("long").alias("sim_e4"),
        )
    )


SQL_FASTRP_COSINE_DOCS = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '')) AS tk
  FROM documents WHERE doc_id < 100
), x AS (SELECT doc_id, unnest(tk) AS v FROM t),
e0 AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS DOUBLE) AS w
  FROM x a JOIN x b ON a.v = b.v AND a.doc_id::VARCHAR < b.doc_id::VARCHAR
  GROUP BY 1, 2 HAVING count(*) >= 25
),
sym AS (SELECT ia AS s, ib AS d, w FROM e0 UNION ALL SELECT ib, ia, w FROM e0),
deg AS (SELECT d, sum(w) AS dw FROM sym GROUP BY d),
m AS (SELECT sym.s, sym.d, w / dw AS wn FROM sym JOIN deg USING (d)),
r AS (
  SELECT t.doc_id AS id, p.pos,
         CASE (CAST(('0x' || substr(md5(t.doc_id::VARCHAR || ':' || p.pos), 1, 8)) AS BIGINT) % 6)
           WHEN 4 THEN -0.658 WHEN 5 THEN 0.658 ELSE 0.0 END AS val
  FROM t, (SELECT unnest(range(8)) AS pos) p
),
x1 AS (SELECT m.d AS id, r.pos, sum(wn * val) AS val FROM m JOIN r ON r.id = m.s GROUP BY 1, 2),
x2 AS (SELECT m.d AS id, x1.pos, sum(wn * val) AS val FROM m JOIN x1 ON x1.id = m.s GROUP BY 1, 2),
x3 AS (SELECT m.d AS id, x2.pos, sum(wn * val) AS val FROM m JOIN x2 ON x2.id = m.s GROUP BY 1, 2),
acc AS (
  -- union-accumulate like the Spark side (a missing (id,pos) in one power
  -- term contributes 0) — an inner join would DROP entries supported by only
  -- one term and silently zero a sparse component's whole embedding
  SELECT id, pos, sum(v) AS val FROM (
    SELECT id, pos, 0.5 * val AS v FROM x2
    UNION ALL
    SELECT id, pos, 0.5 * val AS v FROM x3
  ) GROUP BY id, pos
),
nrm AS (SELECT id, sqrt(sum(val * val)) AS n FROM acc GROUP BY id)
SELECT e0.ia AS id_a, e0.ib AS id_b,
       CAST(floor(sum(a.val * b.val) / (max(na.n) * max(nb.n)) * 10000) AS BIGINT) AS sim_e4
FROM e0
JOIN acc a ON a.id = e0.ia
JOIN acc b ON b.id = e0.ib AND b.pos = a.pos
JOIN nrm na ON na.id = e0.ia
JOIN nrm nb ON nb.id = e0.ib
WHERE na.n > 0 AND nb.n > 0
GROUP BY 1, 2
"""


def q_selected_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArticleSelectedTextVisitor (text_selector.py:6-81): sentence-window
    context extraction around the entity mention — pure JVM HOF column,
    integer-exact (string ops only). Sentences = ' join '-separated segments;
    entity = the literal token 'spark'."""
    from entity_resolution_spark.functions.terms import selected_text

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " join ").alias("_sents")
    )
    return d.select(
        "doc_id",
        selected_text(F.col("_sents"), F.lit("spark"), pre=1, post=1).alias("selected"),
    )


SQL_SELECTED_TEXT_DOCS = """
WITH s AS (
  SELECT doc_id, string_split(text, ' join ') AS sents FROM documents
), w AS (
  SELECT doc_id, sents,
         flatten(list_transform(
           list_filter(list_transform(sents, (x, i) -> CASE WHEN contains(x, 'spark') THEN i ELSE -1 END),
                       i -> i >= 0),
           i -> list_slice(sents, greatest(1, i - 1), least(len(sents), i + 1))
         )) AS win
  FROM s
)
SELECT doc_id,
       coalesce(array_to_string(list_filter(win, (x, i) -> list_position(win, x) = i), ' '),
                '') AS selected
FROM w
"""


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFIDFKMeansCombiner analog (tfidf.py:20-78): per-label silhouette-swept
    k-means over the embedding vectors. Iterative — rows-only check; the
    arithmetic is golden-tested in tests/test_kmeans_spectral.py."""
    from entity_resolution_spark.operators.kmeans import kmeans_cluster_blocks

    e = _embeddings(spark, sf_dir, "label").select(
        F.col("vec_id").alias("unique_id"),
        F.col("label").cast("string").alias("blocking_key"),
        F.col("embedding").alias("vec"),
    )
    return kmeans_cluster_blocks(e, "vec", max_k=6).orderBy("unique_id")


def q_spectral_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral (Laplacian eigenmap) combiner (utils/spectral.py) per
    (lang, source) block over token features. Eigendecomposition — rows-only;
    golden-tested in tests/test_kmeans_spectral.py."""
    from entity_resolution_spark.operators.spectral import spectral_cluster_blocks

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("unique_id"),
        F.concat_ws("|", "lang", "source").alias("blocking_key"),
        TX.distinct_tokens("text").alias("toks"),
    )
    return spectral_cluster_blocks(d, ["toks"], th=0.9).orderBy("unique_id")


def q_incremental_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid incremental combiner (incremental_clustering.py:163-210) per
    label block, scan order fixed to vec_id — rows-only; reference-walk goldens
    in tests/test_terms_incremental.py."""
    from entity_resolution_spark.operators.incremental_combiner import (
        incremental_cluster_blocks,
    )

    e = _embeddings(spark, sf_dir, "label").select(
        F.col("vec_id").alias("unique_id"),
        F.col("label").cast("string").alias("blocking_key"),
        F.col("embedding").alias("vec"),
    )
    return incremental_cluster_blocks(
        e, "vec", threshold=0.6, strategy="centroid"
    ).orderBy("unique_id")


def q_colour_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColourNegativeEdgesSplitter (splitters/common.py:130-178): positive
    jaccard-pair components recoloured under n_chars-distance negative edges.
    Greedy colouring — rows-only; reference goldens in tests/test_coloring.py.

    Parameters make the dirty path REAL: distinct-token jaccard ignores
    repetition, so char-length negatives (distance 200) fire inside
    high-jaccard clone components (measured: 5 dirty components at both
    sf0.01 and sf0.1). Subset like the other iterative demos (the splitter
    is a post-match operator; full-corpus jaccard scaling is benched by
    ``jaccard_pairs_docs``/``cc_jaccard_docs``)."""
    from entity_resolution_spark.operators.coloring import colour_negative_edges_split

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    pos = jaccard_pairs(d, "doc_id", "text", "lang", threshold=0.7, ngram=1).select(
        "id_a", "id_b", F.col("jaccard").alias("score")
    )
    neg = negative_edges_numeric_distance(
        d.select(
            F.col("doc_id").alias("unique_id"),
            F.array(F.col("n_chars").cast("double")).alias("v"),
            "lang",
        ),
        "v", distance=200.0, block_col="lang",
    )
    return colour_negative_edges_split(pos, neg).select(
        "unique_id", "cluster_id"
    ).orderBy("unique_id")


def q_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArticleTermVisitor (features/terms.py): per-doc combo_basic top terms.
    Float-scored ranking — rows-only; formula goldens in
    tests/test_terms_incremental.py."""
    from entity_resolution_spark.functions.terms import top_terms

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return top_terms(d, "text", id_col="doc_id", n=5).select(
        "unique_id", F.array_join("terms", "|").alias("terms_cat")
    ).orderBy("unique_id")


def q_gcn_resolve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCNCombiner (ml.py:31-209): SAGE mean layer over token-adjacency edges
    with embedding node features, cosine > th, CC. Seeded Glorot weights
    (no torch/S3 here) — rows-only; dense-arithmetic goldens in
    tests/test_gcn.py."""
    from entity_resolution_spark.operators.gcn import gcn_resolve

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("unique_id"), TX.distinct_tokens("text").alias("toks")
    )
    e = _embeddings(spark, sf_dir).select(
        F.col("vec_id").alias("unique_id"), F.col("embedding").alias("emb")
    )
    recs = d.join(e, "unique_id")
    return gcn_resolve(recs, ["toks"], "emb", th=0.98, rep_dim=16).orderBy("unique_id")


def q_acceptance_distribution_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_acceptance_distribution (quality_metrics.py:344-365): sampled
    pairwise acceptance scores over 5 seeded runs; clusters = minhash near-dup
    components, ground truth = exact-text groups. Seeded xxhash sampling —
    rows-only; semantics goldens in tests/test_distribution.py."""
    from entity_resolution_spark.qa.distribution import check_acceptance_distribution

    d = _t(spark, sf_dir, "documents")
    gt = d.groupBy("text").agg(F.min("doc_id").alias("_gt"))
    clusters = label_components(
        d.join(gt, "text"), _minhash_pairs_docs(spark, sf_dir), "doc_id", "id_a", "id_b"
    ).select(
        F.col("doc_id").cast("string").alias("unique_id"),
        F.col("lang").alias("blocking_key"),
        F.col("component").cast("string").alias("cluster_id"),
        F.col("_gt").cast("string").alias("ground_truth"),
    )
    return check_acceptance_distribution(clusters, 0.3, 5).orderBy("run")


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appx. C / Llama-2 §A.6 13-gram rule):
    flag corpus documents sharing any verbatim 13-token window with the eval
    set (deterministically, docs with doc_id % 10 = 0 — a 10% held-out
    benchmark slice, which at sf0.01 contaminates 6 non-eval clone-family
    docs beyond the 50 eval members themselves). Eval n-gram set is
    broadcast; corpus text is scanned once and never shuffled. Integer/boolean
    outputs only."""
    from entity_resolution_spark.operators.decontamination import decontaminate

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 10 == 0)
    return decontaminate(
        d, ev, text_col="text", id_col="doc_id", n=13
    ).orderBy("doc_id")


SQL_DECONTAMINATE_DOCS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
), ng AS (
  SELECT DISTINCT doc_id, ngram
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(tk) >= 13 THEN
                    list_transform(range(1, len(tk) - 11),
                                   i -> array_to_string(tk[i:i+12], ' '))
                  ELSE []::VARCHAR[] END) AS ngram
    FROM toks
  )
), ev AS (
  SELECT DISTINCT ngram FROM ng WHERE doc_id % 10 = 0
), hits AS (
  SELECT ng.doc_id,
         count(*)        AS total_ngrams,
         count(ev.ngram) AS contaminated_ngrams
  FROM ng LEFT JOIN ev USING (ngram)
  GROUP BY ng.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.total_ngrams, 0) AS BIGINT)        AS total_ngrams,
       CAST(COALESCE(h.contaminated_ngrams, 0) AS BIGINT) AS contaminated_ngrams,
       COALESCE(h.contaminated_ngrams, 0) > 0             AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking (context-window packing prep): 32-token chunks with
    8-token overlap. Map-only — zero shuffles; the orderBy here is only the
    driver-hash canonical order."""
    from entity_resolution_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(
        d, text_col="text", id_col="doc_id", chunk_tokens=32, overlap=8
    ).orderBy("doc_id", "chunk_idx")


SQL_CHUNK_DOCS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
), meta AS (
  SELECT doc_id, tk, len(tk) AS n,
         CASE WHEN len(tk) <= 0 THEN 0
              WHEN len(tk) <= 32 THEN 1
              ELSE (len(tk) - 32 + 23) // 24 + 1 END AS nc
  FROM toks
), ch AS (
  SELECT doc_id, tk, n, unnest(range(0, nc)) AS i FROM meta
)
SELECT doc_id,
       CAST(i AS BIGINT)            AS chunk_idx,
       CAST(i * 24 + 1 AS BIGINT)   AS token_start,
       CAST(least(32, n - (i * 24 + 1) + 1) AS BIGINT) AS n_tokens,
       array_to_string(
         tk[(i * 24 + 1):(i * 24 + least(32, n - (i * 24 + 1) + 1))], ' '
       ) AS chunk_text
FROM ch
"""


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source token-budget sampling (pretraining data
    mixing): Knuth multiplicative-hash rank order, keep while the source's
    running token total is under 700. Integer/boolean outputs only."""
    from entity_resolution_spark.operators.sampling import token_budget_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(TX.ws_tokens("text")).alias("n_tokens"),
    )
    return token_budget_sample(
        d, budget_tokens=700, bucket_col="source", id_col="doc_id"
    ).orderBy("doc_id")


SQL_TOKEN_BUDGET_SAMPLE = """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens,
         ((CAST(doc_id AS BIGINT) & 65535) * 2654435761
          + (((CAST(doc_id AS BIGINT) >> 16) & 65535) * 2654435761 % 65536)
            * 65536) % 4294967296 AS sample_rank
  FROM documents
)
SELECT doc_id, source, n_tokens, sample_rank,
       CAST(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY sample_rank, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_tokens,
       (sum(n_tokens) OVER (
         PARTITION BY source ORDER BY sample_rank, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) - n_tokens) < 700 AS kept
FROM d
"""


def q_temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted data mixing (XLM-R §3.1 alpha-sampling / the
    Gopher-PaLM mixture-temperature rule) at alpha = 0.5: per-source budgets
    ∝ isqrt(source tokens) — integer-exact on both engines — then the
    deterministic Knuth-rank keep-while-under-budget selection. Every hashed
    value is bigint; kept is bigint 0/1."""
    from entity_resolution_spark.operators.sampling import temperature_mixture_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias(
            "n_tokens"
        ),
    )
    out = temperature_mixture_sample(
        d, total_budget_tokens=50_000, alpha=0.5,
        bucket_col="source", id_col="doc_id",
    )
    return out.select(
        "doc_id", "source", "n_tokens", "budget_tokens", "sample_rank",
        "cum_tokens", F.col("kept").cast("bigint").alias("kept"),
    ).orderBy("doc_id")


SQL_TEMPERATURE_MIXTURE_DOCS = """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens,
         ((CAST(doc_id AS BIGINT) & 65535) * 2654435761
          + (((CAST(doc_id AS BIGINT) >> 16) & 65535) * 2654435761 % 65536)
            * 65536) % 4294967296 AS sample_rank
  FROM documents
), b AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens
  FROM d GROUP BY source
), iw AS (
  SELECT source, bucket_tokens,
         CAST(floor(sqrt(bucket_tokens::DOUBLE)) AS BIGINT) AS y0
  FROM b
), w AS (
  SELECT source,
         CASE WHEN (y0 + 1) * (y0 + 1) <= bucket_tokens THEN y0 + 1
              WHEN y0 * y0 > bucket_tokens THEN y0 - 1
              ELSE y0 END AS wgt
  FROM iw
), bb AS (
  SELECT source,
         CAST((CAST(50000 AS HUGEINT) * wgt) // SUM(wgt) OVER ()
              AS BIGINT) AS budget_tokens
  FROM w
)
SELECT d.doc_id, d.source, d.n_tokens, bb.budget_tokens, d.sample_rank,
       CAST(sum(d.n_tokens) OVER (
         PARTITION BY d.source ORDER BY d.sample_rank, d.doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_tokens,
       CAST((sum(d.n_tokens) OVER (
         PARTITION BY d.source ORDER BY d.sample_rank, d.doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) - d.n_tokens) < bb.budget_tokens AS BIGINT) AS kept
FROM d JOIN bb USING (source)
ORDER BY d.doc_id
"""


def q_unigram_rarity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality filter (CCNet/KenLM idea with integer-exact
    arithmetic): per-doc unigram self-information in whole bits,
    rarity(t) = floor(log2(n_docs/df)) = length(bin(n_docs DIV df)) − 1."""
    from entity_resolution_spark.operators.rarity import unigram_rarity_stats

    d = _t(spark, sf_dir, "documents")
    return unigram_rarity_stats(d, text_col="text", id_col="doc_id").orderBy(
        "doc_id"
    )


SQL_UNIGRAM_RARITY_DOCS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
), ex AS (
  SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks
), census AS (
  SELECT tok,
         CAST(length(format('{:b}',
           (SELECT count(*) FROM documents) // count(*))) - 1 AS BIGINT)
           AS rarity
  FROM ex GROUP BY tok
), agg AS (
  SELECT e.doc_id,
         count(*)      AS distinct_tokens,
         sum(c.rarity) AS sum_rarity,
         max(c.rarity) AS max_rarity
  FROM ex e JOIN census c USING (tok)
  GROUP BY e.doc_id
)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT)                    AS n_tokens,
       CAST(COALESCE(a.distinct_tokens, 0) AS BIGINT) AS distinct_tokens,
       CAST(COALESCE(a.sum_rarity, 0) AS BIGINT)      AS sum_rarity,
       CAST(COALESCE(a.max_rarity, 0) AS BIGINT)      AS max_rarity
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


def q_repeated_substrings_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring stats (the suffix-array dedup family,
    Lee et al. 2021, as a distributed window census): per doc, how many
    13-token windows occur verbatim in ≥ 2 docs and the longest consecutive
    run of them (longest duplicated span = run + 12 tokens)."""
    from entity_resolution_spark.operators.substrings import repeated_window_stats

    d = _t(spark, sf_dir, "documents")
    return repeated_window_stats(
        d, text_col="text", id_col="doc_id", n=13, min_docs=2
    ).orderBy("doc_id")


SQL_REPEATED_SUBSTRINGS_DOCS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
), wins AS (
  SELECT doc_id, i AS pos, array_to_string(tk[i:i+12], ' ') AS w
  FROM (
    SELECT doc_id, tk,
           unnest(range(1, greatest(len(tk) - 12, 0) + 1)) AS i
    FROM toks
  )
), census AS (
  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
), runs AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM wins JOIN census USING (w)
), agg AS (
  SELECT doc_id, sum(cnt) AS repeated_positions, max(cnt) AS max_repeated_run
  FROM (SELECT doc_id, grp, count(*) AS cnt FROM runs GROUP BY doc_id, grp)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(t.tk) - 12, 0) AS BIGINT)        AS n_windows,
       CAST(COALESCE(a.repeated_positions, 0) AS BIGINT)  AS repeated_positions,
       CAST(COALESCE(a.max_repeated_run, 0) AS BIGINT)    AS max_repeated_run
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


def q_dedup_survivors_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup MATERIALIZATION: the ≥0.6-jaccard near-dup clusters (same graph as
    ``cc_jaccard_docs``) reduced to a keep/drop decision per doc — most tokens
    wins, ties to the smallest id (RefinedWeb/SlimPajama keep-one recipe).
    ``keep`` travels as bigint 0/1 so the hashed values carry no booleans."""
    from entity_resolution_spark.operators.dedup import canonical_survivors

    d = _t(spark, sf_dir, "documents")
    clusters = q_cc_jaccard_docs(spark, sf_dir)
    out = canonical_survivors(
        d, clusters, id_col="doc_id", text_col="text", cluster_col="component"
    )
    return out.select(
        "doc_id",
        F.col("component").alias("cluster"),
        "n_tokens",
        F.col("keep").cast("bigint").alias("keep"),
    )


SQL_DEDUP_SURVIVORS_DOCS = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '')) AS tk
  FROM documents
), e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
  WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
        / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.6
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
), comp AS (
  SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src
), tok AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
)
SELECT c.doc_id, c.cluster,
       CAST(k.n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN row_number() OVER (
              PARTITION BY c.cluster
              ORDER BY k.n_tokens DESC, c.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM comp c JOIN tok k USING (doc_id)
"""


def q_source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-slice contamination audit: distinct 13-token windows shared
    verbatim between every pair of sources — the split-hygiene census a
    pipeline runs before trusting a held-out slice."""
    from entity_resolution_spark.operators.substrings import source_overlap_matrix

    d = _t(spark, sf_dir, "documents")
    return source_overlap_matrix(d, text_col="text", group_col="source", n=13)


SQL_SOURCE_OVERLAP_DOCS = r"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS tk
  FROM documents
), gw AS (
  SELECT DISTINCT source, array_to_string(tk[i:i+12], ' ') AS w
  FROM (
    SELECT source, tk,
           unnest(range(1, greatest(len(tk) - 12, 0) + 1)) AS i
    FROM toks
  )
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_windows
FROM gw a JOIN gw b ON a.w = b.w AND a.source < b.source
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Geographic mention resolution (ArticleGeoVisitor, geography.py:273-394)
# ---------------------------------------------------------------------------

# deterministic synthetic GPE mentions (public-facts sample lexicon): every
# doc gets two mentions picked by doc_id so the oracle can replay the choice
_GEO_MENTION_POOL = [
    "USA", "Berlin", " uk ", "Texas", "Narnia", "Germany", "IN", "America",
    "Bavaria", "new delhi", "GB", "Atlantis", "United Kingdom", "washington",
]


def _geo_sample_mapping(spark: SparkSession):
    from entity_resolution_spark.operators.geo import geo_mapping

    countries = spark.createDataFrame(
        [
            ("United States", "US"),
            ("United Kingdom", "GB"),
            ("Germany", "DE"),
            ("India", "IN"),
        ],
        ["name", "code"],
    )
    aliases = spark.createDataFrame(
        [
            ("United States", ["USA", "America", "the states"]),
            ("United Kingdom", ["UK", "Britain", "Great Britain"]),
            ("Deutschland", ["Germany", "Bundesrepublik"]),  # primary/alias swap
        ],
        "name string, aliases array<string>",
    )
    divisions = spark.createDataFrame(
        [
            ("US", ["California", "Texas"], "Washington"),
            ("DE", ["Bavaria"], "Berlin"),
            ("IN", [], "New Delhi"),
        ],
        "code string, states array<string>, capital string",
    )
    return geo_mapping(countries, aliases, divisions)


def q_geo_resolve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPE -> canonical country per doc (geography.py:345-394): lexicon
    broadcast join over exploded mentions, misses kept raw. The oracle
    inlines the EXPECTED mention->country closure, so a geo_mapping builder
    bug (priority order, primary/alias swap, code/state/capital edges)
    changes the Spark-side hash and fails the comparison."""
    from entity_resolution_spark.operators.geo import resolve_geo_mentions

    k = len(_GEO_MENTION_POOL)
    pool = F.array(*[F.lit(s) for s in _GEO_MENTION_POOL])
    d = _t(spark, sf_dir, "documents").select("doc_id")
    men = d.select(
        "doc_id",
        F.array(
            F.element_at(pool, (F.col("doc_id") % k + 1).cast("int")),
            F.element_at(pool, ((F.col("doc_id") * 7 + 3) % k + 1).cast("int")),
        ).alias("gpe_mentions"),
    )
    out = resolve_geo_mentions(
        men, _geo_sample_mapping(spark), id_col="doc_id"
    )
    return out.select(
        "doc_id", F.concat_ws("|", "gpe_clean").alias("gpe_clean")
    )


SQL_GEO_RESOLVE_DOCS = r"""
WITH lex(i, s) AS (VALUES
  (0,'USA'),(1,'Berlin'),(2,' uk '),(3,'Texas'),(4,'Narnia'),(5,'Germany'),
  (6,'IN'),(7,'America'),(8,'Bavaria'),(9,'new delhi'),(10,'GB'),
  (11,'Atlantis'),(12,'United Kingdom'),(13,'washington')
), mapping(mention, country) AS (VALUES
  ('united states','united states'),('united kingdom','united kingdom'),
  ('germany','germany'),('india','india'),
  ('us','united states'),('gb','united kingdom'),('de','germany'),
  ('in','india'),
  ('usa','united states'),('america','united states'),
  ('the states','united states'),
  ('uk','united kingdom'),('britain','united kingdom'),
  ('great britain','united kingdom'),
  ('deutschland','germany'),('bundesrepublik','germany'),
  ('california','united states'),('texas','united states'),
  ('bavaria','germany'),
  ('washington','united states'),('berlin','germany'),('new delhi','india')
), men AS (
  SELECT doc_id, doc_id % 14 AS i1, (doc_id * 7 + 3) % 14 AS i2
  FROM documents
), ex AS (
  SELECT doc_id, s FROM men JOIN lex ON lex.i = men.i1
  UNION ALL
  SELECT doc_id, s FROM men JOIN lex ON lex.i = men.i2
), res AS (
  SELECT DISTINCT e.doc_id, coalesce(m.country, trim(e.s)) AS r
  FROM ex e LEFT JOIN mapping m ON lower(trim(e.s)) = m.mention
)
SELECT doc_id, string_agg(r, '|' ORDER BY r) AS gpe_clean
FROM res GROUP BY doc_id
"""


def q_bigram_phrases_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gensim-Phrases collocation statistics over the documents table
    (``operators/topics.fit_bigram_phrases`` — reference ``get_ngram_model``,
    ``utils/topic_model_helpers.py:50-60``): unigram + adjacent-bigram census,
    vocab length, and the integer-exact original-scorer qualification at the
    reference defaults (min_count=5, threshold=100). All hashed columns are
    integers."""
    from entity_resolution_spark.operators.topics import (
        fit_bigram_phrases,
        simple_tokens,
    )

    d = _t(spark, sf_dir, "documents").select(
        simple_tokens("text").alias("tk")
    )
    return fit_bigram_phrases(d, "tk", min_count=5, threshold=100.0)


SQL_BIGRAM_PHRASES_DOCS = r"""
WITH tk AS (
  SELECT list_filter(regexp_extract_all(lower(text), '[a-z_]+'),
                     t -> length(t) BETWEEN 2 AND 15) AS tk
  FROM documents
), tk2 AS (
  SELECT tk FROM tk WHERE len(tk) > 0
), uni AS (
  SELECT u.w AS w, COUNT(*) AS c FROM tk2, UNNEST(tk2.tk) AS u(w) GROUP BY 1
), pb AS (
  SELECT list_transform(range(1, len(tk)), i -> [tk[i], tk[i + 1]]) AS pl
  FROM tk2 WHERE len(tk) >= 2
), big AS (
  SELECT u.p[1] AS word_a, u.p[2] AS word_b, COUNT(*) AS cnt_ab
  FROM pb, UNNEST(pb.pl) AS u(p) GROUP BY 1, 2
), v AS (
  SELECT (SELECT COUNT(*) FROM uni) + (SELECT COUNT(*) FROM big) AS vocab_len
)
SELECT b.word_a, b.word_b,
       CAST(ua.c AS BIGINT)        AS cnt_a,
       CAST(ub.c AS BIGINT)        AS cnt_b,
       CAST(b.cnt_ab AS BIGINT)    AS cnt_ab,
       CAST(v.vocab_len AS BIGINT) AS vocab_len,
       CAST((b.cnt_ab - 5) * v.vocab_len > 100 * ua.c * ub.c AS BIGINT)
         AS qualifies
FROM big b
JOIN uni ua ON b.word_a = ua.w
JOIN uni ub ON b.word_b = ub.w
CROSS JOIN v
WHERE b.cnt_ab >= 5
"""


def q_pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction census (``operators/pii.redact_pii`` — the C4 /
    RefinedWeb §4.3 / BigCode scrubbing pass). The synthetic corpus carries
    no PII, so the query first injects deterministic doc_id-derived PII
    (email always; IPv4 when doc_id%3=0; phone %5; SSN %7; md5-hex secret
    %4 — the SAME arithmetic on both engines), then redacts and counts.
    Pure map-side projection, zero shuffles; integer audit counts so the
    driver hash is engine-exact."""
    from entity_resolution_spark.operators.pii import redact_pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def _opt(cond, *parts):
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    aug = F.concat(
        F.col("text"),
        F.lit(" mail user"), did.cast("string"), F.lit("@example.com"),
        _opt(did % 3 == 0, F.lit(" host 10."), (did % 256).cast("string"),
             F.lit(".0."), (did % 100).cast("string")),
        _opt(did % 5 == 0, F.lit(" call +1 555-"),
             (did % 900 + 100).cast("string"), F.lit("-"),
             (did % 9000 + 1000).cast("string")),
        _opt(did % 7 == 0, F.lit(" ssn 123-45-"),
             (did % 9000 + 1000).cast("string")),
        _opt(did % 4 == 0, F.lit(" key "), F.md5(did.cast("string"))),
    )
    out = redact_pii(d.select("doc_id", aug.alias("text")))
    counts = [
        F.col(f"pii_{n}").cast("long").alias(f"pii_{n}")
        for n in ("email", "ipv4", "phone", "ssn", "secret", "total")
    ]
    return out.select("doc_id", *counts, "redacted_text").orderBy("doc_id")


SQL_PII_REDACT_DOCS = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' mail user' || doc_id || '@example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1 555-' || (doc_id % 900 + 100) || '-'
                      || (doc_id % 9000 + 1000)
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' ssn 123-45-' || (doc_id % 9000 + 1000)
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' key ' || md5(CAST(doc_id AS VARCHAR))
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS pii_email,
  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS pii_ipv4,
  CAST(len(regexp_extract_all(t, '(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]?\d{3}[ .-]\d{4}\b')) AS BIGINT) AS pii_phone,
  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS pii_ssn,
  CAST(len(regexp_extract_all(t, '\b[0-9a-f]{32,64}\b')) AS BIGINT) AS pii_secret,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
     + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
     + len(regexp_extract_all(t, '(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]?\d{3}[ .-]\d{4}\b'))
     + len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
     + len(regexp_extract_all(t, '\b[0-9a-f]{32,64}\b')) AS BIGINT) AS pii_total,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    t,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]?\d{3}[ .-]\d{4}\b', '<PHONE>', 'g'),
    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
    '\b[0-9a-f]{32,64}\b', '<SECRET>', 'g') AS redacted_text
FROM aug
"""


def q_preprocess_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input preprocessing (``operators/filters.preprocess_input_records`` —
    reference ``utils/random_data.py:40-66``): scheme-normalize the record
    URL, dedupe on it keeping the first occurrence (by doc_id), then keep
    only records whose entity name occurs in the text. Records are derived
    deterministically from documents: name = first text token (or an
    absent sentinel for doc_id%4=0 rows, exercising the containment drop),
    unique_id = rotating https/ftp/http scheme over doc_id%400 (forcing
    scheme-collapsed duplicates). Output is string/integer only."""
    from entity_resolution_spark.operators.filters import (
        preprocess_input_records,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    scheme = (
        F.when(did % 3 == 0, F.lit("https"))
        .when(did % 3 == 1, F.lit("ftp"))
        .otherwise(F.lit("http"))
    )
    rec = d.select(
        did.alias("doc_id"),
        F.when(did % 4 == 0, F.lit("zz_absent_zz"))
        .otherwise(F.regexp_extract(F.col("text"), "[^ ]+", 0))
        .alias("blocking_field"),
        F.concat(scheme, F.lit("://ex.com/"), (did % 400).cast("string"))
        .alias("unique_id"),
        F.col("text").alias("content"),
        "lang",
        "source",
    )
    out = preprocess_input_records(
        rec,
        meta_keys=("lang", "source"),
        order_by=F.col("doc_id"),
    )
    return out.select(
        "blocking_field",
        "unique_id",
        F.length("content").cast("long").alias("content_len"),
        "lang",
        "source",
    ).orderBy("unique_id", "blocking_field")


SQL_PREPROCESS_DOCS = r"""
WITH rec AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'zz_absent_zz'
              ELSE regexp_extract(text, '[^ ]+') END AS blocking_field,
         CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'ftp'
              ELSE 'http' END || '://ex.com/' || (doc_id % 400) AS unique_id,
         text AS content, lang, source
  FROM documents
), norm AS (
  SELECT doc_id, blocking_field,
         regexp_replace(unique_id, '^[A-Za-z][A-Za-z0-9+.-]*://', 'http://')
           AS unique_id,
         content, lang, source
  FROM rec
), first AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY unique_id ORDER BY doc_id)
           AS rn
    FROM norm
  ) WHERE rn = 1
)
SELECT blocking_field, unique_id,
       CAST(length(content) AS BIGINT) AS content_len, lang, source
FROM first
WHERE contains(content, blocking_field)
"""


def q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning (``operators/cleaning.c4_clean`` — Raffel et
    al. 2020 §2.2). Documents are single-line word soup, so the query first
    synthesizes line structure deterministically on BOTH engines: a newline
    plus terminal '.' after every 7th token (',' instead for doc_id%3=0 —
    those pages lose every line to the punctuation rule), a 'lorem ipsum'
    page poison for %11, a curly bracket for %13 and a javascript line for
    %17. All audit outputs integer; clean_text NULL for dropped pages."""
    from entity_resolution_spark.operators.cleaning import c4_clean

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rep = F.when(did % 3 == 0, F.lit("$1,\n")).otherwise(F.lit("$1.\n"))
    lined = F.regexp_replace(F.col("text"), r"((?:[^ ]+ ){6}[^ ]+) ", rep)

    def _opt(cond, lit):
        return F.when(cond, F.lit(lit)).otherwise(F.lit(""))

    aug = F.concat(
        lined,
        _opt(did % 11 == 0, " lorem ipsum"),
        _opt(did % 13 == 0, " {x}"),
        _opt(did % 17 == 0, "\nthis javascript line would pass otherwise."),
    )
    out = c4_clean(d.select("doc_id", aug.alias("text")))
    return out.select(
        "doc_id", "n_lines", "n_kept_lines", "page_kept", "clean_text"
    ).orderBy("doc_id")


SQL_C4_CLEAN_DOCS = r"""
WITH lined AS (
  SELECT doc_id,
         regexp_replace(text, '((?:[^ ]+ ){6}[^ ]+) ',
             '\1' || CASE WHEN doc_id % 3 = 0 THEN ',' ELSE '.' END
                  || chr(10), 'g')
         || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' {x}' ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN chr(10) || 'this javascript line would pass otherwise.'
                 ELSE '' END AS t
  FROM documents
), kept AS (
  SELECT doc_id, t,
         len(string_split(t, chr(10))) AS n_lines,
         list_transform(
           list_filter(string_split(t, chr(10)),
                       l -> regexp_matches(trim(l), '[.!?"]$')
                            AND len(regexp_split_to_array(trim(l), ' +')) >= 3
                            AND NOT contains(lower(l), 'javascript')),
           l -> trim(l)) AS kl
  FROM lined
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kl) AS BIGINT) AS n_kept_lines,
       CAST(len(kl) >= 5 AND NOT contains(t, '{')
            AND NOT contains(lower(t), 'lorem ipsum') AS BIGINT) AS page_kept,
       CASE WHEN len(kl) >= 5 AND NOT contains(t, '{')
                 AND NOT contains(lower(t), 'lorem ipsum')
            THEN array_to_string(kl, chr(10)) END AS clean_text
FROM kept
"""


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-line removal (``cleaning.corpus_line_dedup`` —
    the across-dataset half of C4 §2.2 at line granularity; RefinedWeb/Dolma
    run the same pass before document near-dedup). Line structure is
    synthesized deterministically on BOTH engines (newline after every 7th
    token), and doc_id%3=0 pages get a constant boilerplate header line so
    the corpus-wide rule provably fires: every copy but the first
    (min (doc_id, pos)) must drop. Near-dup document families make many
    ORGANIC 7-token lines collide across docs too — the census is the thing
    under test, not just the planted header."""
    from entity_resolution_spark.operators.cleaning import corpus_line_dedup

    d = _t(spark, sf_dir, "documents")
    t0 = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"((?:[^ ]+ ){6}[^ ]+) ", "$1\n"
    )
    t = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("boilerplate footer line\n"), t0),
    ).otherwise(t0)
    return corpus_line_dedup(
        d.select("doc_id", t.alias("text")), min_count=2
    ).orderBy("doc_id")


SQL_LINE_DEDUP_DOCS = r"""
WITH lined AS (
  SELECT doc_id,
         regexp_replace(coalesce(text, ''), '((?:[^ ]+ ){6}[^ ]+) ',
                        '\1' || chr(10), 'g') AS t0
  FROM documents
), aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'boilerplate footer line' || chr(10) || t0
              ELSE t0 END AS t
  FROM lined
), ls AS (
  SELECT doc_id, string_split(t, chr(10)) AS l FROM aug
), ex AS (
  SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, l FROM ls
), ne AS (
  SELECT doc_id, pos, l[pos] AS ln, trim(l[pos]) AS tln
  FROM ex
  WHERE trim(l[pos]) <> ''
), marked AS (
  SELECT doc_id, pos, ln,
         COUNT(*)     OVER (PARTITION BY tln)                       AS cnt,
         ROW_NUMBER() OVER (PARTITION BY tln ORDER BY doc_id, pos)  AS rn
  FROM ne
), keptl AS (
  SELECT doc_id, pos, ln FROM marked WHERE cnt < 2 OR rn = 1
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept_lines,
         string_agg(ln, chr(10) ORDER BY pos) AS clean_text
  FROM keptl GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(len(l.l) AS BIGINT)                  AS n_lines,
       CAST(COALESCE(a.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       a.clean_text
FROM ls l LEFT JOIN agg a USING (doc_id)
ORDER BY l.doc_id
"""


def q_gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 quality rules (``operators/quality.gopher_quality`` —
    Rae et al. 2021). Documents are single-line word soup, so the query
    synthesizes line structure deterministically on BOTH engines (newline
    after every 7th token), then injects rule triggers: doc_id%7=0 pages get
    a bullet prefix per line (bullet rule), doc_id%5=0 pages get a trailing
    ellipsis per line (ellipsis-line + symbol rules). Every hashed value is
    a bigint — the rules are evaluated division-free (cross-multiplied
    integer comparisons)."""
    from entity_resolution_spark.operators.quality import gopher_quality

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t0 = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"((?:[^ ]+ ){6}[^ ]+) ", "$1\n"
    )
    t1 = F.when(
        did % 7 == 0,
        F.concat(F.lit("- "), F.regexp_replace(t0, "\n", "\n- ")),
    ).otherwise(t0)
    t = F.when(
        did % 5 == 0,
        F.concat(F.regexp_replace(t1, "\n", "...\n"), F.lit("...")),
    ).otherwise(t1)
    return gopher_quality(
        d.select("doc_id", t.alias("text")), id_col="doc_id"
    ).orderBy("doc_id")


SQL_GOPHER_QUALITY_DOCS = r"""
WITH lined AS (
  SELECT doc_id,
         regexp_replace(coalesce(text, ''), '((?:[^ ]+ ){6}[^ ]+) ',
                        '\1' || chr(10), 'g') AS t0
  FROM documents
), aug1 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN '- ' || replace(t0, chr(10), chr(10) || '- ')
              ELSE t0 END AS t1
  FROM lined
), aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN replace(t1, chr(10), '...' || chr(10)) || '...'
              ELSE t1 END AS t
  FROM aug1
), tk AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(lower(t), '\s+'),
                     x -> x <> '') AS toks,
         list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
                     l -> length(l) > 0) AS lns
  FROM aug
), parts AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_words,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT
           AS word_chars,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::BIGINT
           AS n_alpha_words,
         len(regexp_extract_all(t, '#'))::BIGINT AS n_hash_symbols,
         (len(regexp_extract_all(t, '\.\.\.'))
          + len(regexp_extract_all(t, '…')))::BIGINT AS n_ellipsis_symbols,
         len(lns)::BIGINT AS n_lines,
         len(list_filter(lns, l -> regexp_matches(l, '^[-*•‣▪]')))::BIGINT
           AS n_bullet_lines,
         len(list_filter(lns, l -> regexp_matches(l, '(\.\.\.|…)$')))::BIGINT
           AS n_ellipsis_lines,
         len(list_filter(['the','be','to','of','and','that','have','with'],
                         w -> list_contains(toks, w)))::BIGINT AS n_stop_hits
  FROM tk
), masked AS (
  SELECT *,
         (  CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
          + CASE WHEN word_chars < 3 * n_words
                   OR word_chars > 10 * n_words THEN 2 ELSE 0 END
          + CASE WHEN 10 * n_hash_symbols > n_words
                   OR 10 * n_ellipsis_symbols > n_words THEN 4 ELSE 0 END
          + CASE WHEN 10 * n_bullet_lines > 9 * n_lines THEN 8 ELSE 0 END
          + CASE WHEN 10 * n_ellipsis_lines > 3 * n_lines THEN 16 ELSE 0 END
          + CASE WHEN 5 * n_alpha_words < 4 * n_words THEN 32 ELSE 0 END
          + CASE WHEN n_stop_hits < 2 THEN 64 ELSE 0 END)::BIGINT AS fail_mask
  FROM parts
)
SELECT doc_id, n_words, word_chars, n_alpha_words, n_hash_symbols,
       n_ellipsis_symbols, n_lines,
       n_bullet_lines, n_ellipsis_lines, n_stop_hits, fail_mask,
       (fail_mask = 0)::BIGINT AS keep
FROM masked
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Driver-hash gate rows for non-SQL-expressible operators (VERDICT r4 asks
# #2/#3): each emits a tiny frame of exact integers/booleans whose expected
# values a DuckDB oracle computes straight from the parquet tables — the
# minhash_recall_gate / er_resolve_f1_docs pattern (reference analog:
# acceptance sampling as the check of record, qa/acceptance_metrics.py:55-74).
# None of these are bench-timed (HEADLINE is an allowlist): their subtrees
# re-run operators the headline queries already time.
# ---------------------------------------------------------------------------


def lsh_ann_recall_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(n_truth, n_hit) of the sign-sketch LSH top-5 (the lsh_ann_topk
    schedule) against the exact brute-force top-5 of the same 20 probes —
    shared by lsh_ann_recall_gate and bench.py's recall figure."""
    e = _embeddings(spark, sf_dir)
    probes = e.where(F.col("vec_id") < 20)
    truth = (
        brute_force_topk(e, probes, k=5)
        .select("probe_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    ann = lsh_ann_topk(e, probes, k=5).select("probe_id", "neighbor_id")
    n_truth = truth.count()
    return n_truth, ann.join(truth, ["probe_id", "neighbor_id"], "left_semi").count()


def q_lsh_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the sign-sketch LSH ANN contract: the exact brute-force
    top-5 truth-set SIZE (SQL-certifiable) plus a boolean asserting recall ≥
    0.95 against it — the bench gate (observed 0.99 at sf0.01) turned into a
    hash-compared row. The truth size is the non-trivial integer: per probe
    it is min(k, N−1) (self excluded), so the row also certifies that the
    ANN output joins per-probe against a complete truth set."""
    n_truth, n_hit = lsh_ann_recall_counts(spark, sf_dir)
    return spark.createDataFrame(
        [(n_truth, bool(n_hit * 20 >= 19 * n_truth))],
        "n_truth bigint, recall_ge_95 boolean",
    )


SQL_LSH_ANN_RECALL_GATE = """
SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 20)
            * LEAST(5, (SELECT count(*) FROM embeddings) - 1) AS BIGINT)
         AS n_truth,
       TRUE AS recall_ge_95
"""


def _planted_partner_corpus(spark: SparkSession, sf_dir: str):
    """Deterministic planted-partner corpus of the IVF and PQ recall gates:
    for every embedding with vec_id < 100, union a partner at cosine ≈ 0.995
    (5% seeded noise, drawn in vec_id order so the corpus does not depend on
    scan order) under id+1_000_000. Returns (corpus, base_ids). Near-dup
    retrieval is the regime cell/quantizer ANN indexes exist for — the sf
    tables themselves are isotropic at cosine 0.3-0.5 where any cell index
    degenerates to recall ≈ scan fraction."""
    import numpy as _np

    e = _embeddings(spark, sf_dir)
    base = sorted(e.where(F.col("vec_id") < 100).collect(), key=lambda r: r["vec_id"])
    rng = _np.random.RandomState(0xC0FFEE)
    planted = [
        (
            int(r["vec_id"]) + 1_000_000,
            [
                float(x)
                for x in _np.asarray(r["embedding"])
                + 0.05
                * _np.linalg.norm(r["embedding"])
                / _np.sqrt(len(r["embedding"]))
                * rng.standard_normal(len(r["embedding"]))
            ],
        )
        for r in base
    ]
    corpus = e.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    )
    return corpus, [int(r["vec_id"]) for r in base]


SQL_PLANTED_GATE = """
WITH b AS (SELECT count(*) AS n FROM embeddings WHERE vec_id < 100)
SELECT CAST(n AS BIGINT) AS n_planted,
       CAST(n AS BIGINT) AS n_hit,
       CAST(0 AS BIGINT) AS n_missed
FROM b
"""


def _planted_recall_row(
    spark: SparkSession, sf_dir: str, ann_topk: Callable[[DataFrame, DataFrame], DataFrame]
) -> DataFrame:
    """(n_planted, n_hit, n_missed): how many of the planted originals
    retrieve their partner in ``ann_topk(corpus, probes)``'s top-5."""
    corpus, base_ids = _planted_partner_corpus(spark, sf_dir)
    probes = corpus.where(F.col("vec_id") < 100)
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann_topk(corpus, probes).select("probe_id", "neighbor_id").collect()
    }
    hits = sum(1 for i in base_ids if (i, i + 1_000_000) in got)
    return spark.createDataFrame(
        [(len(base_ids), hits, len(base_ids) - hits)],
        "n_planted bigint, n_hit bigint, n_missed bigint",
    )


def q_ivf_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the IVF ANN planted-partner contract: every original
    must retrieve its cosine≈0.995 partner in top-5 while scanning
    n_probe/√N of the coarse cells. Integer (n_planted, n_hit, n_missed);
    the oracle asserts perfect planted recall (n_missed = 0)."""
    from entity_resolution_spark.operators.similarity import ivf_ann_topk

    return _planted_recall_row(
        spark, sf_dir, lambda c, p: ivf_ann_topk(c, p, k=5, n_probe=4)
    )


def q_pq_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the PQ ANN planted-partner contract: every original
    must retrieve its partner in top-5 through the quantized ADC screen
    while exactly reranking only the global ADC top-64. Same shape/oracle
    as the IVF gate."""
    from entity_resolution_spark.operators.similarity import pq_ann_topk

    return _planted_recall_row(
        spark, sf_dir, lambda c, p: pq_ann_topk(c, p, k=5, m=8, k_codes=32, rerank=64)
    )


def q_colour_split_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the colour splitter's two invariants (the properties
    the reference's break_subgraph exists to guarantee, splitters/common.py:
    130-178): (1) NO negative edge ends up monochromatic — its endpoints are
    always split into different clusters; (2) every output cluster stays
    INSIDE one positive component (recolouring refines the CC partition,
    never merges across it). Plus the exact node count of the positive
    graph, which the DuckDB oracle recomputes from string-token jaccard.
    Greedy colouring itself stays rows-only (cluster ids are
    algorithm-defined); these integers are the SQL-certifiable contract."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    pos = jaccard_pairs(
        d, "doc_id", "text", "lang", threshold=0.7, ngram=1
    ).select("id_a", "id_b", F.col("jaccard").alias("score")).localCheckpoint(
        eager=True
    )
    neg = negative_edges_numeric_distance(
        d.select(
            F.col("doc_id").alias("unique_id"),
            F.array(F.col("n_chars").cast("double")).alias("v"),
            "lang",
        ),
        "v", distance=200.0, block_col="lang",
    )
    from entity_resolution_spark.operators.coloring import (
        colour_negative_edges_split,
    )

    # the splitter's component column is its own CC label — recomputing
    # connected components over the same positive graph here would run the
    # most expensive stage twice
    labels = colour_negative_edges_split(pos, neg).localCheckpoint(eager=True)
    n_nodes = labels.count()
    la = labels.select(
        F.col("unique_id").alias("id_a"), F.col("cluster_id").alias("_ca")
    )
    lb = labels.select(
        F.col("unique_id").alias("id_b"), F.col("cluster_id").alias("_cb")
    )
    n_mono = (
        neg.select(
            F.col("id_a").cast("string").alias("id_a"),
            F.col("id_b").cast("string").alias("id_b"),
        )
        .join(la, "id_a")
        .join(lb, "id_b")
        .where(F.col("_ca") == F.col("_cb"))
        .count()
    )
    n_cross = (
        labels.groupBy("cluster_id")
        .agg(F.countDistinct("component").alias("_nc"))
        .where(F.col("_nc") > 1)
        .count()
    )
    return spark.createDataFrame(
        [(n_nodes, n_mono, n_cross)],
        "n_nodes bigint, n_monochromatic_neg bigint, n_clusters_crossing_components bigint",
    )


SQL_COLOUR_SPLIT_GATE = """
WITH t AS (
  SELECT doc_id, lang,
         list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                   x -> x <> '')) AS tk
  FROM documents WHERE doc_id < 1000
), e AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.tk, b.tk))::DOUBLE
        / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.7
), nodes AS (
  SELECT src AS id FROM e UNION SELECT dst AS id FROM e
)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST(0 AS BIGINT) AS n_monochromatic_neg,
       CAST(0 AS BIGINT) AS n_clusters_crossing_components
"""


def q_acceptance_distribution_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver rows for the acceptance-sampling machinery
    (quality_metrics.py:344-365 + acceptance_metrics.py:55-74): run the REAL
    seeded pair-sampling + weighted-P/R/F computation at sampling_rate=0.25
    over a clustering that provably agrees with ground truth on every pair
    (cluster partition == truth partition, certified separately by
    er_resolve_docs_exact), so the per-run sampled-pair COUNT is closed-form
    in SQL — Σ_blocks floor(0.25·n_block), exercising the rank/lead/rate-
    cutoff logic exactly — and all four weighted metrics must hit 1.0
    (asserted within 1e-9: the weighted sums sy/n + sn/n are float).
    Disagreeing-clustering behavior stays golden-tested
    (tests/test_distribution.py)."""
    from entity_resolution_spark.qa.distribution import (
        check_acceptance_distribution,
    )

    d = _t(spark, sf_dir, "documents")
    clusters = d.select(
        F.col("doc_id").cast("string").alias("unique_id"),
        F.col("lang").alias("blocking_key"),
        F.concat(F.lit("c#"), F.sha2(F.col("text"), 256)).alias("cluster_id"),
        F.sha2(F.col("text"), 256).alias("ground_truth"),
    )
    out = check_acceptance_distribution(clusters, 0.25, 3)

    def _ok(c):
        return (F.abs(F.col(c) - F.lit(1.0)) < 1e-9).alias(f"{c}_ok")

    return out.select(
        "run",
        F.col("pairs_sampled").cast("bigint").alias("pairs_sampled"),
        _ok("accuracy"), _ok("precision"), _ok("recall"), _ok("fscore"),
    ).orderBy("run")


SQL_ACCEPTANCE_DISTRIBUTION_GATE = """
WITH b AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
ps AS (
  SELECT CAST(COALESCE(SUM(CAST(floor(n * 0.25) AS BIGINT)), 0) AS BIGINT) AS p
  FROM b
)
SELECT r.range::INT AS run, ps.p AS pairs_sampled,
       TRUE AS accuracy_ok, TRUE AS precision_ok,
       TRUE AS recall_ok, TRUE AS fscore_ok
FROM ps, range(3) r
ORDER BY run
"""


def q_kmeans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver rows for the per-block k-means combiner's label-partition
    contract (tfidf.py:20-78 semantics): per block — exact row count, k in
    [1, min(max_k, n_rows)], all record ids distinct, and ZERO orphan
    labels (every cluster_id is the min-member convention, so it must BE a
    member id of its own block). The centroid arithmetic stays golden-tested
    (tests/test_kmeans_spectral.py); these are the SQL-certifiable
    invariants."""
    out = q_kmeans_embeddings(spark, sf_dir).localCheckpoint(eager=True)
    # shared contract (coverage / distinct ids / orphans) + the kmeans-only
    # k-range column — one implementation of the member-label logic
    ks = out.groupBy("blocking_key").agg(
        F.countDistinct("cluster_id").alias("_k"), F.count("*").alias("_n")
    )
    return (
        _block_label_gate(out)
        .join(
            ks.select(
                "blocking_key",
                (
                    (F.col("_k") >= 1)
                    & (F.col("_k") <= F.least(F.lit(6), F.col("_n")))
                ).alias("k_valid"),
            ),
            "blocking_key",
        )
        .select("blocking_key", "n_rows", "k_valid", "ids_distinct", "n_orphans")
        .orderBy("blocking_key")
    )


SQL_KMEANS_GATE = """
SELECT label::VARCHAR AS blocking_key,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS k_valid,
       TRUE AS ids_distinct,
       CAST(0 AS BIGINT) AS n_orphans
FROM embeddings
GROUP BY label
ORDER BY blocking_key
"""


def _block_label_gate(out: DataFrame) -> DataFrame:
    """Shared per-block label-partition contract used by the kmeans /
    spectral / incremental gates: (blocking_key, n_rows, ids_distinct,
    n_orphans) where an orphan is a cluster label that is NOT the id of a
    member of its own block — every combiner in this family labels clusters
    by a member id (min member or founding record), so a single orphan
    means the labeling contract broke."""
    g = out.groupBy("blocking_key").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("unique_id").alias("_nu"),
    )
    members = out.select(
        "blocking_key", F.col("unique_id").cast("string").alias("cluster_id")
    ).distinct()
    orphans = (
        out.select("blocking_key", F.col("cluster_id").cast("string").alias("cluster_id"))
        .distinct()
        .join(members, ["blocking_key", "cluster_id"], "left_anti")
        .groupBy("blocking_key")
        .agg(F.count("*").alias("_orph"))
    )
    return (
        g.join(orphans, "blocking_key", "left")
        .select(
            "blocking_key",
            "n_rows",
            (F.col("_nu") == F.col("n_rows")).alias("ids_distinct"),
            F.coalesce(F.col("_orph"), F.lit(0)).cast("bigint").alias("n_orphans"),
        )
        .orderBy("blocking_key")
    )


def q_spectral_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver rows for the spectral combiner's label-partition contract
    (utils/spectral.py semantics): per (lang|source) block — exact row
    count, distinct record ids, zero orphan labels (both the small-block CC
    path and the eig path label clusters by a member id). Eigenvector
    arithmetic stays golden-tested (tests/test_kmeans_spectral.py)."""
    out = q_spectral_docs(spark, sf_dir)
    return _block_label_gate(out)


SQL_SPECTRAL_GATE = """
SELECT lang || '|' || source AS blocking_key,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS ids_distinct,
       CAST(0 AS BIGINT) AS n_orphans
FROM documents
GROUP BY 1
ORDER BY 1
"""


def q_incremental_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver rows for the centroid incremental combiner's contract
    (incremental_clustering.py:163-210): per label block — row coverage,
    distinct ids, zero orphan labels (cluster_id is the FOUNDING record's
    id, necessarily a block member). The walk arithmetic stays
    golden-tested (tests/test_terms_incremental.py)."""
    out = q_incremental_embeddings(spark, sf_dir)
    return _block_label_gate(out)


SQL_INCREMENTAL_GATE = """
SELECT label::VARCHAR AS blocking_key,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS ids_distinct,
       CAST(0 AS BIGINT) AS n_orphans
FROM embeddings
GROUP BY label
ORDER BY blocking_key
"""


def q_gcn_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the GCN combiner's output contract (ml.py:160-209
    tail): exact row coverage of the docs⋈embeddings input, distinct ids,
    zero orphan labels (cosine>th → CC → min-id, so every cluster_id is a
    member id). The SAGE arithmetic stays golden-tested
    (tests/test_gcn.py)."""
    out = q_gcn_resolve_docs(spark, sf_dir).localCheckpoint(eager=True)
    members = out.select(F.col("unique_id").cast("string").alias("_m")).distinct()
    n_rows = out.count()
    n_distinct = out.select("unique_id").distinct().count()
    n_orph = (
        out.select(F.col("cluster_id").cast("string").alias("_m"))
        .distinct()
        .join(members, "_m", "left_anti")
        .count()
    )
    return spark.createDataFrame(
        [(n_rows, bool(n_distinct == n_rows), n_orph)],
        "n_rows bigint, ids_distinct boolean, n_orphans bigint",
    )


SQL_GCN_GATE = """
SELECT CAST((SELECT count(*)
             FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
             WHERE d.doc_id < 100) AS BIGINT) AS n_rows,
       TRUE AS ids_distinct,
       CAST(0 AS BIGINT) AS n_orphans
"""


def q_top_terms_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the combo_basic term extractor's structural contract
    (features/terms.py): full row coverage of the doc_id<200 slice, at most
    n=5 terms per doc, and EVERY emitted term is a contiguous 2- or 3-token
    n-gram of its own document (the candidate space combo_basic scores) —
    the DuckDB oracle recomputes the n-gram sets from the text and asserts
    zero violations. The scoring arithmetic stays golden-tested
    (tests/test_terms_incremental.py)."""
    from entity_resolution_spark.functions.terms import top_terms

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    out = top_terms(d, "text", id_col="doc_id", n=5).localCheckpoint(eager=True)
    grams = d.select(
        F.col("doc_id").cast("string").alias("unique_id"),
        F.get(
            F.transform(
                F.array(TX.tokens(F.col("text"))),
                lambda tk: F.array_union(TX.shingles(tk, 2), TX.shingles(tk, 3)),
            ),
            0,
        ).alias("_g"),
    )
    j = out.join(grams, "unique_id").select(
        F.size(F.array_except("terms", "_g")).alias("_bad"),
        (F.size("terms") > 5).cast("int").alias("_over"),
    )
    agg = j.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.sum("_bad"), F.lit(0)).cast("bigint").alias("n_foreign_terms"),
        F.coalesce(F.sum("_over"), F.lit(0)).cast("bigint").alias("n_over_limit"),
    ).collect()[0]
    n_docs = d.count()
    return spark.createDataFrame(
        [(n_docs, int(agg["n_rows"]), int(agg["n_foreign_terms"]),
          int(agg["n_over_limit"]))],
        "n_docs bigint, n_rows bigint, n_foreign_terms bigint, n_over_limit bigint",
    )


SQL_TOP_TERMS_GATE = """
WITH d AS (SELECT count(*) AS n FROM documents WHERE doc_id < 200)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_foreign_terms,
       CAST(0 AS BIGINT) AS n_over_limit
FROM d
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # the 54 oracled queries first: a correctness snapshot that records only
    # a leading window of the registry then covers every hash-compared one
    "pricing_summary": q_pricing_summary,
    "top_revenue_nations": q_top_revenue_nations,
    "order_priority_semijoin": q_order_priority_semijoin,
    "topk_orders_per_priority": q_topk_orders_per_priority,
    "weighted_avg_discount": q_weighted_avg_discount,
    "doc_length_histogram": q_doc_length_histogram,
    "block_stats": q_block_stats,
    "exact_dedup_docs": q_exact_dedup_docs,
    "token_counts_docs": q_token_counts_docs,
    "quality_stats_lang": q_quality_stats_lang,
    "lang_id_docs": q_lang_id_docs,
    "jaccard_pairs_docs": q_jaccard_pairs_docs,
    "cc_jaccard_docs": q_cc_jaccard_docs,
    "negative_edges_nchars": q_negative_edges_nchars,
    "feature_adjacency_docs": q_feature_adjacency_docs,
    "embedding_topk": q_embedding_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "er_resolve_docs_exact": q_er_resolve_docs_exact,
    "er_resolve_f1_docs": q_er_resolve_f1_docs,
    "sanction_features": q_sanction_features,
    "sanction_resolve": q_sanction_resolve,
    "org_sanction_features": q_org_sanction_features,
    "repetition_stats_docs": q_repetition_stats_docs,
    "events_windowed_stats": q_events_windowed_stats,
    "events_sessionize": q_events_sessionize,
    "name_commonness_parts": q_name_commonness_parts,
    "fastrp_cosine_docs": q_fastrp_cosine_docs,
    "selected_text_docs": q_selected_text_docs,
    "decontaminate_docs": q_decontaminate_docs,
    "chunk_docs": q_chunk_docs,
    "token_budget_sample": q_token_budget_sample,
    "unigram_rarity_docs": q_unigram_rarity_docs,
    "repeated_substrings_docs": q_repeated_substrings_docs,
    "dedup_survivors_docs": q_dedup_survivors_docs,
    "source_overlap_docs": q_source_overlap_docs,
    "geo_resolve_docs": q_geo_resolve_docs,
    "bigram_phrases_docs": q_bigram_phrases_docs,
    "pii_redact_docs": q_pii_redact_docs,
    "preprocess_docs": q_preprocess_docs,
    "c4_clean_docs": q_c4_clean_docs,
    "line_dedup_docs": q_line_dedup_docs,
    "temperature_mixture_docs": q_temperature_mixture_docs,
    "minhash_recall_gate": q_minhash_recall_gate,
    "gopher_quality_docs": q_gopher_quality_docs,
    "lsh_ann_recall_gate": q_lsh_ann_recall_gate,
    "ivf_ann_recall_gate": q_ivf_ann_recall_gate,
    "pq_ann_recall_gate": q_pq_ann_recall_gate,
    "colour_split_gate": q_colour_split_gate,
    "acceptance_distribution_gate": q_acceptance_distribution_gate,
    "kmeans_gate": q_kmeans_gate,
    "spectral_gate": q_spectral_gate,
    "incremental_gate": q_incremental_gate,
    "gcn_gate": q_gcn_gate,
    "top_terms_gate": q_top_terms_gate,
    # rows-only (no oracle)
    "minhash_near_dup": q_minhash_near_dup,
    "simhash_near_dup": q_simhash_near_dup,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "er_resolve_docs": q_er_resolve_docs,
    "kmeans_embeddings": q_kmeans_embeddings,
    "spectral_docs": q_spectral_docs,
    "incremental_embeddings": q_incremental_embeddings,
    "colour_split_docs": q_colour_split_docs,
    "top_terms_docs": q_top_terms_docs,
    "gcn_resolve_docs": q_gcn_resolve_docs,
    "acceptance_distribution_docs": q_acceptance_distribution_docs,
    "pq_ann_topk": q_pq_ann_topk,
}

ORACLES: dict[str, str] = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_revenue_nations": SQL_TOP_REVENUE_NATIONS,
    "order_priority_semijoin": SQL_ORDER_PRIORITY_SEMIJOIN,
    "topk_orders_per_priority": SQL_TOPK_ORDERS_PER_PRIORITY,
    "weighted_avg_discount": SQL_WEIGHTED_AVG_DISCOUNT,
    "doc_length_histogram": SQL_DOC_LENGTH_HISTOGRAM,
    "block_stats": SQL_BLOCK_STATS,
    "exact_dedup_docs": SQL_EXACT_DEDUP_DOCS,
    "token_counts_docs": SQL_TOKEN_COUNTS_DOCS,
    "quality_stats_lang": SQL_QUALITY_STATS_LANG,
    "lang_id_docs": SQL_LANG_ID_DOCS,
    "jaccard_pairs_docs": SQL_JACCARD_PAIRS_DOCS,
    "cc_jaccard_docs": SQL_CC_JACCARD_DOCS,
    "negative_edges_nchars": SQL_NEGATIVE_EDGES_NCHARS,
    "feature_adjacency_docs": SQL_FEATURE_ADJACENCY_DOCS,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "er_resolve_docs_exact": SQL_ER_RESOLVE_DOCS_EXACT,
    "er_resolve_f1_docs": SQL_ER_RESOLVE_F1_DOCS,
    "sanction_features": SQL_SANCTION_FEATURES,
    "sanction_resolve": SQL_SANCTION_RESOLVE,
    "org_sanction_features": SQL_ORG_SANCTION_FEATURES,
    "repetition_stats_docs": SQL_REPETITION_STATS_DOCS,
    "events_windowed_stats": SQL_EVENTS_WINDOWED_STATS,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "name_commonness_parts": SQL_NAME_COMMONNESS_PARTS,
    "fastrp_cosine_docs": SQL_FASTRP_COSINE_DOCS,
    "selected_text_docs": SQL_SELECTED_TEXT_DOCS,
    "decontaminate_docs": SQL_DECONTAMINATE_DOCS,
    "chunk_docs": SQL_CHUNK_DOCS,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "unigram_rarity_docs": SQL_UNIGRAM_RARITY_DOCS,
    "repeated_substrings_docs": SQL_REPEATED_SUBSTRINGS_DOCS,
    "dedup_survivors_docs": SQL_DEDUP_SURVIVORS_DOCS,
    "source_overlap_docs": SQL_SOURCE_OVERLAP_DOCS,
    "geo_resolve_docs": SQL_GEO_RESOLVE_DOCS,
    "bigram_phrases_docs": SQL_BIGRAM_PHRASES_DOCS,
    "pii_redact_docs": SQL_PII_REDACT_DOCS,
    "preprocess_docs": SQL_PREPROCESS_DOCS,
    "c4_clean_docs": SQL_C4_CLEAN_DOCS,
    "line_dedup_docs": SQL_LINE_DEDUP_DOCS,
    "temperature_mixture_docs": SQL_TEMPERATURE_MIXTURE_DOCS,
    "minhash_recall_gate": SQL_MINHASH_RECALL_GATE,
    "gopher_quality_docs": SQL_GOPHER_QUALITY_DOCS,
    "lsh_ann_recall_gate": SQL_LSH_ANN_RECALL_GATE,
    "ivf_ann_recall_gate": SQL_PLANTED_GATE,
    "pq_ann_recall_gate": SQL_PLANTED_GATE,
    "colour_split_gate": SQL_COLOUR_SPLIT_GATE,
    "acceptance_distribution_gate": SQL_ACCEPTANCE_DISTRIBUTION_GATE,
    "kmeans_gate": SQL_KMEANS_GATE,
    "spectral_gate": SQL_SPECTRAL_GATE,
    "incremental_gate": SQL_INCREMENTAL_GATE,
    "gcn_gate": SQL_GCN_GATE,
    "top_terms_gate": SQL_TOP_TERMS_GATE,
    # minhash_near_dup / simhash_near_dup / lsh_ann_topk / er_resolve_docs:
    # hash-sketch and pipeline operators — not SQL-expressible, rows-only checks
    # (each is recall/equivalence-gated against its exact counterpart by a gate
    # query; bench.py reports the same recalls).
    # kmeans / spectral / incremental / colour_split / top_terms / gcn /
    # acceptance_distribution: iterative, eigen, greedy or RNG-seeded per-block
    # algorithms — not SQL-expressible; each carries reference-golden pytest
    # parity instead (see the query docstrings).
}
