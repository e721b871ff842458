"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the operators that define this engine (ER pipeline, dedup family,
ANN, CC) plus the relational parity queries. Each query is timed to full
materialization (count), not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from entity_resolution_spark.queries import QUERIES  # noqa: E402
from entity_resolution_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "top_revenue_nations",
    "order_priority_semijoin",
    "topk_orders_per_priority",
    "weighted_avg_discount",
    "doc_length_histogram",
    "block_stats",
    "exact_dedup_docs",
    "token_counts_docs",
    "quality_stats_lang",
    "lang_id_docs",
    "jaccard_pairs_docs",
    "cc_jaccard_docs",
    "negative_edges_nchars",
    "feature_adjacency_docs",
    "embedding_topk",
    "embedding_near_dup",
    "minhash_near_dup",
    "simhash_near_dup",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "pq_ann_topk",
    "er_resolve_docs",
    "er_resolve_docs_exact",
    "er_resolve_f1_docs",
    "sanction_features",
    "sanction_resolve",
    "org_sanction_features",
    "repetition_stats_docs",
    "events_windowed_stats",
    "events_sessionize",
    "name_commonness_parts",
    "fastrp_cosine_docs",
    "selected_text_docs",
    "kmeans_embeddings",
    "spectral_docs",
    "incremental_embeddings",
    "colour_split_docs",
    "top_terms_docs",
    "gcn_resolve_docs",
    "acceptance_distribution_docs",
    "decontaminate_docs",
    "chunk_docs",
    "token_budget_sample",
    "unigram_rarity_docs",
    "repeated_substrings_docs",
    "dedup_survivors_docs",
    "source_overlap_docs",
    "geo_resolve_docs",
    "bigram_phrases_docs",
    "pii_redact_docs",
    "preprocess_docs",
    "c4_clean_docs",
    "gopher_quality_docs",
    "line_dedup_docs",
    "temperature_mixture_docs",
]
# Correctness-gate queries (minhash_recall_gate, which recomputes the exact
# corpus-wide 3-gram pair set + the LSH pair set purely to compare counts)
# are deliberately NOT in HEADLINE: their subtrees are already timed above
# (jaccard_pairs_docs, minhash_near_dup) and re-timing the comparison would
# double-count ~18s of redundant work. The driver's CORRECTNESS gate runs
# every queries() entry regardless, so the gate rows stay hash-checked.


def recall_gates(spark, sf_dir: str = "/root/testdata/sf0.01") -> dict:
    """Driver-visible recall of every sketch/approximate operator against its
    exact counterpart at sf0.01 (small enough that the exact computation is
    cheap). MinHash, LSH, IVF and PQ read their counts from the gate queries;
    SimHash has no gate query, so its comparison lives here.
    """
    from pyspark.sql import functions as F

    from entity_resolution_spark.functions import text as TX
    from entity_resolution_spark.functions.hashing import hamming64, simhash64, simhash_fold
    from entity_resolution_spark.operators.dedup import simhash_dup_pairs
    from entity_resolution_spark.queries import lsh_ann_recall_counts

    def ratio(hit, total):
        return round(hit / total, 4) if total else 1.0

    out: dict[str, float] = {}
    # MinHash-LSH vs exact 3-gram jaccard at the same verify threshold: the
    # LSH output is a subset of the exact set, so recall is a band-miss rate.
    r = QUERIES["minhash_recall_gate"](spark, sf_dir).first()
    out["minhash_near_dup_recall"] = ratio(r["n_hit"], r["n_exact"])

    # SimHash banding vs exact Hamming-<=6 over all sketch pairs (the 8x8-bit
    # band schedule is complete for d < 8, so this asserts 1.0).
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exploded = docs.select(F.col("doc_id").alias("_id"),
                           F.explode(TX.distinct_tokens(F.col("text"))).alias("_t"))
    sketch = exploded.groupBy("_id").agg(*simhash64(F.col("_t"))).select(
        "_id", simhash_fold().alias("_sim"))
    a = sketch.select(F.col("_id").alias("id_a"), F.col("_sim").alias("_sa"))
    b = sketch.select(F.col("_id").alias("id_b"), F.col("_sim").alias("_sb"))
    exact_sh = (
        a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        .where(hamming64(F.col("_sa"), F.col("_sb")) <= 6)
    )
    n_exact = exact_sh.count()
    approx_sh = simhash_dup_pairs(docs, max_hamming=6)
    n_hit = approx_sh.join(
        exact_sh.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    ).count()
    out["simhash_near_dup_recall"] = ratio(n_hit, n_exact)

    # Hyperplane-LSH ANN vs brute-force cosine top-k: per-probe overlap of the
    # returned neighbor sets (the gate row keeps only recall >= 0.95).
    n_truth, n_hit = lsh_ann_recall_counts(spark, sf_dir)
    out["lsh_ann_topk_recall"] = ratio(n_hit, n_truth)

    # IVF and PQ ANN on planted cosine~0.995 partners: every original must
    # retrieve its partner in top-5 (near-dup retrieval is the regime cell and
    # quantizer indexes exist for; see queries._planted_partner_corpus).
    for key, gate in (("ivf_ann_planted_partner_recall", "ivf_ann_recall_gate"),
                      ("pq_ann_planted_partner_recall", "pq_ann_recall_gate")):
        r = QUERIES[gate](spark, sf_dir).first()
        out[key] = ratio(r["n_hit"], r["n_planted"])
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Bounded quiet-window gate: the sandbox host is shared, and a neighbor
    # burst during the single per-round bench misattributes tens of seconds to
    # whichever queries it hits (measured: cc_jaccard 14s quiet vs 34s with
    # both reps inside one burst). Wait up to 5 min for 1-min loadavg < 2.5,
    # then proceed regardless — the gate must never hang the driver.
    t_gate = time.monotonic()
    while time.monotonic() - t_gate < 300:
        load = os.getloadavg()[0]
        if load < 2.5:
            break
        print(f"# waiting for quiet host (load {load:.1f})", file=sys.stderr)
        time.sleep(15)

    spark = get_spark("bench")

    # warm up the JVM/Arrow paths so per-query times measure the queries
    spark.range(1000).selectExpr("sum(id)").collect()

    # Two alternating passes over the full list, min-wall per query: the
    # sandbox host is SHARED, and a neighbor's load burst during a single-shot
    # run misattributes tens of seconds to whichever query it hits (round-2
    # bench showed 27.7s single-shot vs 9.8s warm for the same query). The
    # passes are spaced so one burst cannot hit both reps of a query.
    from entity_resolution_spark.queries import clear_session_memo

    reps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for rep in range(2):
        # honesty rule for the session-scoped shared subtrees (jaccard edges,
        # CC labels, flagship clusters): clear per pass so each pass pays
        # every build exactly once — in its first consumer — and min-of-passes
        # can never report a pure memo hit for the builder query itself
        clear_session_memo()
        for name in HEADLINE:
            fn = QUERIES[name]
            t0 = time.monotonic()
            try:
                n = fn(spark, sf_dir).count()
                dt = time.monotonic() - t0
                reps[name].append(dt)
                print(f"# {name}[{rep}]: {dt:.2f}s rows={n}", file=sys.stderr)
            except Exception as e:  # keep the harness robust: one bad query ≠ no bench
                print(f"# {name}[{rep}]: ERROR {e}", file=sys.stderr)
    # Tie-breaker rep: when a query's two samples disagree by >1.5× and the
    # better one still costs >2s, BOTH probably landed in one neighbor burst
    # (this host's bursts last minutes — long enough to straddle two passes of
    # a ~2-min suite). One more spaced sample bounds the damage to the noise
    # victims instead of tripling the whole suite.
    clear_session_memo()  # tiebreak reps must not hit a pass-2 memo either
    for name, ds in reps.items():
        if len(ds) == 2 and min(ds) > 2.0 and max(ds) / min(ds) > 1.5:
            t0 = time.monotonic()
            try:
                QUERIES[name](spark, sf_dir).count()
                dt = time.monotonic() - t0
                ds.append(dt)
                print(f"# {name}[tiebreak]: {dt:.2f}s", file=sys.stderr)
            except Exception as e:
                print(f"# {name}[tiebreak]: ERROR {e}", file=sys.stderr)
    times = {
        name: (round(min(ds), 3) if ds else -1.0) for name, ds in reps.items()
    }
    total = sum(t for t in times.values() if t > 0)

    try:
        recalls = recall_gates(spark)
        for k, v in recalls.items():
            print(f"# recall {k}: {v}", file=sys.stderr)
    except Exception as e:
        recalls = {"error": str(e)}
        print(f"# recall gates ERROR {e}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "recall": recalls,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
