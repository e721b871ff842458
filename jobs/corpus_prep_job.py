"""spark-submit entry point for the training-data corpus-preparation pipeline:
[optional C4 line/page cleaning] → quality gates → exact + near dedup →
benchmark decontamination → per-source token-budget sampling → PII
redaction → sequence chunking, composed from the engine's operators into
the standard pretraining prep flow.

    python tools/package.py                       # builds dist/entity_resolution_spark.zip
    spark-submit --py-files dist/entity_resolution_spark.zip \
        jobs/corpus_prep_job.py \
        --input  <documents parquet: (doc_id, text, lang, source, ...)> \
        --eval   <benchmark/eval documents parquet (same schema)> \
        --output <prepared chunks path> \
        [--chunk-tokens 512] [--overlap 64] [--budget-tokens 1000000] \
        [--min-tokens 5] [--max-dup-char-pct 20] [--jaccard-threshold 0.8] \
        [--c4]

``--c4`` enables the C4 line/page rules as stage 0 (off by default: it
assumes newline-structured prose; on a single-line corpus it would drop
every page). PII redaction (always on, The-Stack ordering: last text
transform before chunking) replaces the text with its scrubbed form — a
stateless map-side projection, so it adds no shuffle to the funnel.

Stage order is the cheap-filter-first rule: row-local quality gates prune
before anything shuffles; dedup (one census shuffle + banded candidate join)
runs on the survivors; decontamination is a broadcast lookup; chunking is
map-only; budget sampling shuffles only (id, source, n_tokens).

Near-dedup defaults to the MinHash-LSH path (``--near-dedup minhash``):
banded candidates + exact shingle-jaccard verify, volume bounded by band
caps. The exact PPJoin path (``--near-dedup exact``) is only selective when
the vocabulary is large relative to the corpus — on the 700k-file synthetic
code corpus (~10k tokens/lang) its prefix posting lists produced a
candidate join that filled the disk, while the minhash path runs the same
corpus in minutes (measurement in BENCH/BASELINE.md). Every stage
prints its row count so a run documents its own funnel, and each surviving
frame is eagerly localCheckpoint'ed at the stage boundary so the funnel
count and the following stages read the materialized survivors instead of
re-running the whole upstream lineage per action.

The session comes from ``session.get_spark``; its docstring says which
spark-submit settings win and when Python workers use the engine's daemon.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_resolution_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--eval", required=True, dest="eval_path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunk-tokens", type=int, default=512)
    ap.add_argument("--overlap", type=int, default=64)
    ap.add_argument("--budget-tokens", type=int, default=1_000_000)
    ap.add_argument("--min-tokens", type=int, default=5)
    # gates the duplicate-line CHARACTER fraction dup_chars/line_chars
    # (Gopher §A1.1 "duplicate line character fraction", default threshold 0.20)
    ap.add_argument("--max-dup-char-pct", type=int, default=20)
    ap.add_argument("--jaccard-threshold", type=float, default=0.8)
    ap.add_argument(
        "--near-dedup", choices=["minhash", "exact"], default="minhash",
        help="near-dup candidate generation. Both modes measure the SAME "
        "similarity — distinct 3-gram code-token shingle Jaccard within "
        "'lang' blocks — and differ only in candidate generation: 'minhash' "
        "(banded LSH + exact verify — the scale path; candidate volume "
        "bounded by band caps) or 'exact' (PPJoin prefix filtering — the "
        "lossless verification twin, only selective when the vocabulary is "
        "large relative to the corpus; a 700k-file code corpus with ~10k "
        "tokens/lang exploded its posting lists, so minhash is the default)")
    ap.add_argument("--shingle-k", type=int, default=3,
                    help="token n-gram size for near-dup similarity "
                         "(both modes)")
    ap.add_argument("--c4", action="store_true",
                    help="apply the C4 line/page rules first (needs "
                         "newline-structured text)")
    ap.add_argument("--line-dedup", action="store_true",
                    help="drop corpus-wide duplicate lines (keep the first "
                         "occurrence) before the quality gates — the C4/"
                         "RefinedWeb across-dataset line rule; needs "
                         "newline-structured text like --c4")
    ap.add_argument("--gopher", action="store_true",
                    help="apply the Gopher §A1.1 document rules as part of "
                         "the quality stage (assumes prose-shaped documents; "
                         "off by default for code/word-soup corpora)")
    args = ap.parse_args()

    from entity_resolution_spark.operators.chunking import chunk_documents
    from entity_resolution_spark.operators.decontamination import decontaminate
    from entity_resolution_spark.operators.dedup import (
        exact_dup_groups,
        jaccard_dup_clusters,
        minhash_dup_clusters,
    )
    from entity_resolution_spark.operators.repetition import repetition_stats
    from entity_resolution_spark.operators.sampling import token_budget_sample

    spark = get_spark("corpus-prep")

    from entity_resolution_spark.functions.text import ws_tokens

    from entity_resolution_spark.operators.cleaning import c4_clean
    from entity_resolution_spark.operators.pii import redact_pii

    docs = spark.read.parquet(args.input)
    eval_docs = spark.read.parquet(args.eval_path)
    import time as _time

    _t0 = _time.monotonic()

    def _mark(stage: str, n: int) -> tuple[str, int, float]:
        nonlocal_t = _time.monotonic()
        entry = (stage, n, nonlocal_t - _mark.last)
        _mark.last = nonlocal_t
        return entry

    _mark.last = _t0
    funnel: list[tuple[str, int, float]] = [_mark("input", docs.count())]

    # 0. optional C4 structural cleaning (drops pages, rewrites text to the
    #    surviving lines) — before any tokenization so every later stage
    #    sees the cleaned form
    if args.c4:
        cleaned = c4_clean(docs, text_col="text")
        docs = (
            cleaned.where(F.col("page_kept") == 1)
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text", "n_lines", "n_kept_lines", "page_kept")
            .localCheckpoint(eager=True)
        )
        funnel.append(_mark("c4_clean", docs.count()))

    # 0.5 optional corpus-wide duplicate-line removal (one census shuffle on
    #     hashed lines) — before tokenization so every later stage sees the
    #     deduped form; docs losing every line drop out of the funnel
    if args.line_dedup:
        from entity_resolution_spark.operators.cleaning import corpus_line_dedup

        ld = corpus_line_dedup(docs, text_col="text", id_col="doc_id")
        docs = (
            docs.drop("text")
            .join(
                ld.where(F.col("n_kept_lines") > 0)
                .select("doc_id", F.col("clean_text").alias("text")),
                "doc_id",
            )
            .localCheckpoint(eager=True)
        )
        funnel.append(_mark("line_dedup", docs.count()))

    # 1. row-local quality gates (length + repetition), cheapest first
    docs = docs.withColumn(
        "n_tokens", F.size(ws_tokens("text", lower=False))
    ).where(F.col("n_tokens") >= args.min_tokens)
    rep = repetition_stats(docs, text_col="text", id_col="doc_id")
    bad = rep.where(
        (F.col("line_chars") > 0)
        & (F.col("dup_chars") * 100 > F.col("line_chars") * args.max_dup_char_pct)
    ).select("doc_id")
    docs = docs.join(bad, "doc_id", "left_anti")
    if args.gopher:
        from entity_resolution_spark.operators.quality import gopher_quality

        gq = gopher_quality(docs, text_col="text", id_col="doc_id")
        docs = docs.join(
            gq.where(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
        )
    docs = docs.localCheckpoint(eager=True)
    funnel.append(_mark("quality", docs.count()))

    # 2. exact dedup (keep each group's min doc_id), then near-dedup by
    #    shingle_k-gram code-token jaccard clusters within 'lang' blocks —
    #    identical similarity + blocking in BOTH modes (only candidate
    #    generation differs: PPJoin vs banded LSH)
    exact_keep = (
        exact_dup_groups(docs, id_col="doc_id", text_col="text")
        .where(F.col("doc_id") == F.col("dup_group"))
        .select("doc_id")
    )
    docs = docs.join(exact_keep, "doc_id", "left_semi")
    if args.near_dedup == "exact":
        near = jaccard_dup_clusters(
            docs, "doc_id", "text", "lang",
            threshold=args.jaccard_threshold, ngram=args.shingle_k,
        )
    else:
        near = minhash_dup_clusters(
            docs, "doc_id", "text", threshold=args.jaccard_threshold,
            shingle_k=args.shingle_k, block_col="lang",
        )
    near_keep = near.groupBy("cluster").agg(F.min("doc_id").alias("doc_id"))
    docs = docs.join(
        near_keep.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    funnel.append(_mark("dedup", docs.count()))

    # 3. benchmark decontamination (drop any doc sharing a 13-gram window)
    flags = decontaminate(docs, eval_docs, text_col="text", id_col="doc_id")
    docs = docs.join(
        flags.where(~F.col("is_contaminated")).select("doc_id"), "doc_id",
        "left_semi",
    ).localCheckpoint(eager=True)
    funnel.append(_mark("decontaminated", docs.count()))

    # 4. per-source token budget, then chunk only the kept docs
    sample = token_budget_sample(
        docs.select("doc_id", "source", "n_tokens"),
        budget_tokens=args.budget_tokens,
        bucket_col="source",
        id_col="doc_id",
    )
    docs = docs.join(
        sample.where("kept").select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    funnel.append(_mark("sampled", docs.count()))

    # 5. PII scrub (stateless projection; The-Stack ordering — the last
    #    text transform before chunking), then chunk the redacted text
    docs = redact_pii(docs, text_col="text", out_col="text")
    chunks = chunk_documents(
        docs, text_col="text", id_col="doc_id",
        chunk_tokens=args.chunk_tokens, overlap=args.overlap,
    )
    chunks.write.mode("overwrite").parquet(args.output)
    n_chunks = spark.read.parquet(args.output).count()
    funnel.append(_mark("chunks", n_chunks))

    for stage, n, sec in funnel:
        print(f"# corpus_prep {stage}: {n} {sec:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
