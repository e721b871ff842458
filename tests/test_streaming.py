"""Structured-Streaming tests driven synchronously with processAllAvailable on a
file source (parquet landing dir)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.streaming.incremental import (
    latest_snapshot,
    match_new_records_foreach_batch,
    stream_block_counts,
    stream_exact_dedup,
    stream_ingest_features,
)


@pytest.fixture()
def landing(spark, tmp_path):
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("org/a", "src/x.py", "c1", "python", "def f():\n    return 1", t0),
        ("org/a", "src/y.py", "c2", "python", "def f():\n    return 1", t0),  # exact dup content
        ("org/b", "lib/z.go", "c3", "go", "func g() { return }", t0),
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, event_time timestamp",
    )
    path = str(tmp_path / "landing")
    df.write.parquet(path)
    return path


def _run_to_memory(df, name):
    q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def test_stream_ingest_features(spark, landing):
    feats = stream_ingest_features(spark, landing)
    assert feats.isStreaming
    _run_to_memory(feats, "feats_out")
    rows = spark.sql("SELECT * FROM feats_out").collect()
    assert len(rows) == 3
    cols = set(rows[0].asDict())
    assert {"unique_id", "content_sha", "shingles", "event_time"} <= cols


def test_stream_exact_dedup(spark, landing):
    stream = spark.readStream.schema(
        "repo string, path string, commit string, lang string, content string, event_time timestamp"
    ).parquet(landing)
    deduped = stream_exact_dedup(stream)
    _run_to_memory(deduped, "dedup_out")
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    # two rows share identical content → one suppressed within the watermark
    assert len(rows) == 2
    assert {r["lang"] for r in rows} == {"python", "go"}


def test_stream_block_counts(spark, landing):
    stream = spark.readStream.schema(
        "repo string, path string, commit string, lang string, content string, event_time timestamp"
    ).parquet(landing)
    counts = stream_block_counts(stream)
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("counts_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["lang"]: r["n_records"] for r in spark.sql("SELECT * FROM counts_out").collect()}
    assert rows == {"python": 2, "go": 1}


def test_incremental_match_joins_prior_batch_entity(spark, tmp_path):
    """A record arriving in batch 2 must land in the SAME cluster as its batch-1
    entity (the matcher resolves against the persisted cluster table, not just
    the micro-batch)."""
    clusters_path = str(tmp_path / "cluster_table")
    output_path = str(tmp_path / "assignments")
    body = match_new_records_foreach_batch(spark, clusters_path, output_path)

    schema = (
        "repo string, path string, commit string, lang string, content string, "
        "event_time timestamp"
    )
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    content_a = "def alpha():\n    return compute_alpha_value(1, 2, 3)\n" * 3
    content_b = "package mainlib\nfunc beta() int { return computeBeta(7) }\n" * 3
    batch1 = spark.createDataFrame(
        [
            ("org/a", "src/alpha.py", "c1", "python", content_a, t0),
            ("org/b", "lib/beta.go", "c2", "go", content_b, t0),
        ],
        schema,
    )
    # batch 2: exact duplicate of the batch-1 alpha entity, new commit/path
    batch2 = spark.createDataFrame(
        [("org/fork", "src/alpha.py", "c9", "python", content_a, t0)],
        schema,
    )
    body(batch1, 0)
    body(batch2, 1)

    snap = latest_snapshot(spark, clusters_path)
    assert snap.count() == 3
    # versioned retention: newest snapshot plus its immediate predecessor
    # survive (a concurrent reader of v-1 must finish its scan; v-1 is pruned
    # only on the v-3 write), and latest_snapshot picks the newest
    vdirs = sorted(d for d in os.listdir(clusters_path) if d.startswith("v-"))
    assert vdirs == ["v-1", "v-2"]
    by_sha = (
        snap.groupBy("content_sha")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"), F.count("*").alias("n"))
        .collect()
    )
    counts = {r["n"]: r["n_clusters"] for r in by_sha}
    # the two alpha records (one per batch) share one cluster; beta is alone
    assert counts == {2: 1, 1: 1}
    # per-epoch append holds only the new records of each batch
    out = spark.read.parquet(output_path)
    assert out.where(F.col("epoch") == 0).count() == 2
    assert out.where(F.col("epoch") == 1).count() == 1


def test_stream_incremental_assign_state_across_batches(spark, tmp_path):
    """applyInPandasWithState carries cluster exemplars across micro-batches:
    a record arriving in batch 2 joins the cluster FOUNDED in batch 1 (same
    centroid walk as the reference, incremental_clustering.py:163-210)."""
    import os
    import time

    from entity_resolution_spark.streaming.incremental import (
        stream_incremental_assign,
    )

    src = tmp_path / "vec_landing"
    src.mkdir()
    schema = "unique_id string, blocking_key string, vec array<double>"
    b1 = spark.createDataFrame(
        [("a1", "b", [1.0, 0.0]), ("a2", "b", [0.99, 0.1])], schema
    )
    b1.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    b2 = spark.createDataFrame(
        [("a3", "b", [1.0, 0.05]), ("d1", "b", [0.0, 1.0])], schema
    )
    b2.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    now = time.time()
    os.utime(str(src / "f1"), (now - 60, now - 60))
    os.utime(str(src / "f2"), (now, now))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src / "*"))
    )
    out = stream_incremental_assign(stream, "vec", threshold=0.9)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_assign")
        .option("checkpointLocation", str(tmp_path / "ck_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["unique_id"]: r["cluster_id"]
        for r in spark.sql("select * from inc_assign").collect()
    }
    assert got == {"a1": "a1", "a2": "a1", "a3": "a1", "d1": "d1"}, got


def test_stream_incremental_assign_single_batch_parity(spark, tmp_path):
    """When everything arrives in one micro-batch, the streaming operator's
    labels equal the batch centroid combiner's (same kernel arithmetic)."""
    from entity_resolution_spark.operators.incremental_combiner import (
        incremental_cluster_blocks,
    )
    from entity_resolution_spark.streaming.incremental import (
        stream_incremental_assign,
    )

    schema = "unique_id string, blocking_key string, vec array<double>"
    rows = [
        ("a1", "b", [1.0, 0.0, 0.0]),
        ("a2", "b", [0.9, 0.1, 0.0]),
        ("a3", "b", [0.0, 1.0, 0.0]),
        ("a4", "b", [0.1, 0.9, 0.1]),
        ("a5", "c", [0.5, 0.5, 0.0]),
        ("a6", "c", [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, schema)
    want = {
        (r["unique_id"], r["cluster_id"])
        for r in incremental_cluster_blocks(
            df, "vec", threshold=0.8, strategy="centroid"
        ).collect()
    }

    src = tmp_path / "vec_one"
    src.mkdir()
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    out = stream_incremental_assign(stream, "vec", threshold=0.8)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_parity")
        .option("checkpointLocation", str(tmp_path / "ck_par"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["unique_id"], r["cluster_id"])
        for r in spark.sql("select * from inc_parity").collect()
    }
    assert got == want, (got, want)


def test_stream_incremental_assign_multi_chunk_group_parity(spark, tmp_path):
    """Regression: a group larger than arrow maxRecordsPerBatch arrives as
    SEVERAL pdfs; the operator must buffer and sort the whole micro-batch
    before walking (per-chunk sorting scanned later chunks' low ids after
    earlier chunks' high ids, breaking batch parity and determinism)."""
    from entity_resolution_spark.operators.incremental_combiner import (
        incremental_cluster_blocks,
    )
    from entity_resolution_spark.streaming.incremental import (
        stream_incremental_assign,
    )

    schema = "unique_id string, blocking_key string, vec array<double>"
    # 40 records, one block; written in DESCENDING id order so arrival order
    # disagrees with scan order and chunking matters (5 chunks of 8)
    rows = []
    for i in range(40):
        base = [1.0, 0.0] if i % 3 else [0.6, 0.8]
        rows.append(
            (f"r{i:02d}", "b", [base[0] + 0.01 * (i % 7), base[1] + 0.015 * (i % 5)])
        )
    df = spark.createDataFrame(rows, schema)
    want = {
        (r["unique_id"], r["cluster_id"])
        for r in incremental_cluster_blocks(
            df, "vec", threshold=0.93, strategy="centroid"
        ).collect()
    }

    src = tmp_path / "vec_chunks"
    src.mkdir()
    df.orderBy(F.col("unique_id").desc()).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "f1"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        out = stream_incremental_assign(stream, "vec", threshold=0.93)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("inc_chunks")
            .option("checkpointLocation", str(tmp_path / "ck_chunks"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {
        (r["unique_id"], r["cluster_id"])
        for r in spark.sql("select * from inc_chunks").collect()
    }
    assert got == want, (got, want)


def _events_stream(spark):
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001")
    )


def _complete_to_memory(df, name):
    q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def test_stream_windowed_stats_matches_batch_query(spark):
    """The streaming tumbling-window rollup must equal the batch (oracled)
    query value-for-value on the same closed input."""
    from entity_resolution_spark.queries import QUERIES
    from entity_resolution_spark.streaming.incremental import stream_event_window_stats

    _complete_to_memory(stream_event_window_stats(_events_stream(spark)), "ev_win_out")
    got = {tuple(r) for r in spark.sql("SELECT * FROM ev_win_out").collect()}
    want = {
        tuple(r)
        for r in QUERIES["events_windowed_stats"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and len(got) > 100


def test_stream_sessionize_matches_batch_session_window(spark):
    """The streaming session-window state machine must produce the same
    sessions as F.session_window evaluated in batch mode on the same input
    (same gap, same aggregates)."""
    from pyspark.sql import functions as F

    from entity_resolution_spark.streaming.incremental import stream_sessionize

    _complete_to_memory(stream_sessionize(_events_stream(spark)), "ev_sess_out")
    got = {tuple(r) for r in spark.sql("SELECT * FROM ev_sess_out").collect()}
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("session_start"),
            "n_events",
            "sum_value_cents",
        )
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 100


def test_stream_decontaminate_matches_batch_operator(spark, tmp_path):
    """Streaming contamination stats must equal the batch operator
    value-for-value on the same closed input."""
    import datetime

    from entity_resolution_spark.operators.decontamination import (
        decontaminate,
        eval_ngram_set,
    )
    from entity_resolution_spark.streaming.incremental import stream_decontaminate

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, "a b c d e", t0),
        (2, "x a b c y", t0),
        (3, "e d c b a", t0),
        (4, "a b", t0),
    ]
    schema = "unique_id long, content string, event_time timestamp"
    batch = spark.createDataFrame(rows, schema)
    ev = eval_ngram_set(
        spark.createDataFrame([(100, "a b c d e")], "unique_id long, content string"),
        n=3,
    )

    src = str(tmp_path / "docs_landing")
    batch.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_decontaminate(stream, ev, n=3)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("decon_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["unique_id"], r["total_ngrams"], r["contaminated_ngrams"],
         r["is_contaminated"])
        for r in spark.sql("SELECT * FROM decon_out").collect()
    }
    # the batch twin takes eval DOCS; rebuild from the same eval doc
    want = {
        (r["unique_id"], r["total_ngrams"], r["contaminated_ngrams"],
         r["is_contaminated"])
        for r in decontaminate(
            batch.drop("event_time"),
            spark.createDataFrame(
                [(100, "a b c d e")], "unique_id long, content string"
            ),
            n=3,
        ).collect()
    }
    assert got == want and len(got) == 4


def test_stream_decontaminate_append_mode_emits_after_watermark(spark, tmp_path):
    """The documented production shape is APPEND mode: a doc's counts are
    emitted once its event-time window falls behind the watermark, and never
    before — this exercises the watermark-bounded state the docstring claims
    (complete mode, used by the parity test, ignores the watermark)."""
    import datetime

    from entity_resolution_spark.operators.decontamination import eval_ngram_set
    from entity_resolution_spark.streaming.incremental import stream_decontaminate

    schema = "unique_id long, content string, event_time timestamp"
    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    late = t0 + datetime.timedelta(hours=2)
    ev = eval_ngram_set(
        spark.createDataFrame([(100, "a b c d e")], "unique_id long, content string"),
        n=3,
    )
    src = str(tmp_path / "docs_landing")
    spark.createDataFrame([(1, "x a b c y", t0)], schema).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_decontaminate(stream, ev, n=3, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("decon_append_out")
        .start()
    )
    q.processAllAvailable()
    # watermark has not passed t0's window yet: nothing emitted
    assert spark.sql("SELECT * FROM decon_append_out").count() == 0
    # a later batch advances the watermark past the first doc's window
    spark.createDataFrame([(2, "e d c b a", late)], schema).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()

    rows = {r["unique_id"]: r for r in
            spark.sql("SELECT * FROM decon_append_out").collect()}
    assert set(rows) == {1}  # doc 2's window is still open
    assert (rows[1]["total_ngrams"], rows[1]["contaminated_ngrams"],
            rows[1]["is_contaminated"]) == (3, 1, True)


def test_stream_line_dedup_batch_parity(spark, tmp_path):
    """The streaming first-arrival line gate must reproduce the batch
    corpus_line_dedup keep set exactly when the corpus is replayed in
    (id, pos) order: kept lines reassembled per doc == batch clean_text."""
    from entity_resolution_spark.operators.cleaning import corpus_line_dedup
    from entity_resolution_spark.streaming.incremental import (
        explode_doc_lines,
        stream_line_dedup,
    )

    inputs = [
        [
            (1, "shared header\nunique a\nshared footer"),
            (2, "shared header\nunique b\n   \nshared footer"),
            (3, "unique c\nshared header"),
            (4, "unique a"),  # dup of doc 1's middle line, later id
        ],
        # docs 9 and 10 share a line in one micro-batch: the numeric id breaks
        # the tie (as a string, '10' would sort before '9')
        [(9, "shared line\nnine"), (10, "shared line\nten")],
    ]
    for i, docs in enumerate(inputs):
        bdf = spark.createDataFrame(docs, "doc_id long, text string")
        want = {
            r["doc_id"]: r["clean_text"]
            for r in corpus_line_dedup(bdf, min_count=2, keep_first=True).collect()
        }

        src = str(tmp_path / f"lines_src_{i}")
        explode_doc_lines(
            bdf.withColumn("event_time", F.current_timestamp()),
            text_col="text",
            id_col="doc_id",
        ).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        kept = stream_line_dedup(stream)
        q = (
            kept.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"line_dedup_out_{i}")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got: dict = {}
        for r in sorted(
            spark.sql(f"SELECT * FROM line_dedup_out_{i}").collect(),
            key=lambda r: (r["doc_id"], r["pos"]),
        ):
            got.setdefault(r["doc_id"], []).append(r["line"])
        got_text = {k: "\n".join(v) for k, v in got.items()}
        for doc_id, clean in want.items():
            assert got_text.get(doc_id) == clean, (doc_id, got_text.get(doc_id), clean)
