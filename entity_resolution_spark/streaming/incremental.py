"""Structured-Streaming ingest for the training-data pipeline.

The reference is a pure batch system (SURVEY.md §1.3: no watermarks/windows/state
anywhere); its closest streaming analog is the order-dependent incremental
clusterer (``am_combiner/combiners/incremental_clustering.py:30-160``), which is
NOT reproducible under parallelism and is explicitly out of the parity core.

What a 100 TB ingest pipeline actually needs from streaming — and what this module
provides — is the deterministic subset:

- ``stream_ingest_features``: file-source stream of new records → the same feature
  columns as the batch pipeline (stateless, identical semantics batch/stream);
- ``stream_exact_dedup``: drop exact-content duplicates within a watermark using
  ``dropDuplicatesWithinWatermark`` on the content sha;
- ``stream_block_counts``: per-window blocking-key counts (the skew monitor that
  decides salting factors online).

New records are then matched against the existing cluster table in micro-batch via
``foreachBatch`` + the batch scoring/CC operators — re-using the batch code path is
the point: one set of semantics, two drivers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution_spark.plans.pipeline import PipelineConfig, extract_features

REPO_FILES_SCHEMA = (
    "repo string, path string, commit string, lang string, content string, "
    "event_time timestamp"
)


def stream_ingest_features(
    spark: SparkSession, source_dir: str, cfg: PipelineConfig | None = None
) -> DataFrame:
    """readStream over a landing directory of parquet repo-file batches → feature
    columns (same extract_features as batch; stateless → trivially exactly-once)."""
    cfg = cfg or PipelineConfig()
    stream = spark.readStream.schema(REPO_FILES_SCHEMA).parquet(source_dir)
    return extract_features(stream, cfg, keep=["event_time"])


def stream_exact_dedup(records: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Exact-duplicate suppression on a stream: first record per content sha wins
    within the watermark window. State size is bounded by the watermark."""
    return (
        records.withColumn("_sha", F.sha2("content", 256))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["_sha"])
        .drop("_sha")
    )


def stream_block_counts(
    records: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Windowed blocking-key histogram — the online skew monitor. Keys whose count
    crosses the block cap feed the salting factor for the next batch."""
    return (
        records.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "lang")
        .agg(F.count("*").alias("n_records"))
    )


def _latest_snapshot_dir(base_path: str) -> tuple[str | None, int]:
    """Newest COMPLETE (``_SUCCESS``-marked) versioned snapshot under ``base_path``.

    Snapshots are written to ``{base}/v-{n}`` and never overwritten in place, so
    a crash mid-write leaves a version without its ``_SUCCESS`` marker and the
    prior snapshot stays readable — the atomic-swap discipline a plain
    ``mode("overwrite")`` of one directory lacks. (Local-FS listing; a cloud
    deployment swaps in the Hadoop FileSystem listing, same contract.)
    """
    import os

    if not os.path.isdir(base_path):
        return None, 0
    versions = sorted(
        int(d.split("-", 1)[1])
        for d in os.listdir(base_path)
        if d.startswith("v-")
        and d.split("-", 1)[1].isdigit()
        and os.path.exists(os.path.join(base_path, d, "_SUCCESS"))
    )
    if not versions:
        return None, 0
    return os.path.join(base_path, f"v-{versions[-1]}"), versions[-1]


def latest_snapshot(spark: SparkSession, base_path: str) -> DataFrame | None:
    """Read the current cluster-table snapshot (or None before the first batch)."""
    d, _ = _latest_snapshot_dir(base_path)
    return spark.read.parquet(d) if d else None


def match_new_records_foreach_batch(
    spark: SparkSession,
    existing_clusters_path: str,
    output_path: str,
    cfg: PipelineConfig | None = None,
):
    """foreachBatch body: resolve each micro-batch of new records against the
    persisted record/cluster table at ``existing_clusters_path`` (read fresh per
    batch), so a record arriving in batch N joins the entity it matches from any
    earlier batch instead of fragmenting into a per-batch cluster.

    Per batch: union prior records (kept alongside their assignments in the
    cluster table) with the new ones, run the batch ``resolve`` on the union,
    overwrite the cluster table with the reconciled snapshot, and append ONLY
    the new records' assignments (+ epoch) to ``output_path``. Cluster ids are
    min-member-derived, so merging a new record into an existing entity updates
    that entity's id deterministically on both old and new rows in the snapshot.

    Scale note: this re-resolves the accumulated corpus each batch — correct and
    simple; production would resume from the feature/edge checkpoints
    (CheckpointStore) so only blocks touched by the batch recompute. Returns the
    callable for ``writeStream.foreachBatch``.
    """
    cfg = cfg or PipelineConfig()
    raw_cols = ["repo", "path", "commit", "lang", "content"]

    def _body(batch_df: DataFrame, epoch_id: int) -> None:
        from entity_resolution_spark.functions.hashing import unique_id
        from entity_resolution_spark.plans.pipeline import resolve

        import os
        import shutil

        if not batch_df.take(1):
            return
        new = batch_df.drop("event_time").select(*raw_cols)
        # a transient read failure must FAIL the batch (the stream retries),
        # not silently treat the corpus as empty — only "no snapshot yet" maps
        # to prior=None, and _latest_snapshot_dir answers that from the
        # directory listing without swallowing reader errors
        prior_dir, prior_ver = _latest_snapshot_dir(existing_clusters_path)
        prior = (
            spark.read.parquet(prior_dir).select(*raw_cols) if prior_dir else None
        )
        full = (
            new if prior is None
            else prior.unionByName(new).dropDuplicates(["repo", "path", "commit"])
        )
        out = resolve(spark, full, cfg)
        snap = (
            full.withColumn("unique_id", unique_id())
            .join(
                out["clusters"].select("unique_id", "content_sha", "cluster_id"),
                "unique_id",
            )
        )
        # materialize + cut lineage BEFORE touching the directory the plan reads
        snap = snap.localCheckpoint(eager=True)
        # versioned write + retention: the new snapshot only becomes current
        # once its _SUCCESS lands; the previous version is pruned AFTER that,
        # so no failure mode can destroy the last good table
        next_dir = os.path.join(existing_clusters_path, f"v-{prior_ver + 1}")
        snap.write.mode("overwrite").parquet(next_dir)
        # retention keeps the IMMEDIATELY-PRIOR version too: a concurrent
        # reader that resolved v-N via latest_snapshot() just before v-N+1
        # landed must finish its scan; v-N is pruned only on the v-N+2 write
        for d in os.listdir(existing_clusters_path):
            if (
                d.startswith("v-")
                and d not in (f"v-{prior_ver + 1}", f"v-{prior_ver}")
            ):
                shutil.rmtree(
                    os.path.join(existing_clusters_path, d), ignore_errors=True
                )
        new_ids = new.select(unique_id().alias("unique_id"))
        (
            snap.join(new_ids, "unique_id", "left_semi")
            .select("unique_id", "lang", "content_sha", "cluster_id")
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(output_path)
        )

    return _body


def stream_incremental_assign(
    records: DataFrame,
    vec_col: str,
    block_col: str = "blocking_key",
    id_col: str = "unique_id",
    threshold: float = 0.5,
) -> DataFrame:
    """TRUE online clustering as a stateful streaming operator
    (``applyInPandasWithState``): per-block state carries the live cluster
    exemplars across micro-batches, so a record arriving hours after its
    cluster was founded still joins it — without re-reading any table.

    Semantics are the reference centroid walk
    (``am_combiner/combiners/incremental_clustering.py:163-210``), the same
    arithmetic as the batch ``incremental_cluster_blocks(strategy="centroid")``:
    a record joins the argmax-cosine centroid iff cosine > 0 and ≥ threshold
    (first-max ⇒ earliest cluster wins ties), else founds a new cluster; the
    joined centroid becomes the running mean. ``cluster_id`` = founding
    record's id. Scan order: within a micro-batch, ascending record id
    (deterministic); across batches, arrival order — the online contract.
    When everything arrives in one batch the labels equal the batch
    operator's (parity-tested).

    Scale shape: state is O(clusters·d) per block (founder id + centroid +
    count — NOT the pairwise variant's O(members·d), which is why only the
    centroid strategy is offered online), partitioned by block key across
    executors by the state store; each micro-batch group does one numpy
    matmul per arriving record. Use the batch operator for replays/backfills.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("unique_id", T.StringType()),
            T.StructField(block_col, T.StringType()),
            T.StructField("cluster_id", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("founders", T.ArrayType(T.StringType())),
            T.StructField("centroids", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("counts", T.ArrayType(T.LongType())),
        ]
    )

    def assign(key, pdf_iter, state: GroupState):
        if state.exists:
            founders_t, cents_t, counts_t = state.get
            founders = list(founders_t)
            centroids = np.asarray([list(c) for c in cents_t], dtype=np.float64)
            counts = np.asarray(list(counts_t), dtype=np.int64)
        else:
            founders, centroids, counts = [], None, np.zeros(0, np.int64)
        # buffer ALL Arrow chunks before sorting: a >maxRecordsPerBatch group
        # arrives as several pdfs in arrival order, and per-chunk sorting would
        # break the documented ascending-id scan (and batch-operator parity)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            "_id", kind="mergesort"
        )
        x = np.asarray(pdf["_vec"].tolist(), dtype=np.float64)
        ids = pdf["_id"].to_numpy()
        # centroid norms maintained incrementally: only the joined/founded
        # centroid's norm changes per record (a full per-record norms pass
        # made hot blocks O(clusters·d) twice over)
        cnorms = (
            np.linalg.norm(centroids, axis=1)
            if founders
            else np.zeros(0, np.float64)
        )
        labels = []
        for i in range(len(ids)):
            xi = x[i]
            xn = np.linalg.norm(xi)
            xs = 1.0 if xn == 0 else xn
            if founders:
                cn = np.where(cnorms == 0, 1.0, cnorms)
                s = (centroids @ xi) / (cn * xs)
                best_c = int(np.argmax(s))  # first max = earliest cluster
                best = s[best_c]
                # strictly > 0: reference starts at 0.0 with none selected
                if best > 0.0 and best >= threshold:
                    labels.append(founders[best_c])
                    centroids[best_c] = (
                        centroids[best_c] * counts[best_c] + xi
                    ) / (counts[best_c] + 1)
                    counts[best_c] += 1
                    cnorms[best_c] = np.linalg.norm(centroids[best_c])
                    continue
            labels.append(ids[i])
            founders.append(ids[i])
            centroids = (
                xi[None, :]
                if centroids is None or not len(founders) - 1
                else np.vstack([centroids, xi[None, :]])
            )
            counts = np.append(counts, 1)
            cnorms = np.append(cnorms, xn)
        if founders:
            state.update(
                (
                    founders,
                    [list(map(float, c)) for c in centroids],
                    [int(c) for c in counts],
                )
            )
        yield pd.DataFrame(
            {"unique_id": ids, block_col: key[0], "cluster_id": labels}
        )

    base = records.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(block_col).cast("string").alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )
    return base.groupBy("_blk").applyInPandasWithState(
        assign, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_event_window_stats(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of ``queries.q_events_windowed_stats`` — the SAME
    tumbling-window aggregation expression over a ``readStream`` events
    source (late rows beyond ``watermark`` dropped; state bounded by the
    watermark). Output schema and values are identical to the batch query on
    the same closed input — parity-tested in ``tests/test_streaming.py``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
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


def stream_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """True streaming session windows (``F.session_window``): a user's session
    stays open while events keep arriving within ``gap``; state for a session
    is dropped once the watermark passes its close. The batch twin is
    ``queries.q_events_sessionize`` (lag + running sum); this operator is
    parity-tested against ``session_window`` evaluated in BATCH mode on the
    same input — the streaming state machine and the batch sort-based
    assignment must agree session-for-session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
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


def stream_decontaminate(
    docs_stream: DataFrame,
    eval_ngrams: DataFrame,
    text_col: str = "content",
    id_col: str = "unique_id",
    n: int = 13,
    watermark: str = "10 minutes",
    window: str = "1 minute",
) -> DataFrame:
    """Streaming twin of ``operators.decontamination.decontaminate`` — flag
    incoming documents contaminated against a STATIC eval n-gram set as they
    arrive (the ingest-time contamination gate of a streaming data pipeline).

    Shape: row-local n-gram arrays (codegen'd, stateless) → explode →
    stream-static LEFT join against the broadcast eval set (stateless) → the
    per-doc counts as a watermark-bounded aggregation keyed by
    (event-time window, doc id) — a doc's n-gram rows all carry its single
    event time, so each key closes when the watermark passes and state stays
    bounded. Output values are identical to the batch operator on the same
    closed input (parity-tested); the window column is kept so late-data
    semantics are explicit.
    """
    from entity_resolution_spark.operators.decontamination import (
        contamination_counts,
        ngram_hash_array,
    )

    exploded = docs_stream.withWatermark("event_time", watermark).select(
        F.col(id_col).alias("_id"),
        "event_time",
        F.explode_outer(ngram_hash_array(F.col(text_col), n)).alias("ngram"),
    )
    return contamination_counts(
        exploded, eval_ngrams, [F.window("event_time", window).alias("w"), F.col("_id")]
    ).select(
        F.col("_id").alias(id_col),
        "total_ngrams",
        "contaminated_ngrams",
        "is_contaminated",
        F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
    )


def explode_doc_lines(
    docs: DataFrame, text_col: str = "content", id_col: str = "unique_id"
) -> DataFrame:
    """(id, text[, event_time]) → (doc_id, pos, line) rows, one per
    non-empty TRIMMED line (the same line rule as
    ``operators.cleaning.corpus_line_dedup``: whitespace-only lines always
    drop; the ORIGINAL untrimmed line is carried for reassembly). The id keeps
    its type, so ties break on it as the batch rule does. Stateless
    projection — works identically on a stream or a batch frame."""
    keep = [c for c in docs.columns if c == "event_time"]
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), "\n")
            ).alias("pos", "line"),
            *keep,
        )
        .where(F.trim("line") != "")
    )


def stream_line_dedup(lines_stream: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.cleaning.corpus_line_dedup``'s
    keep-first rule (min_count=2): the ingest-time corpus-wide line-dedup
    gate — a line (by trimmed 64-bit hash, the engine's surrogate class) is
    emitted at its FIRST appearance and suppressed at every later one,
    across micro-batches.

    Equivalence contract: the batch operator keeps a duplicated line's
    minimum-(id, pos) occurrence; this gate keeps the first ARRIVAL —
    identical outputs whenever the stream replays the corpus in (id, pos)
    order (each micro-batch may be internally unordered: the group sorts by
    (doc_id, pos), in the input's doc_id type, before deciding) — the
    batch-parity test replays exactly that way. ``min_count > 2`` has no
    online analog (it needs future occurrence counts) and stays batch-only.

    State: one empty-valued entry per distinct line hash, NoTimeout — the
    dedup horizon is the stream's lifetime, like the batch rule's
    corpus-wide census. Production streams that want bounded state trade
    horizon for memory with a state timeout (re-admitting a line after
    eviction), the same trade ``dropDuplicatesWithinWatermark`` makes.

    Input: the :func:`explode_doc_lines` shape. Output (append): the kept
    (doc_id, pos, line) rows; downstream reassembly is the batch
    ``array_join(collect, '\\n')`` over (doc_id, pos) — stateless relative
    to this gate."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("doc_id", lines_stream.schema["doc_id"].dataType),
            T.StructField("pos", T.IntegerType()),
            T.StructField("line", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.IntegerType())])

    def gate(key, pdfs, state):
        rows = pd.concat(list(pdfs))
        if state.exists:
            return
        first = rows.sort_values(["doc_id", "pos"], kind="mergesort").iloc[[0]]
        state.update((1,))
        yield first[["doc_id", "pos", "line"]]

    keyed = lines_stream.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        "line",
        F.xxhash64(F.trim("line")).alias("_k"),
    )
    return keyed.groupBy("_k").applyInPandasWithState(
        gate, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
