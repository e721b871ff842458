"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on (runtime
coalescing + skew-join splitting), shuffle partitions sized to cores, Arrow enabled
for the pandas-UDF scoring path, UTC session timezone so results compare bit-for-bit
against the DuckDB oracle.

Python workers come from ``worker_daemon`` rather than PySpark's own daemon.
PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task, and before Python 3.13 that re-reads the whole directory of every zip
archive on the worker path (``pyspark.zip`` and the spark-core jar), 16 reads
per task. A trivial 500-row pandas-UDF job in 4 tasks took 589 ms of worker CPU
that way and takes 135 ms without the reads (median of 7 jobs, 4-vCPU VM,
Python 3.11). The daemon re-reads an archive only when its mtime or size
changed, so imports and outputs are the same.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "entity_resolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the parallelism of the master (local mode)
    so small runs don't over-partition; on a real cluster leave it to AQE.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1] not in ("*", ""):
            shuffle_partitions = max(8, int(master[6:-1]))
        else:
            shuffle_partitions = max(8, os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Finer AQE granularity than the 64m/256m defaults: the pair join's
        # output rows are WIDE (two tfidf term/weight arrays ride into the
        # scoring kernel), so a "small" partition by byte count is a lot of
        # Arrow-kernel compute. Event-log diagnosis (tools/diag_scaling.py,
        # 703k-file corpus @ local[16]) showed one 28s straggler task in a
        # 128-partition scoring stage — AQE never split it because the skewed
        # partition was < 256m. 32m advisory + factor-2 skew split cut the
        # stage span 44.6s -> 21.8s and whole-job wall 248s -> 200s.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 3.3x the 10k default: the Arrow kernels (tokenizer, run-assembler,
        # pair scorer) amortize per-batch pandas construction; measured -3s
        # on the 703k-file job at local[16]. Peak per-worker batch memory is
        # bounded by the widest stage (~3 KB/row tokenizer input ≈ 100 MB).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The default 100-entry whole-stage-codegen class cache thrashes under
        # this engine's query mix: one pass over the ~33 bench queries at
        # sf0.1 generates enough distinct generated classes (AQE re-plans,
        # the 64-column SimHash aggregate, PPJoin pipelines) that by the
        # second pass every early query re-pays Janino compilation — measured
        # 16.5s vs 5.5s warm for colour_split_docs. 3000 entries ≈ tens of MB
        # of metaspace, the right trade for any long-lived session (notebook,
        # streaming driver, bench harness).
        .config("spark.sql.codegen.cache.maxEntries", "3000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # tokenization/shingling costs ~100× the scan I/O per byte, so scan
        # partitions must be small enough to use every core (158 MB of snappy
        # parquet at the default 128 MB yields 8 partitions — an 8-way cap on
        # the feature stage no matter the executor count). 8 MB ≈ one compressed
        # partition per ~2-3s of feature compute.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # zstd shuffle/broadcast compression instead of lz4: the job is
        # memory-bandwidth-bound at high core counts (membw_probe, PLANS.md),
        # so halving shuffle bytes through /dev/shm buys more than the extra
        # compression CPU costs. A/B on the 703k-file corpus (alternating
        # min-wall): local[16] 103.2s -> 88.9s (-14%, clusters stage 53.3 ->
        # 44.0s), local[4] 193.3 vs 194.2s (a wash — CPU-bound there, as
        # expected). Identical clusters. On a real cluster this also shrinks
        # network shuffle, the same trade in the same direction.
        .config("spark.io.compression.codec", "zstd")
        # Python workers import this package inside UDFs; put its parent
        # directory on their path so a driver started from any working
        # directory (a tool run from outside the checkout) still finds it.
        # The same path lets Spark start the workers from worker_daemon
        # (see the module docstring)
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .config(
            "spark.python.daemon.module", "entity_resolution_spark.worker_daemon"
        )
    )
    # local-mode shuffle goes through spark.local.dir; the sandbox disk writes at
    # ~260 MB/s while /dev/shm does ~1.8 GB/s — a wide-row shuffle (pair-feature
    # arrays) is disk-bound otherwise. On a real cluster this is NVMe scratch +
    # netty shuffle, so this knob is local-mode only.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
