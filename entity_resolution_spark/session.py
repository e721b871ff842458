"""SparkSession factory tuned for this engine.

``get_spark`` is the one way the engine builds a session (library, tools,
``jobs/`` and benchmarks alike), under two rules:

- **The launch conf wins over the defaults.** A default fills only a key that
  the launch conf leaves unset; explicit arguments (``master=``,
  ``shuffle_partitions=``, ``extra_conf=``) always apply. The launch conf is
  the running session's conf, else the JVM's when its gateway is already up
  (spark-submit starts it holding every ``--master`` and ``--conf``). It is
  never read by starting the JVM: driver settings such as
  ``spark.driver.memory`` take effect only if the builder's conf starts it.
- **The worker daemon, the workers' ``PYTHONPATH`` and ``spark.local.dir``
  on local masters only**, where the workers share the driver's files and
  disks. On a cluster a ``--py-files``
  zip reaches a worker per task, after the daemon has started; where the
  package is installed on the workers, pass
  ``--conf spark.python.daemon.module=entity_resolution_spark.worker_daemon``.

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

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_SEP = "\u0001"  # joins a running session's conf into one py4j reply


def _launch_conf() -> dict[str, str]:
    """The conf a session starts from before ``get_spark`` adds to it (see the
    module docstring); empty when no JVM is up."""
    if SparkContext._active_spark_context is not None:
        jconf = SparkSession.builder.getOrCreate()._jsparkSession.conf()
        entries, sep = jconf.getAll().mkString(_SEP).split(_SEP), " -> "
    elif SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()  # joins the gateway; starts no JVM
        entries, sep = SparkConf().toDebugString().splitlines(), "="
    else:
        return {}
    return dict(e.split(sep, 1) for e in entries if sep in e)


def get_spark(
    app_name: str = "entity_resolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to the launch conf's, else ``local[$SPARK_GRAFT_CPUS]``
    (env) or ``local[*]``. ``shuffle_partitions`` defaults to the launch conf's,
    else the parallelism of a local master (at least 8) so small runs don't
    over-partition; on a real cluster leave it to AQE. ``app_name`` is a default
    too: a running session or a spark-submit ``--name`` keeps its own.
    """
    launch = _launch_conf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    effective_master = (
        master or launch.get("spark.master") or f"local[{cpus or '*'}]"
    )
    n = effective_master[6:-1] if effective_master.startswith("local[") else ""
    parts = (
        shuffle_partitions
        or launch.get("spark.sql.shuffle.partitions")
        or max(8, int(n) if n.isdigit() else os.cpu_count() or 8)
    )

    defaults = {
        "spark.master": effective_master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(parts),
        "spark.default.parallelism": str(parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Finer AQE granularity than the 64m/256m defaults: the pair join's
        # output rows are WIDE (two tfidf term/weight arrays ride into the
        # scoring kernel), so a "small" partition by byte count is a lot of
        # Arrow-kernel compute. Event-log diagnosis (tools/diag_scaling.py,
        # 703k-file corpus @ local[16]) showed one 28s straggler task in a
        # 128-partition scoring stage — AQE never split it because the skewed
        # partition was < 256m. 32m advisory + factor-2 skew split cut the
        # stage span 44.6s -> 21.8s and whole-job wall 248s -> 200s.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 3.3x the 10k default: the Arrow kernels (tokenizer, run-assembler,
        # pair scorer) amortize per-batch pandas construction; measured -3s
        # on the 703k-file job at local[16]. Peak per-worker batch memory is
        # bounded by the widest stage (~3 KB/row tokenizer input ≈ 100 MB).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # The default 100-entry whole-stage-codegen class cache thrashes under
        # this engine's query mix: one pass over the ~33 bench queries at
        # sf0.1 generates enough distinct generated classes (AQE re-plans,
        # the 64-column SimHash aggregate, PPJoin pipelines) that by the
        # second pass every early query re-pays Janino compilation — measured
        # 16.5s vs 5.5s warm for colour_split_docs. 3000 entries ≈ tens of MB
        # of metaspace, the right trade for any long-lived session (notebook,
        # streaming driver, bench harness).
        "spark.sql.codegen.cache.maxEntries": "3000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # tokenization/shingling costs ~100× the scan I/O per byte, so scan
        # partitions must be small enough to use every core (158 MB of snappy
        # parquet at the default 128 MB yields 8 partitions — an 8-way cap on
        # the feature stage no matter the executor count). 8 MB ≈ one compressed
        # partition per ~2-3s of feature compute.
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
        # zstd shuffle/broadcast compression instead of lz4: the job is
        # memory-bandwidth-bound at high core counts (membw_probe, PLANS.md),
        # so halving shuffle bytes through /dev/shm buys more than the extra
        # compression CPU costs. A/B on the 703k-file corpus (alternating
        # min-wall): local[16] 103.2s -> 88.9s (-14%, clusters stage 53.3 ->
        # 44.0s), local[4] 193.3 vs 194.2s (a wash — CPU-bound there, as
        # expected). Identical clusters. On a real cluster this also shrinks
        # network shuffle, the same trade in the same direction.
        "spark.io.compression.codec": "zstd",
    }
    if effective_master.startswith("local"):
        # Python workers import this package inside UDFs; put its parent
        # directory on their path so a driver started from any working
        # directory (a tool run from outside the checkout) still finds it.
        # The same path lets Spark start the workers from worker_daemon.
        defaults["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        defaults["spark.python.daemon.module"] = "entity_resolution_spark.worker_daemon"
        # local-mode shuffle goes through spark.local.dir; the sandbox disk
        # writes at ~260 MB/s while /dev/shm does ~1.8 GB/s — a wide-row
        # shuffle (pair-feature arrays) is disk-bound otherwise. On a real
        # cluster this is NVMe scratch + netty shuffle.
        local_dir = os.environ.get("SPARK_LOCAL_DIRS")
        if local_dir is None and os.path.isdir("/dev/shm"):
            local_dir = "/dev/shm/spark-local"
        if local_dir:
            defaults["spark.local.dir"] = local_dir

    conf = {k: v for k, v in defaults.items() if k not in launch}
    if master is not None:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        conf["spark.default.parallelism"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
