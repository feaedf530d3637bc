"""SparkSession factory tuned for the engine.

The reference sizes its chunk grid from a closed-form memory model
(reference: src/eo_core/memory_utils.py:10-125). The Spark-native analog is
sizing Arrow batches and shuffle partitions up front; AQE handles runtime
re-planning (skew splits, partition coalescing).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

from .plans.placement import broadcast_threshold_bytes, plan_size_bytes

# Arrow batch size for pandas UDFs. Narrow-row UDFs (PIP candidates, span
# rows) need LARGE batches or per-batch overhead dominates; fat-blob decode
# UDFs bound their batches by partitioning instead (media_df repartitions to
# ~64 payload rows per partition, ~32 MiB per decode batch).
ARROW_MAX_RECORDS = 8192


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet`` with the SCHEMA memoized on the session.

    Every bare ``spark.read.parquet(path)`` call re-infers the schema from
    file footers — measured 89 ms/call vs 14 ms with an explicit schema
    (local files, warm page cache). The catalogue queries re-read the same
    immutable corpus tables once per query per bench rep, so the footer
    work is pure repeated overhead. Only the schema object is cached (on
    the session, so it dies with it); file listing and data are resolved
    per plan/action exactly as before — no results or rows are reused.
    """
    cache = spark.__dict__.setdefault("_gsap_schema_cache", {})
    sch = cache.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        cache[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def read_parquet_dense(spark: SparkSession, path: str):
    """:func:`read_parquet` plus a size-gated round-robin repartition to
    the core count, for tables whose FIRST stage is CPU-dense.

    The sf tables are single-file single-row-group parquet, so their scans
    cannot split below one task — tokenization / HOF folds / decimal
    aggregation then run on ONE core before the first exchange (measured:
    doc_repetition_stats, a map-only query, 0.87 s → 0.41 s at local[32]
    once the scan output is spread). The gate adds the exchange only when
    the table is small (≤ the session broadcast threshold) AND its
    estimated scan-task count is below the core count — a production
    corpus with many row groups scans wide already and pays nothing.
    Row-order-insensitive by contract: every catalogue query aggregates,
    joins, or windows on explicit keys (no positional functions).
    """
    df = read_parquet(spark, path)
    # the estimate is derived from the immutable corpus file's bytes
    # (driver-only Catalyst stats — measured ~25 ms per call, re-paid on
    # every read of every table per bench rep), so memoize it per
    # (session, path) exactly like the schema above; the gate's conf
    # terms (threshold, maxPartitionBytes, cores) stay live reads
    size_cache = spark.__dict__.setdefault("_gsap_size_cache", {})
    est = size_cache.get(path)
    if est is None:
        try:
            est = size_cache[path] = plan_size_bytes(df)
        except Py4JError:
            return df  # estimate unavailable → plain scan
    cores = spark.sparkContext.defaultParallelism
    mpb = int(str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")))
    if 0 < est <= broadcast_threshold_bytes(spark) and est // mpb + 1 < cores:
        return df.repartition(cores)
    return df


def default_driver_memory(mem_total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: half the
    host's physical memory, capped at 24g and never below the 4g default
    initial heap (``-Xms`` above ``-Xmx`` stops the JVM from starting)."""
    if mem_total_bytes is None:
        mem_total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, max(4 * 1024, mem_total_bytes // 2**21))}m"


def workers_can_import_package(master: str) -> bool:
    """True when Python workers started by ``master`` can import this
    package at start-up: local workers inherit the driver's working
    directory and ``PYTHONPATH``, so the package root must be one of them."""
    if not master.startswith("local"):
        return False
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(
    app_name: str = "gsap-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parallelism comes from ``master`` (default ``local[$SPARK_GRAFT_CPUS]``);
    shuffle partitions default to the core count so local runs don't pay for
    200 tiny shuffle files. Operators whose heavy stages would then run as
    exactly ONE task wave (wall clock = slowest task — a measured ~10%
    straggler tax at high parallelism) scope a data-sized partition count
    around their own execution instead; see ``operators/knn.py`` for the
    rule and the scale-800 measurements behind it. A blanket 4×-cores
    default was measured and rejected: it fixed the big-corpus straggler
    tax but cost ~50% wall on the small-corpus driver bench (AQE cannot
    coalesce cogroup/applyInPandas required distributions).

    Python workers run under :mod:`.worker_daemon` instead of the stock
    ``pyspark.daemon`` whenever they can import it at start-up (a
    ``local[...]`` master with the package root as the working directory or
    on ``PYTHONPATH``). Spark's worker resets the import caches before every
    task, and on Python 3.11 that re-reads pyspark.zip, py4j and the
    spark-core jar once per cached zip finder: a warm trivial
    ``mapInPandas`` task measured 0.25 s of Python CPU under the stock
    daemon and 0.04 s under the engine daemon, which drops those finders
    first (4 vCPU, ``local[3]``). Elsewhere (a cluster master, or a package
    root workers may not find) the stock daemon stays, because a daemon
    that fails to import fails every task.

    The driver heap defaults to half the physical memory, within [4g, 24g],
    unless ``SPARK_DRIVER_MEM`` is set; a cap above the host's memory lets
    the OS kill the JVM before Spark spills.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # Throughput collector + a modest pinned initial heap. Measured on
        # this VM (BENCH/run_scaling.py methodology): G1's region
        # commit/uncommit churn on a large heap drives the kernel into page
        # management storms (92% sys time at local[32]; 36× task-CPU
        # inflation on repeat executions at local[8] with a 48g heap).
        # ParallelGC removes both. The initial heap defaults to a 4g floor —
        # pinning -Xms to the full -Xmx eagerly reserves the whole heap,
        # which fails startup / swaps on small hosts (library-wide default
        # must not assume a bench box); the scaling methodology opts into a
        # full pin via SPARK_XMS (BENCH/run_scaling.py sets it to the heap
        # size so repeated measurements never pay heap-growth commits).
        # SPARK_GC selects the collector (default ParallelGC per the note
        # above; G1GC is safe ONLY with a pinned Xms=Xmx heap — the measured
        # pathology was G1's region commit churn on a large GROWING heap)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_XMS', '4g')} "
            f"-XX:+Use{os.environ.get('SPARK_GC', 'ParallelGC')} "
            + os.environ.get("SPARK_EXTRA_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        # one BLAS thread per python worker: task parallelism comes from
        # Spark; nested OpenBLAS/MKL thread pools (32 workers x 32 threads)
        # thrash the scheduler on numpy kernels inside pandas UDFs
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Hadoop vectored IO on local files is bimodally pathological here:
        # parquet scan tasks park in the range-read pool's SynchronousQueue
        # handoff (jstack evidence) and the same scan swings 9 s ↔ 74 s
        # between reps (documents @ scale 200, local[8]). Classic reads are
        # stable and faster on page-cached local files; on HDFS/S3 with real
        # range latency this flips back and should be re-enabled.
        .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fat-binary tables (media payloads) must split into many more input
        # partitions than the 128 MB default bins allow, or the decode stage
        # runs a handful of giant tasks (poor balance + 100 MB Arrow batches)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    # shuffle spill files on tmpfs: this VM's disk serializes concurrent
    # shuffle writes (threads anti-scale on /tmp); a real cluster has
    # per-executor local SSDs, which tmpfs approximates here
    if os.path.isdir("/dev/shm"):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    if workers_can_import_package(master):
        b = b.config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
