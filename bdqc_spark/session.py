"""SparkSession factory tuned for this engine.

Design notes (scale): these confs are the single place where the
engine's execution posture is set — Arrow exchange on (every domain
UDF is a vectorized pandas UDF, never per-row Python), AQE on
(runtime shuffle coalescing + skew-join splitting; the reference
has nothing comparable — it is a sequential single-process scanner,
see SURVEY.md §4.1), and a bounded Arrow batch size so wide binary
``bytes`` rows cannot OOM a Python worker (SURVEY.md §7 risk 3).

On a real cluster the same factory is used with ``master`` unset
(inherited from spark-submit) — nothing here is local-mode-specific
except the defaults used by tests/bench.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow RecordBatch crossing JVM→Python. Audio `bytes` rows
# are ~10-300 KB each, so 256 rows ≈ 2.5-75 MB per batch — large
# enough to amortize UDF dispatch, small enough to never blow a
# worker's heap even with 32 concurrent tasks.
ARROW_MAX_RECORDS_PER_BATCH = 256


def build_session(
    app_name: str = "bdqc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard confs.

    Parameters are overridable so bench.py can run the identical job
    at two parallelism levels (local[8] vs local[32]) for the
    scaling-efficiency measurement (BASELINE.md).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None and not _under_spark_submit():
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Match shuffle width to parallelism in local mode; on a real
        # cluster this is overridden (AQE coalesces down anyway).
        shuffle_partitions = _parallelism_of(master) if master else 200

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow exchange: mandatory for vectorized UDFs (input_hint:
        # "no per-row Python").
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # AQE: runtime shuffle-partition coalescing, skew-join
        # splitting, dynamic join strategy. BASELINE.json:6
        # ("AQE-managed shuffles").
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast threshold: cohort-model tables are KB-sized; make
        # sure the planner broadcasts them (stage 4 must be map-side,
        # SURVEY.md §3.2).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp behaviour for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # File listing: manifest-driven reads pass EXPLICIT file lists
        # (sources/iceberg.py), and above 32 paths Spark launches a
        # whole listing job — 2048 tiny stat tasks cost seconds of
        # serial-path time per read on a local FS where a driver-side
        # stat is microseconds. Real clusters with object-store
        # latencies lower this back (it is a per-deploy knob, not an
        # engine invariant).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "16384")
        # Vectorized parquet scan batch: the default 4096 rows is sized
        # for scalar columns; audio `bytes` rows are ~10-300 KB, so a
        # 4096-row columnar batch is up to ~1 GB PER TASK and 32
        # concurrent scan tasks OOM any sane heap once row groups are
        # large enough to fill it. 1024 rows bounds a wide-binary batch
        # at ~70 MB/task while costing scalar-table scans nothing
        # measurable. Same discipline as ARROW_MAX_RECORDS_PER_BATCH.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # Off-heap columnar vectors for the parquet scan: with on-heap
        # vectors every ~70 KB audio `bytes` cell lives in a young-gen
        # byte[] that survives collections while its 1024-row batch is
        # in flight — measured 6s of STW pause per 23s scan draw of
        # the 28 GB bench corpus (26% of wall, and an Amdahl serial
        # term that caps N-vs-4N scaling: GC pause time scales with
        # bytes scanned, not with cores). Off-heap vectors halve total
        # pause time and cut scan wall ~12% (BENCH.md §4).
        .config("spark.sql.columnVector.offheap.enabled", "true")
        .config("spark.ui.enabled", "false")
        # No PySpark call-site capture: with it on, every functions.*
        # and DataFrame call walks the Python stack and makes four JVM
        # calls to record its origin, a serial driver cost on every
        # plan build. Error messages then lack the DataFrame query
        # context (the Python line that built the failing expression).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.driver.memory", os.environ.get("BDQC_DRIVER_MEM") or _default_driver_mem()
        )
        # Throughput GC: the audio `bytes` column allocates millions of
        # short-lived byte[]; G1 collapses under that churn at 32
        # concurrent tasks (measured: 2-30× slower scans, see
        # BENCH.md), ParallelGC sustains it. Applied to executors too
        # for real-cluster deployments.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers (the in-process
    # equivalent of `spark-submit --py-files engine.zip`).
    from bdqc_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    _warm_start(spark)
    return spark


# applicationIds already warm-started (getOrCreate can hand the same
# session back many times; the warm start must run once per app).
_WARMED: set[str] = set()


def _warm_start(spark: SparkSession) -> None:
    """One small synthetic-data pass through the engine's core operator
    classes (regex expressions, hash/sort aggregates with MIN/MAX/COUNT
    buffers, broadcast join, window frame, decimal math,
    shuffle, noop sink) so their codegen/JIT warm-up happens at
    session construction instead of inside the first real query — a
    cold first query on this engine pays 1.5-3s of one-time class
    loading + Janino/C2 compilation regardless of its data size
    (measured: dedup_exact 4.1s cold / 0.94s warm in a fresh session).
    Long-lived clusters are permanently in the warm state; this makes
    short-lived sessions (CLI runs, oracle checks) start there too.
    Purely synthetic literals — reads nothing, caches nothing,
    produces nothing. Opt out with BDQC_WARM_START=0."""
    if os.environ.get("BDQC_WARM_START", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_part = min(8, spark.sparkContext.defaultParallelism)
    df = spark.range(0, 20000, 1, n_part).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        F.concat(
            F.lit("tok "),
            (F.col("id") % 97).cast("string"),
            F.lit(" alpha beta 123-45-6789 x@y.zz"),
        ).alias("s"),
        (F.col("id") % 1000).cast("double").alias("x"),
    )
    small = spark.range(0, 7).select(F.col("id").alias("g"), F.lit(1).alias("tag"))
    w = Window.partitionBy("g").orderBy("x", "id")
    warm = (
        df.withColumn("ntok", F.regexp_count(F.col("s"), F.lit(r"[^ \t\n\r]+")))
        .withColumn("scr", F.regexp_replace(F.col("s"), r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "#"))
        .withColumn("h", F.xxhash64("s"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "rsum",
            F.sum(F.col("x").cast("decimal(18,6)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"),
        )
        .join(F.broadcast(small), "g")
    )
    warm.groupBy("g").agg(
        F.min("x"),
        F.max("x"),
        F.min("h"),
        F.count(F.lit(1)),
    ).write.format("noop").mode("overwrite").save()
    df.select("s", "id").groupBy("s").agg(F.min("id")).write.format(
        "noop"
    ).mode("overwrite").save()


def _default_driver_mem() -> str:
    """The smaller of 16g and half the host's physical memory: in
    local mode the driver JVM is the whole engine, and a heap sized to
    all of RAM lets it grow until the kernel's OOM killer takes it once
    any other process needs memory."""
    try:
        half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (2 << 20)
    except (AttributeError, OSError, ValueError):  # no sysconf (Windows)
        return "16g"
    return f"{min(half_mb, 16 << 10)}m"


def _under_spark_submit() -> bool:
    """True when this process was launched by spark-submit: the JVM
    gateway already exists and exported PYSPARK_GATEWAY_PORT/SECRET
    for the Python driver to attach to — and it carries the submitted
    master (--master yarn/k8s/...), which build_session must not
    clobber with a local[] default.

    Why not probe SparkConf()? A SparkConf constructed before the
    gateway initializes is dict-backed and never sees spark-submit's
    JVM system properties (contains('spark.master') is False even
    under spark-submit), so that check silently always defaulted to
    local[] — the env vars are the reliable pre-gateway signal.
    """
    return "PYSPARK_GATEWAY_PORT" in os.environ


def _parallelism_of(master: str) -> int:
    """Parse local[N] → N; anything else → a cluster-ish default."""
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 4
        try:
            return int(inner)
        except ValueError:
            return os.cpu_count() or 4
    return 200
