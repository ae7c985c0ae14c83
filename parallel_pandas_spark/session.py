"""SparkSession factory tuned for the target execution profile.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); production
target is a multi-executor cluster reading ~100 TB, so everything that
matters at scale — AQE, adaptive skew joins, partition coalescing, Arrow
transport for the pandas-UDF slow path — is on by default. This replaces
the reference's warm process pools and auto chunk sizing
(/root/reference/parallel_pandas/progress_imap.py:16-125, tools.py:68-110):
Spark's resident executors + ``spark.sql.files.maxPartitionBytes`` + AQE
coalescing are the built-in equivalents.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """The driver heap cap: the smaller of 48g and half of physical memory.

    local[32] runs every task in the driver JVM: 32 concurrent external
    sorts share the execution-memory pool, and an 8g heap measurably
    spilled the sf1 window sorts (ordered_battery 48 s -> 15 s at 48g). A
    real cluster sizes executor memory to its partition budget; locally we
    take the RAM we have, but no more than half of it: a cap above
    physical memory lets G1 grow the heap until the kernel kills the JVM
    (seen on a 16 GB host at 15.5 GB resident)."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "parallel_pandas_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``extra_conf`` is applied last, so it overrides any conf set here."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor (r16): parallelismFirst targets
        # max(shuffleBytes/parallelism, minPartitionSize) — with the 1m
        # default every <32 MB shuffle coalesces below the core count and
        # the post-shuffle window/aggregate compute runs on idle-core
        # counts (measured: rolling_moments 1.18 s -> 0.89 s, merge 2.59
        # -> 2.15 at 64k, interleaved A/B medians). AQE prices partitions
        # by BYTES and cannot see per-row compute density; a lower floor
        # only binds in the shuffle-smaller-than-cluster regime, where
        # keeping the slots busy is the right call. At 100 TB shuffle
        # sizes put every partition far above either floor, so the floor
        # is inert there (advisory size governs).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 enables ANSI mode by default, which makes division by a
        # zero/degenerate denominator a RUNTIME ERROR — z-scoring a
        # constant column or pct_change over a zero base would crash the
        # job, where pandas yields NaN/inf. This engine's contract
        # (documented throughout) encodes pandas' NaN as NULL, which is
        # exactly classic non-ANSI Spark division semantics.
        #
        # USER-VISIBLE CONTRACT: any SQL the caller runs through this
        # session (spark.sql(...)) inherits non-ANSI arithmetic too —
        # x/0 is NULL, not an error; overflowing casts wrap instead of
        # raising. Run ANSI-dependent SQL on a separate session, or
        # `SET spark.sql.ansi.enabled=true` per statement scope.
        .config("spark.sql.ansi.enabled", "false")
        # testdata events.parquet uses TIMESTAMP(NANOS); read as long nanos
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # scan-split granularity (r6): the default 128m leaves a
        # single-file table as ONE scan task — at sf1 that serializes the
        # whole map side (6M-row partial aggregation on one core; measured
        # super-linear slope on stats_battery/apply_demean). 16m engages
        # every core wherever the file's row-group layout allows a split.
        # On a real multi-file 100 TB layout the default is fine — this
        # setting matters exactly when file count < core count.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        # streaming drain-proof latency (r16): the harness proves a
        # source drained by observing an EMPTY committed trigger
        # (events._offsets_drained), but Spark only EMITS a progress
        # entry for no-data triggers every noDataProgressEventInterval
        # (default 10 s) — every drain-proof streaming run was paying a
        # ~10 s reporting wait AFTER its last data batch (measured:
        # livepost drain run 15.3 s -> 5.3 s of real work). Reporting
        # frequency only; batch contents, commits and results are
        # untouched.
        .config("spark.sql.streaming.noDataProgressEventInterval", "250")
        # generated-class cache: the default 100 entries thrashes once a
        # resident session runs a few dozen multi-window queries — each
        # re-run then pays ~2 s of Janino recompilation (measured on the
        # ordered battery: 4.5 s cold-cache vs 2.3 s warm). A resident
        # cluster keeps its compiled classes; so do we. Spark reads this
        # value ONCE per JVM, from SQLConf.get on whichever thread first
        # generates code; a pool thread with no active session reads the
        # default 100 there. So get_spark sizes the cache itself, below.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Load CodeGenerator on this thread while this session is active, so
    # its class cache takes this session's maxEntries rather than the
    # default a pool thread's query would see (measured: about 345 Janino
    # compiles per warm corpus_build_pipeline call at 100 entries, 0-18
    # at 2000). A static call: no Spark job runs.
    jvm = spark._jvm
    jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(spark._jsparkSession)
    jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.isValidParamLength(1)
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (datetime semantics contract)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
