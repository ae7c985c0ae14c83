"""Table sources.

The reference has no I/O layer (callers hand it in-memory pandas frames —
SURVEY.md §2.1); a distributed engine needs real sources. Parquet is the
primary format (columnar, predicate/column pushdown reaches the scan);
CSV/JSON readers are provided for parity with ``pd.read_csv/read_json``
call sites. At 100 TB the parquet reader's row-group pruning plus
Catalyst's `PushedFilters`/`ReadSchema` are what make scans cheap — never
materialize to pandas to load data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Resident-session table handles (r17, r16 verdict #5 generalized): a
# DataFrame's creation runs a schema/footer-read Spark job, so every
# query builder re-reading the same immutable table paid one fixed-cost
# job per load (measured: ~0.1-0.15 s/job locally; it was 1 of the 3
# build jobs in EVERY ANN arm). A resident engine holds catalog table
# handles instead — this cache is that, keyed by (path, content stamp)
# and bound to the creating session. It holds a LAZY plan handle only
# (file index + schema); all data is still computed from parquet on
# every action.
_TABLE_DFS: dict[str, tuple[tuple[int, int], DataFrame]] = {}


def _content_stamp(path: str) -> "tuple[int, int] | None":
    """(newest ``st_mtime_ns``, total bytes) over a table's files — one
    file, or every file under a ``<name>.parquet`` directory. A part
    file rewritten in place moves this stamp while the directory's own
    mtime stays put (rewriting a file does not touch its directory
    entry), so a directory-mtime key would serve a stale file index."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        newest = total = 0
        for root, _, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                newest = max(newest, st.st_mtime_ns)
                total += st.st_size
        return (newest, total)
    except OSError:
        return None


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: str | None = None
) -> DataFrame:
    """Read one testdata table. A table written with parquet
    TIMESTAMP(NANOS) is rejected by Spark's default reader — fall back to
    long nanos (legacy conf) and truncate to microsecond timestamps,
    exactly how DuckDB's µs TIMESTAMP reads the same file. The fallback
    fires ONLY for that specific error (the shipped sf* events files are
    already µs — verified — so it is normally dormant): any other read
    failure (missing path, corrupt file) re-raises untouched instead of
    permanently flipping a session-wide legacy conf on the caller.

    ``spread=<key column>`` applies :func:`spread_scan` after the read —
    opt-in per call site because a handful of operators give partition
    contents semantics (pandas chunk batteries) and must see the raw
    scan layout. (The cached base handle is pre-spread; spread is
    re-applied per call.)"""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = os.path.abspath(path)
    stamp = _content_stamp(path)
    hit = _TABLE_DFS.get(key)
    if (
        hit is not None
        and stamp is not None
        and hit[0] == stamp
        and hit[1].sparkSession is spark
    ):
        df = hit[1]
        return spread_scan(df, spread) if spread is not None else df
    try:
        df = spark.read.parquet(path)
    except Exception as e:
        if "NANOS" not in str(e).upper():
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if stamp is not None:
        _TABLE_DFS[key] = (stamp, df)
    if spread is not None:
        df = spread_scan(df, spread)
    return df


def spread_scan(df: DataFrame, *key_cols: str, parallelism: int | None = None) -> DataFrame:
    """Engage every core behind an unsplittable small-file scan.

    The shipped testdata tables are single-file, SINGLE-ROW-GROUP parquet
    — Spark cannot split below a row group, so every scan is one task and
    all map-side work (expression eval, Arrow kernels) serializes on one
    core (guide §2.5 input skew: "one huge unsplittable file … otherwise
    repartition immediately after the read"). This hash-repartitions on a
    DETERMINISTIC key (safe under task retries, unlike round-robin over
    nondeterministic input) to the session's default parallelism.

    Scale-adaptive by construction: a real many-file 100 TB layout scans
    with >= cores partitions and this is a NO-OP (no exchange added) —
    it fires exactly when file count < core count. Results are unchanged
    either way: every downstream operator that uses it is partitioning-
    independent (the det.* fixed-point sums are exact integers in any
    order; rankings/joins key on values, not partitions)."""
    sc = df.sparkSession.sparkContext
    target = parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can use SQL too."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def from_pandas(spark: SparkSession, pdf, schema=None) -> DataFrame:
    """In-memory table (SURVEY.md §2.1: every reference test builds frames
    from numpy — ``createDataFrame`` over the Arrow path is the Spark
    equivalent)."""
    return spark.createDataFrame(pdf, schema=schema)


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    # header defaults true but stays caller-overridable (header=False is
    # the pd.read_csv(header=None) case)
    opts = {"header": "true"}
    opts.update({k: str(v) for k, v in options.items()})
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**{k: str(v) for k, v in options.items()})
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """ORC scan — Spark's second native columnar format (vectorized reader,
    predicate pushdown, column pruning, splittable stripes — same scale
    properties as parquet)."""
    reader = spark.read.options(**{k: str(v) for k, v in options.items()})
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols, max_records_per_file: int | None = None
) -> None:
    """Hive-layout partitioned parquet sink (``path/col=value/part-*``).

    THE scan-reduction lever at 100 TB: a reader filtering on a partition
    column never opens the other directories — Catalyst turns the
    predicate into ``PartitionFilters`` at plan time (dynamic partition
    pruning handles join-derived predicates), so a day's query over a
    years-deep corpus reads one directory, not the corpus. Partition
    columns should be LOW-cardinality derivations (date, not timestamp;
    bucket, not id): each distinct value is a directory, and millions of
    tiny directories destroy both the driver's file listing and HDFS/S3
    metadata. Plan-test-asserted (tests/test_plan_shapes.py): the pruned
    scan's PartitionFilters carries the predicate and non-matching files
    are never listed in the scan.
    """
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    writer = df.write.mode("overwrite").partitionBy(*cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a hive-layout directory back; partition columns come from the
    directory names. Filters on them prune at PLAN time (PartitionFilters)
    — pair with :func:`write_partitioned`."""
    return spark.read.parquet(path)
