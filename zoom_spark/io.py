"""Source/sink layer (SURVEY.md §2.1 S5–S10, S12).

The reference delegates table IO to pandas+SQLAlchemy
(/root/reference/main.py:87-89, 66) — here every scan is a Spark
reader (parquet primary; json/csv/jdbc exposed for parity) so that
Catalyst column pruning and predicate pushdown reach the file format.

Sinks re-express the reference's two load disciplines:
  * full refresh / drop-then-load (/root/reference/main.py:38-46)
      -> mode("overwrite") with overwriteSchema
  * per-page append (/root/reference/main.py:66,113)
      -> mode("append"); idempotent variant = dynamic partition
         overwrite keyed by load partition (fixes the reference's
         double-insert-on-retry hazard, SURVEY.md §1.5).
Every batch parquet write in the engine goes through this module, and
each writer returns the rows it wrote, read off an ``Observation`` on
the write job itself (no second job re-runs the plan to count it).

``replace_table`` commits a table rebuilt from itself (MERGE, SCD2,
compaction) on the sink's Hadoop FileSystem: write ``<path>__staging``
once, rename ``<path>`` to ``<path>__old``, rename the staging to
``<path>``, delete ``__old``. A crash before the first rename leaves
the live table as it was; between the renames, ``sink_exists`` renames
``__old`` back before it answers; after them, the next swap deletes the
stale ``__old``. A directory rename is atomic on HDFS and local disk;
on object stores (S3, GCS) it is a copy, so there the swap is neither
atomic nor cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of how the
    parquet writer encoded it. Test fixtures have shipped both
    TIMESTAMP(NANOS) (read as bigint under nanosAsLong) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ),
    so the conversion must key off the observed dtype, not an assumed
    physical encoding."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # epoch-nanos as bigint: integer division to micros (float
        # division loses precision above 2^53 and yields ±1µs errors)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        # naive micros: reinterpret in the session timezone (UTC —
        # load_table pins it) so downstream epoch arithmetic and the
        # DuckDB oracle's naive timestamps agree
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table (S5). Predicate/column pushdown is
    Catalyst's job — callers express filters declaratively."""
    if name == "events":
        # runtime-set so driver-built sessions (which lack the confs)
        # read nanos fixtures and render timestamps UTC like ours do
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def spread_scan(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin-spread a pruned scan whose file layout yields fewer
    partitions than the session's parallelism, so an expensive per-row
    projection placed downstream runs on every core instead of inside
    the scan task.

    The bench fixtures are single-row-group parquet files: such a scan
    can never split past one task, so any heavy map-side expression
    chain (shingle/signature folds, md5 fingerprints, codec decodes)
    otherwise executes serially regardless of core count. At
    production scale a scan yields >= cores splits and this helper is
    a NO-OP — the guard reads the planned scan partitioning (one
    physical-plan conversion, no job, cheap because callers pass a
    plain scan projection with no exchange underneath).

    Call AFTER projecting the needed columns and BEFORE the expensive
    projection: the exchange is a pushdown/pruning barrier, so only
    pre-pruned bytes should cross it (optimization guide: project
    before the exchange), and the heavy expression must sit above the
    exchange to parallelize.
    """
    sc = df.sparkSession.sparkContext
    target = n or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def spread_rows(df: DataFrame, n: int | None = None) -> DataFrame:
    """Unconditionally round-robin a SMALL, bounded-cardinality frame
    (e.g. the calendar-bounded day aggregate: ~2.4k rows at ANY scale
    factor) across the session parallelism before an operation that
    multiplies its rows — a pairwise/cross self-join.

    Why: the multiplied output inherits the input's partitioning, and
    a tiny post-shuffle frame is AQE-coalesced to one partition (its
    BYTE size earns one task), so the O(n^2) pair generation and
    everything computed on top of it runs serially no matter how many
    cores the session has. Spreading n bounded rows costs one trivial
    exchange at any scale; the quadratic stage then uses every core.

    Only for frames whose row count is bounded by construction —
    spreading an unbounded frame belongs to AQE, not to this helper.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(n or sc.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """S6: expose every table as a temp view so spark.sql() queries
    (S7 raw-SQL pushdown parity) can reference them by name."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def _write_counted(df: DataFrame, write) -> int:
    """Run ``write(df.write)`` and return the rows the write job saw."""
    rows = Observation()
    write(df.observe(rows, F.count(F.lit(1)).alias("rows")).write)
    return rows.get["rows"]


def write_overwrite(df: DataFrame, path: str) -> int:
    """S9 drop-then-load full refresh; schema reset comes free because
    overwrite rewrites the footer (reference: main.py:38-46). Returns
    the rows written. For a ``df`` that reads ``path``: replace_table."""
    return _write_counted(df, lambda w: w.mode("overwrite").parquet(path))


def write_append(df: DataFrame, path: str) -> int:
    """S8 append sink (reference: main.py:66). Returns the rows
    written; an empty ``df`` appends one schema-only file."""
    return _write_counted(df, lambda w: w.mode("append").parquet(path))


def sink_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of a sink, so a sink on HDFS/S3 is probed
    where it lives (``os.path`` would call it absent: a bootstrap)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return hpath.getFileSystem(conf), hpath


def _rename(fs, src, dst) -> None:
    # Hadoop's rename reports failure by returning False, not raising
    if not fs.rename(src, dst):
        raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")


def sink_exists(spark: SparkSession, path: str) -> bool:
    """S10 existence probe of the table at ``path``. It first rolls
    back a ``replace_table`` swap that stopped between its renames."""
    fs, live = sink_fs(spark, path)
    if fs.exists(live):
        return True
    old = live.suffix("__old")
    if not fs.exists(old):
        return False
    _rename(fs, old, live)
    return True


def replace_table(df: DataFrame, path: str) -> None:
    """Replace the table at ``path`` with ``df``, which may read
    ``path`` (the staged swap in the module docstring). A caller that
    reads the old table probes it with ``sink_exists`` first."""
    spark = df.sparkSession
    fs, live = sink_fs(spark, path)
    staging, old = live.suffix("__staging"), live.suffix("__old")
    fs.delete(staging, True)
    write_overwrite(df, staging.toString())
    if fs.exists(live):
        # a stale __old beside a live table is a swap that finished
        # its renames; renaming onto it would nest the table inside it
        fs.delete(old, True)
        _rename(fs, live, old)
    _rename(fs, staging, live)
    fs.delete(old, True)
    # a reader in this session must not serve the pre-swap listing
    spark.catalog.refreshByPath(path)


def read_csv(
    spark: SparkSession, path: str, schema=None, **options
) -> DataFrame:
    """S12 CSV source. Schema-first (TESTDATA types are lossy through
    CSV inference); header on unless overridden. PERMISSIVE mode keeps
    malformed rows as nulls (S15 domain-error-skip analog)."""
    reader = spark.read.options(header="true", **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema=None, **options
) -> DataFrame:
    """S12 JSON-lines source — the landed-page format of the S1/S2
    paginated fetchers (each API page -> one JSON-lines file)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    **options,
) -> DataFrame:
    """S12 JDBC source — parity with the reference's MSSQL/PostgreSQL/
    SQLite backends (/root/reference/config.py:68-86). When the
    partition bounds are given the scan parallelizes across
    num_partitions range slices; otherwise it is a single-connection
    scan (fine for dims, wrong for facts at scale). No JDBC driver
    ships in this container, so this is covered by construction tests
    only."""
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", table
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_idempotent_partition(df: DataFrame, path: str, partition_col: str) -> int:
    """Idempotent incremental sink: dynamic partition overwrite keyed by
    the load partition column. A retried load rewrites its own
    partition instead of double-appending (fixes SURVEY.md §1.5).
    At 100 TB this is also the pruning axis: the watermark predicate
    only touches the partitions it names. Returns the rows written; an
    empty ``df`` touches no partition."""
    return _write_counted(
        df,
        lambda w: w.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path),
    )
