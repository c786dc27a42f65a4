"""MERGE/upsert and table-maintenance operators (SURVEY.md §1.5,
§4.1 row 3 — the idempotent-sink semantics the reference lacks).

Without a transactional table format in the container (Delta/Iceberg
ship MERGE natively and this module's signatures match that shape),
upsert over parquet is expressed relationally: keep every existing
row whose key is absent from the updates (left_anti), union the
updates, rewrite (O(table) per merge), committed by io.replace_table:
one staged write and a rename swap.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import replace_table, sink_exists, sink_fs


def merge_upsert(
    existing: DataFrame, updates: DataFrame, keys: list[str] | str
) -> DataFrame:
    """Upsert result: updates win on key collision, existing rows
    without a matching update survive, brand-new keys append.
    (MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT.)"""
    k = [keys] if isinstance(keys, str) else list(keys)
    survivors = existing.join(updates, on=k, how="left_anti")
    return survivors.unionByName(updates)


def merge_upsert_to_path(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str] | str,
) -> None:
    """Full-table merge rewrite for unpartitioned sinks (bootstrap
    when the sink does not exist yet). The merged table is written once
    and swapped in by ``io.replace_table``; the existence probe is
    ``io.sink_exists``, which also rolls back a swap a crash left
    half done."""
    merged = (
        merge_upsert(spark.read.parquet(path), updates, keys)
        if sink_exists(spark, path)
        else updates
    )
    replace_table(merged, path)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_bytes) files. Streaming sinks and
    per-page appends (the reference's load pattern) accrete small
    files that throttle scan parallelism at scale; compaction restores
    scan-sized splits. Returns the output file count."""
    fs, hpath = sink_fs(spark, path)
    total = fs.getContentSummary(hpath).getLength()
    n_out = max(1, math.ceil(total / target_bytes))
    replace_table(spark.read.parquet(path).repartition(n_out), path)
    return n_out


def scd2_close_and_insert(
    existing: DataFrame,
    updates: DataFrame,
    key: str,
    ts_col: str,
    *,
    open_end: str = "9999-12-31",
) -> DataFrame:
    """Slowly-changing-dimension type 2: close the currently-open row
    of each updated key (valid_to = update ts) and insert the update
    as the new open row. Pure relational form of the warehouse
    history-tracking MERGE."""
    upd = updates.select(
        F.col(key),
        F.col(ts_col).alias("valid_from"),
        F.lit(open_end).cast("date").alias("valid_to"),
        *[c for c in updates.columns if c not in (key, ts_col)],
    )
    new_ts = updates.select(
        F.col(key).alias("__k"), F.col(ts_col).alias("__new_from")
    )
    closed = (
        existing.join(new_ts, existing[key] == F.col("__k"), "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("__k").isNotNull()
                & (F.col("valid_to") == F.lit(open_end).cast("date")),
                F.col("__new_from").cast("date"),
            ).otherwise(F.col("valid_to")),
        )
        .drop("__k", "__new_from")
    )
    return closed.unionByName(upd.select(*existing.columns))
