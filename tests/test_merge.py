"""MERGE/upsert, SCD2, and compaction semantics (SURVEY.md §1.5 —
the idempotency upgrades over the reference's append-only sinks)."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from zoom_spark.operators.merge import (
    compact_small_files,
    merge_upsert,
    merge_upsert_to_path,
    scd2_close_and_insert,
)


def test_merge_upsert_update_insert_survive(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21), (9, "new", 90)], ["k", "name", "v"]
    )
    got = {
        (r["k"], r["name"], r["v"])
        for r in merge_upsert(existing, updates, "k").collect()
    }
    assert got == {(1, "a", 10), (3, "c", 30), (2, "b2", 21), (9, "new", 90)}


def test_merge_upsert_idempotent_under_retry(spark, tmp_path):
    """Re-running the same merge must not duplicate rows (the
    reference's retry double-inserts, /root/reference/main.py:21-24)."""
    path = str(tmp_path / "sink")
    base = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    merge_upsert_to_path(spark, path, base, "k")
    upd = spark.createDataFrame([(2, 21), (3, 30)], ["k", "v"])
    merge_upsert_to_path(spark, path, upd, "k")
    merge_upsert_to_path(spark, path, upd, "k")  # simulated retry
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10), (2, 21), (3, 30)}


def test_merge_rolls_back_an_interrupted_swap(spark, tmp_path):
    """A crash between replace_table's two renames leaves no live table
    and a complete <path>__old: the next merge rolls the swap back and
    merges into it instead of bootstrapping over it. A stale __old
    beside a live table (a crash after both renames) is dropped."""
    path = str(tmp_path / "sink")
    schema = "k long, v long"
    merge_upsert_to_path(
        spark, path, spark.createDataFrame([(1, 10), (2, 20)], schema), "k"
    )
    os.rename(path, path + "__old")
    merge_upsert_to_path(
        spark, path, spark.createDataFrame([(2, 21), (3, 30)], schema), "k"
    )
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10), (2, 21), (3, 30)}
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__staging")

    shutil.copytree(path, path + "__old")
    merge_upsert_to_path(
        spark, path, spark.createDataFrame([(4, 40)], schema), "k"
    )
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10), (2, 21), (3, 30), (4, 40)}
    assert not os.path.exists(path + "__old")


def test_failed_staging_write_leaves_live_table(spark, tmp_path):
    """A merge whose staged write fails leaves the live table readable
    and unchanged, and the next merge commits past the partial
    staging directory."""
    path = str(tmp_path / "sink")
    schema = "k long, v long"
    merge_upsert_to_path(
        spark, path, spark.createDataFrame([(1, 10), (2, 20)], schema), "k"
    )
    bad = spark.createDataFrame([(3, 30)], schema).withColumn(
        "v", F.raise_error(F.lit("injected write failure")).cast("long")
    )
    with pytest.raises(Exception, match="injected write failure"):
        merge_upsert_to_path(spark, path, bad, "k")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10), (2, 20)}

    merge_upsert_to_path(
        spark, path, spark.createDataFrame([(3, 30)], schema), "k"
    )
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10), (2, 20), (3, 30)}


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.mode("overwrite").parquet(path)
    n_before = len(glob.glob(path + "/*.parquet"))
    assert n_before >= 32
    compact_small_files(spark, path, target_bytes=1 << 30)
    n_after = len(glob.glob(path + "/*.parquet"))
    assert n_after == 1
    back = spark.read.parquet(path)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == 2 * sum(range(10000))


def test_scd2_closes_open_row_and_inserts_new(spark):
    d = datetime.date
    existing = spark.createDataFrame(
        [
            (1, d(2025, 1, 1), d(9999, 12, 31), "v1"),
            (2, d(2025, 1, 1), d(2025, 6, 1), "old"),
            (2, d(2025, 6, 1), d(9999, 12, 31), "cur"),
        ],
        ["k", "valid_from", "valid_to", "attr"],
    )
    updates = spark.createDataFrame(
        [(1, d(2026, 2, 1), "v2")], ["k", "ts", "attr"]
    )
    got = {
        (r["k"], str(r["valid_from"]), str(r["valid_to"]), r["attr"])
        for r in scd2_close_and_insert(
            existing, updates, key="k", ts_col="ts"
        ).collect()
    }
    assert got == {
        (1, "2025-01-01", "2026-02-01", "v1"),   # closed
        (1, "2026-02-01", "9999-12-31", "v2"),   # new open row
        (2, "2025-01-01", "2025-06-01", "old"),  # untouched history
        (2, "2025-06-01", "9999-12-31", "cur"),  # untouched open row
    }
