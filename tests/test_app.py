"""End-to-end test of the connector CLI (the reference's main()
analog): stage orchestration, full-refresh vs incremental load
disciplines, watermark advance, idempotent retry."""

from __future__ import annotations

import collections
import datetime
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from zoom_spark.app import Connector, main
from zoom_spark.io import load_table


SINKS = (
    "users", "groups", "group_members", "meetings", "participants",
    "meeting_settings",
)


def test_all_stages_end_to_end(spark, tmp_path):
    """The bootstrap night, and its Spark job count: 27 on each of 5
    repeats. Each stage runs its plan once, inside the write that also
    counts it; a row-count re-run or an empty-write pre-check coming
    back fails this (with them the night ran 54 jobs)."""
    sink = str(tmp_path / "wh")
    sc = spark.sparkContext
    group = f"connector-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "connector job count")
    try:
        counts = main(
            ["--all", "--source-dir", SF_DIR, "--sink-dir", sink], spark=spark
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 27
    n_cust = load_table(spark, SF_DIR, "customer").count()
    assert counts["users"] == n_cust
    assert counts["groups"] == 25
    assert counts["group_members"] == n_cust
    # users conformance: contract columns in order, null-filled extra
    users = spark.read.parquet(f"{sink}/users")
    assert users.columns == [
        "c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal",
        "verified",
    ]
    assert users.where(F.col("verified").isNotNull()).count() == 0
    # meetings: exactly the earliest order day on bootstrap
    meetings = spark.read.parquet(f"{sink}/meetings")
    src_orders = load_table(spark, SF_DIR, "orders")
    first_day = src_orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d")
    ).first().d
    assert meetings.agg(F.count_distinct("order_date")).first()[0] == 1
    assert meetings.first().order_date == first_day
    # participants joined only for loaded meetings
    parts = spark.read.parquet(f"{sink}/participants")
    loaded_keys = {r.o_orderkey for r in meetings.select("o_orderkey").collect()}
    got_keys = {r.meeting_key for r in parts.select("meeting_key").distinct().collect()}
    assert got_keys <= loaded_keys


def test_caught_up_night_changes_no_sink(spark, tmp_path):
    """A second night over a source with no new order day finds
    nothing to load: every incremental count is 0 and every sink holds
    the same rows and schema as after the bootstrap (an empty append
    adds a schema-only file, an empty dynamic-partition overwrite
    touches no partition). The source is the sf0.001 fixture with
    `orders` cut to its first order day."""
    src = tmp_path / "src"
    src.mkdir()
    for name in os.listdir(SF_DIR):
        if name != "orders.parquet":
            os.symlink(os.path.join(SF_DIR, name), src / name)
    orders = pq.read_table(os.path.join(SF_DIR, "orders.parquet"))
    first_day = pc.min(orders["o_orderdate"]).as_py().date()
    day_end = datetime.datetime.combine(
        first_day + datetime.timedelta(days=1), datetime.time()
    )
    ts = orders.schema.field("o_orderdate").type
    pq.write_table(
        orders.filter(pc.less(orders["o_orderdate"], pa.scalar(day_end, ts))),
        src / "orders.parquet",
    )
    sink = str(tmp_path / "wh")
    argv = ["--all", "--source-dir", str(src), "--sink-dir", sink]

    def snapshot():
        out = {}
        for t in SINKS:
            df = spark.read.parquet(f"{sink}/{t}")
            out[t] = (df.schema, collections.Counter(df.collect()))
        return out

    first = main(argv, spark=spark)
    assert first["meetings"] > 0
    before = snapshot()
    again = main(argv, spark=spark)
    assert again == dict(first, meetings=0, participants=0, meeting_settings=0)
    assert snapshot() == before


def test_meetings_watermark_advances_one_day_per_run(spark, tmp_path):
    """Each run loads the first source day with orders after the sink's
    last day. sf0.001 has no order on the day after its first order
    day, so night 2 must skip that gap day, not retry it forever."""
    sink = str(tmp_path / "wh2")
    conn = Connector(spark, SF_DIR, sink)
    conn.load_meetings()
    d1 = spark.read.parquet(f"{sink}/meetings").agg(
        F.max("order_date").alias("d")
    ).first().d
    src_days = {
        r.d
        for r in load_table(spark, SF_DIR, "orders")
        .select(F.to_date("o_orderdate").alias("d"))
        .distinct()
        .collect()
    }
    want = min(d for d in src_days if d > d1)
    assert want - d1 > datetime.timedelta(days=1)  # a gap day lies between
    conn.load_meetings()
    days = sorted(
        r.order_date
        for r in spark.read.parquet(f"{sink}/meetings")
        .select("order_date")
        .distinct()
        .collect()
    )
    assert days == [d1, want]
    # idempotent retry: re-running the same day must not duplicate
    n_before = spark.read.parquet(f"{sink}/meetings").count()
    # simulate retry by reloading the latest day (dynamic overwrite)
    conn.load_meetings()
    conn_n = spark.read.parquet(f"{sink}/meetings").count()
    assert conn_n >= n_before  # advanced or same, never duplicated rows
    per_key = (
        spark.read.parquet(f"{sink}/meetings")
        .groupBy("o_orderkey")
        .count()
        .where(F.col("count") > 1)
    )
    assert per_key.count() == 0


def test_accounts_writeback_isolates_row_errors(spark, tmp_path):
    conn = Connector(spark, SF_DIR, str(tmp_path / "wh3"))
    seen = []

    def post(row):
        if row["c_custkey"] % 2 == 0:
            raise RuntimeError("boom")
        seen.append(row["c_custkey"])

    n = conn.create_student_accounts(post_fn=post)
    assert n >= 0  # no exception escaped despite failing rows
