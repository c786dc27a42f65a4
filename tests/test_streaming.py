"""Structured Streaming parity tests: availableNow streaming runs
must reproduce the batch results (SURVEY.md §2.9 / §5.2.5)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from zoom_spark.io import load_table
from zoom_spark.streaming.windows import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)


def test_stream_tumbling_matches_batch(spark):
    stream = tumbling_counts(read_events_stream(spark, SF_DIR))
    got = run_to_memory(stream, "t_tumbling", output_mode="complete")

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    assert got.subtract(batch).count() == 0
    assert batch.subtract(got).count() == 0


def test_stream_sessions_match_batch(spark):
    stream = session_counts(read_events_stream(spark, SF_DIR))
    got = run_to_memory(stream, "t_sessions", output_mode="complete")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    assert got.subtract(batch).count() == 0
    assert batch.subtract(got).count() == 0


def test_stream_dedup_drops_nothing_on_unique_keys(spark):
    # event_id is unique in the source: dedup must be lossless
    stream = dedup_within_watermark(read_events_stream(spark, SF_DIR))
    got = run_to_memory(stream, "t_dedup", output_mode="append")
    assert got.count() == load_table(spark, SF_DIR, "events").count()


def test_stateful_running_profile(spark):
    from zoom_spark.streaming.stateful import running_user_profile

    stream = running_user_profile(read_events_stream(spark, SF_DIR))
    got = run_to_memory(stream, "t_profile", output_mode="update")
    # final state per user (last emitted row) must equal the batch agg
    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert final.subtract(batch).count() == 0
    assert batch.subtract(final).count() == 0


def test_stream_stream_join_matches_batch(spark):
    from zoom_spark.streaming.windows import stream_stream_join

    left = read_events_stream(spark, SF_DIR)
    right = read_events_stream(spark, SF_DIR)
    got = run_to_memory(
        stream_stream_join(left, right), "t_ssjoin", output_mode="append"
    )

    ev = load_table(spark, SF_DIR, "events")
    l = ev.select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    r = ev.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    batch = (
        l.join(
            r,
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes"))
            & (F.col("l_event") != F.col("r_event")),
        )
        .select(
            F.col("l_user").alias("user_id"), "l_event", "r_event", "l_ts", "r_ts"
        )
    )
    assert got.count() > 0
    assert got.subtract(batch).count() == 0
    assert batch.subtract(got).count() == 0


def test_stream_sink_idempotent_under_replay(spark, tmp_path):
    """Replaying the stream from a fresh checkpoint (at-least-once
    redelivery) must not duplicate rows in the sink."""
    from zoom_spark.streaming.windows import write_stream_idempotent

    sink = str(tmp_path / "sink")
    ev = read_events_stream(spark, SF_DIR).withColumn(
        "event_date", F.to_date("ts")
    )
    expected = load_table(spark, SF_DIR, "events").count()

    write_stream_idempotent(ev, sink, "event_date", str(tmp_path / "cp1"))
    assert spark.read.parquet(sink).count() == expected
    # replay with a NEW checkpoint: every batch redelivered
    write_stream_idempotent(ev, sink, "event_date", str(tmp_path / "cp2"))
    assert spark.read.parquet(sink).count() == expected


def test_streaming_datasource_ingests_all_pages(spark):
    """The paged_api_stream Python DataSource (simpleStreamReader)
    must deliver exactly the rows the batch DataSource reads: one
    page number per microbatch until every key's chain is exhausted,
    then empty batches (offset stops advancing)."""
    import time

    from zoom_spark.sources.datasource import (
        PagedApiDataSource,
        PagedApiStreamDataSource,
    )
    from zoom_spark.sources.paginated import MockPagedClient

    spark.dataSource.register(PagedApiDataSource)
    spark.dataSource.register(PagedApiStreamDataSource)
    keys = "1,2,3,4,5"
    client = MockPagedClient(fail_every=0, ratelimit_every=0)
    expected = sum(
        client.pages_for(k) * client.page_size for k in keys.split(",")
    )

    q = (
        spark.readStream.format("paged_api_stream")
        .option("keys", keys)
        .load()
        .writeStream.format("memory")
        .queryName("paged_stream_t")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM paged_stream_t").first().c
            if n >= expected:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n == expected

    batch = (
        spark.read.format("paged_api")
        .option("keys", keys)
        .option("fail_every", "0")
        .load()
    )
    got = spark.sql("SELECT key, item_id, value FROM paged_stream_t")
    assert got.subtract(batch).count() == 0
    assert batch.subtract(got).count() == 0


def test_transform_with_state_running_profile(spark):
    """transformWithStateInPandas (arbitrary-state v2) must converge
    to the same per-user totals as the batch aggregate."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's Python protocol needs protobuf, "
        "not installed in this environment",
    )
    from zoom_spark.streaming.stateful import running_user_profile_v2

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    stream = running_user_profile_v2(read_events_stream(spark, SF_DIR))
    got = run_to_memory(stream, "t_profile_v2", output_mode="update")
    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert final.subtract(batch).count() == 0
    assert batch.subtract(final).count() == 0


def test_rate_source_windowed_counts(spark):
    """Built-in rate source (the load-generator for streaming
    soak tests): rows carry (timestamp, value) with value a gapless
    sequence; a processing pass over one micro-batch must see every
    value exactly once."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "50")
        .option("numPartitions", "2")
        .load()
        .withColumn("bucket", F.col("value") % 5)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from rate_sink").collect()
    vals = sorted(r.value for r in rows)
    assert vals == list(range(len(vals)))  # gapless, exactly-once
    assert all(r.bucket == r.value % 5 for r in rows)


def test_stream_static_anti_join_skips_loaded_keys(spark, tmp_path):
    """Stream-static anti join: events whose key is already in the
    static 'loaded' table never reach the sink; batch anti-join is
    the parity referee."""
    from zoom_spark.io import load_table
    from zoom_spark.streaming.windows import (
        read_events_stream,
        stream_static_anti_join,
    )

    sf = SF_DIR
    batch = load_table(spark, sf, "events")
    loaded = batch.where(F.col("event_id") % 3 == 0).select("event_id")
    out = stream_static_anti_join(read_events_stream(spark, sf), loaded)
    q = (
        out.writeStream.format("memory")
        .queryName("ss_anti")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM ss_anti").collect()
    }
    expect = {
        r["event_id"]
        for r in batch.join(loaded, "event_id", "left_anti").collect()
    }
    assert got == expect
    assert all(k % 3 != 0 for k in got)


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Checkpoint recovery: a file-source stream processed in two
    separate query runs sharing one checkpoint directory must ingest
    every input row exactly once — the restart resumes from the
    committed offset log instead of re-reading finished files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_file(name, start):
        t = pa.table({"id": pa.array(range(start, start + 50), type=pa.int64())})
        pq.write_table(t, str(src / name))

    def run_once():
        q = (
            spark.readStream.schema("id long")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_file("a.parquet", 0)
    run_once()  # first run ingests file a
    write_file("b.parquet", 50)
    run_once()  # restart from checkpoint: must ingest ONLY file b
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(100)), (
        f"expected exactly-once ingestion of 100 rows, got {len(got)}"
    )


def test_stream_decontaminate_matches_batch_query(spark):
    """Streaming decontamination over the documents file stream finds
    exactly the contaminated doc set the gated batch query reports."""
    from zoom_spark.queries.training_prep import (
        DECON_MOD,
        DECON_W,
        decontaminate_ngram_overlap,
    )
    from zoom_spark.io import load_table
    from zoom_spark.streaming.windows import (
        read_documents_stream,
        stream_decontaminate,
    )

    sf = SF_DIR
    docs = load_table(spark, sf, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    test_shingles = (
        docs.where(F.col("doc_id") % DECON_MOD == 0)
        .select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= DECON_W)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.size("ws") - (DECON_W - 1), F.lit(1))
            ).alias("i"),
            "ws",
        )
        .select(
            F.md5(
                F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), DECON_W))
            ).alias("sh")
        )
        .distinct()
    )
    train_stream = read_documents_stream(spark, sf).where(
        F.col("doc_id") % DECON_MOD != 0
    )
    out = stream_decontaminate(train_stream, test_shingles, n=DECON_W)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_decon")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM stream_decon").collect()
    }
    expect = {
        r["doc_id"]
        for r in decontaminate_ngram_overlap(spark, sf).collect()
        if r["contaminated"] == 1
    }
    assert got == expect
    assert expect, "fixture should contain contaminated docs"


def test_stream_drift_monitor_matches_batch_l1(spark):
    """Streaming drift monitor: per-day L1 distance between the
    streamed event-type mix and a static reference equals the batch
    computation on the same data."""
    from zoom_spark.io import load_table
    from zoom_spark.streaming.windows import (
        read_events_stream,
        stream_drift_monitor,
    )

    sf = SF_DIR
    batch = load_table(spark, sf, "events")
    n = batch.count()
    ref = (
        batch.groupBy("event_type")
        .agg((F.count("*") / F.lit(float(n))).alias("ref_share"))
    )
    out = stream_drift_monitor(read_events_stream(spark, sf), ref)
    q = (
        out.writeStream.format("memory")
        .queryName("drift_mon")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: r["l1_drift"]
        for r in spark.sql("SELECT * FROM drift_mon").collect()
    }
    # batch referee
    daily = (
        batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    tot = batch.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count("*").alias("n_tot")
    )
    expect = {
        r["ws"]: r["l1"]
        for r in daily.join(tot, "w")
        .join(ref, "event_type")
        .select(
            F.col("w.start").alias("ws"),
            F.abs(F.col("n") / F.col("n_tot") - F.col("ref_share")).alias("d"),
        )
        .groupBy("ws")
        .agg(F.round(F.sum("d"), 6).alias("l1"))
        .collect()
    }
    # append mode emits only watermark-closed windows: every emitted
    # window must match the batch value, and most windows must emit
    assert got, "should produce at least one window"
    for ws, v in got.items():
        assert v == expect[ws], ws
    # 2-day watermark over 1-day windows: up to 3 tail windows stay open
    assert len(got) >= len(expect) - 3
    assert all(0 <= v < 1.0 for v in got.values())


def test_stream_decontaminate_bounded_state_variant(spark):
    """dedup_within path: watermarked dropDuplicatesWithinWatermark
    must produce the same contaminated set within one run (horizon far
    larger than the run), with bounded keyed state."""
    from zoom_spark.io import load_table
    from zoom_spark.queries.training_prep import (
        DECON_MOD,
        DECON_W,
        decontaminate_ngram_overlap,
    )
    from zoom_spark.streaming.windows import (
        read_documents_stream,
        stream_decontaminate,
    )

    sf = SF_DIR
    docs = load_table(spark, sf, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    test_shingles = (
        docs.where(F.col("doc_id") % DECON_MOD == 0)
        .select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= DECON_W)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.size("ws") - (DECON_W - 1), F.lit(1))
            ).alias("i"),
            "ws",
        )
        .select(
            F.md5(
                F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), DECON_W))
            ).alias("sh")
        )
        .distinct()
    )
    train_stream = read_documents_stream(spark, sf).where(
        F.col("doc_id") % DECON_MOD != 0
    )
    out = stream_decontaminate(
        train_stream, test_shingles, n=DECON_W, dedup_within="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("stream_decon_bounded")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM stream_decon_bounded").collect()
    }
    expect = {
        r["doc_id"]
        for r in decontaminate_ngram_overlap(spark, sf).collect()
        if r["contaminated"] == 1
    }
    assert got == expect


def test_stream_merge_upsert_cdc_apply(spark, tmp_path):
    """CDC-apply sink: a change stream with multiple versions per key
    (within AND across micro-batches) must converge to exactly one row
    per key carrying the highest sequence number, and re-running the
    same changes against a fresh checkpoint must leave the table
    unchanged (last-write-wins idempotency). The newer change file is
    given the older mtime, so the file stream applies it FIRST: the
    older version of key 1 arriving later must not overwrite it."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zoom_spark.streaming.windows import write_stream_merge_upsert

    src = tmp_path / "cdc"
    src.mkdir()
    sink = str(tmp_path / "table")

    def write_changes(name, rows):
        t = pa.table(
            {
                "k": pa.array([r[0] for r in rows], type=pa.int64()),
                "v": pa.array([r[1] for r in rows]),
                "seq": pa.array([r[2] for r in rows], type=pa.int64()),
            }
        )
        pq.write_table(t, str(src / name))

    # batch 1: keys 1..3, with an intra-batch duplicate for key 2
    write_changes("b1.parquet", [(1, "a", 10), (2, "b", 11), (2, "b2", 12), (3, "c", 13)])
    # batch 2 (separate file): update key 1, delete-free upsert of key 4
    write_changes("b2.parquet", [(1, "a2", 20), (4, "d", 21)])
    # the file source orders micro-batches by mtime: b2 arrives first
    now = time.time()
    os.utime(src / "b2.parquet", (now - 10, now - 10))
    os.utime(src / "b1.parquet", (now, now))

    def run(cp):
        stream = (
            spark.readStream.schema("k long, v string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        write_stream_merge_upsert(stream, sink, "k", "seq", str(tmp_path / cp))

    run("cp1")
    got = {r["k"]: (r["v"], r["seq"]) for r in spark.read.parquet(sink).collect()}
    assert got == {1: ("a2", 20), 2: ("b2", 12), 3: ("c", 13), 4: ("d", 21)}

    # replay everything with a fresh checkpoint: converges to same table
    run("cp2")
    again = {r["k"]: (r["v"], r["seq"]) for r in spark.read.parquet(sink).collect()}
    assert again == got


def test_stream_stream_left_outer_join_emits_unmatched(spark):
    """LEFT OUTER stream-stream join: matched rows equal the inner
    join's, and every left event also appears (unmatched ones with
    NULL right columns) — checked against a batch recompute."""
    from zoom_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        stream_stream_left_outer_join,
    )

    sf = SF_DIR
    left = read_events_stream(spark, sf)
    right = read_events_stream(spark, sf)
    out = run_to_memory(
        stream_stream_left_outer_join(left, right),
        "s2s_left_outer",
    )
    got = out.collect()

    from zoom_spark.io import load_table

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "ts")
    import pyspark.sql.functions as F

    l = ev.select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    r = ev.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes"))
        & (F.col("l_event") != F.col("r_event"))
    )
    batch_rows = l.join(r, cond, "left_outer").collect()
    batch = {(x["l_event"], x["r_event"]) for x in batch_rows}
    got_set = {(x["l_event"], x["r_event"]) for x in got}

    # matched pairs: exact parity with the batch join
    assert {p for p in got_set if p[1] is not None} == {
        p for p in batch if p[1] is not None
    }
    # unmatched emission follows watermark semantics: a left row is
    # emitted as unmatched only once the watermark (max_ts - 1 hour)
    # passes its join horizon (l_ts + 30 min); rows still inside the
    # horizon at end-of-stream stay in state — so got's unmatched set
    # is the CLOSED-horizon subset of the batch's
    import datetime

    max_ts = max(x["l_ts"] for x in batch_rows)
    horizon = max_ts - datetime.timedelta(hours=1, minutes=30)
    closed_unmatched = {
        (x["l_event"], None)
        for x in batch_rows
        if x["r_event"] is None and x["l_ts"] < horizon
    }
    got_unmatched = {p for p in got_set if p[1] is None}
    assert closed_unmatched <= got_unmatched <= {
        p for p in batch if p[1] is None
    }
    assert got_unmatched, "unmatched rows emitted"


def test_stream_sprt_matches_batch_twin(spark):
    """Streaming SPRT over the (single-file = single-batch) events
    stream must reproduce the batch sprt_purchase_rate verdict
    exactly: same n_obs, decision point, decision, and final LLR."""
    from zoom_spark.queries.experimentation import sprt_purchase_rate
    from zoom_spark.streaming.stateful import stream_sprt

    got = run_to_memory(
        stream_sprt(read_events_stream(spark, SF_DIR)),
        "t_sprt",
        output_mode="update",
    ).collect()
    # single micro-batch -> exactly one update row
    assert len(got) == 1
    s = got[0]
    b = sprt_purchase_rate(spark, SF_DIR).collect()[0]
    assert s["n_obs"] == b["n_obs"]
    assert s["decision"] == b["decision"]
    if b["decision_n"] is not None:
        assert s["decision_n"] == b["decision_n"]
    assert s["llr"] == pytest.approx(b["llr_final"], abs=1e-6)


def test_stream_sprt_state_carries_across_batches(spark, tmp_path):
    """Two files -> two micro-batches: the monitor's counts must carry
    over, and a decision crossed in batch 1 must stay frozen in
    batch 2 (sequential-test semantics)."""
    import time as _time

    import pandas as pd

    from zoom_spark.queries.experimentation import (
        SPRT_C0,
        SPRT_C1,
        SPRT_LN_A,
    )
    from zoom_spark.streaming.stateful import stream_sprt

    # batch 1: enough purchases to cross the H1 boundary quickly;
    # batch 2: all non-purchases (would drift down, must not undo)
    base = pd.Timestamp("2024-01-01")

    def mk(ids, offset, etype):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": [base + pd.Timedelta(seconds=offset + i) for i in ids],
                "user_id": [1] * len(ids),
                "event_type": [etype] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )

    src = str(tmp_path / "src")
    spark.createDataFrame(mk(list(range(40)), 0, "purchase")).coalesce(
        1
    ).write.parquet(src + "/f1.parquet")
    _time.sleep(1.1)  # file-stream orders batches by mtime
    spark.createDataFrame(mk(list(range(40)), 3600, "view")).coalesce(
        1
    ).write.parquet(src + "/f2.parquet")
    schema = spark.read.parquet(src + "/f1.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    got = run_to_memory(
        stream_sprt(stream), "t_sprt2", output_mode="update"
    ).collect()
    assert len(got) >= 2
    final = max(got, key=lambda r: r["n_obs"])
    # all 80 events seen; decision crossed early in batch 1 and frozen
    assert final["n_obs"] == 80
    assert final["decision"] == "accept_h1"
    n_cross = final["decision_n"]
    assert 1 <= n_cross <= 40
    # crossing point: smallest n with n*C1 >= lnA (all purchases)
    import math

    expect_cross = math.ceil(SPRT_LN_A / SPRT_C1)
    assert n_cross == expect_cross
    # final llr reflects ALL events
    assert final["llr"] == pytest.approx(
        40 * SPRT_C1 + 40 * SPRT_C0, abs=1e-6
    )


def test_stream_heavy_hitters_mg_guarantees(spark):
    """Streaming Misra-Gries referee: every reported count must be an
    UNDERCOUNT within the shard's documented slack, and every token
    whose true shard count exceeds n_shard/(k+1) must be reported
    (the MG guarantee), checked against exact pandas counts."""
    import pandas as pd

    from zoom_spark.streaming.stateful import (
        MG_CAPACITY,
        MG_SHARDS,
        stream_heavy_hitters,
    )
    from zoom_spark.streaming.windows import read_events_stream

    got = run_to_memory(
        stream_heavy_hitters(read_events_stream(spark, SF_DIR)),
        "t_mg",
        output_mode="update",
    ).collect()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    tok = ev["user_id"].astype(str)
    # recompute shard assignment through the engine's own hash (the
    # only engine reuse here — the counts themselves are pandas-exact)
    shard_map = {
        r["token"]: r["shard"]
        for r in spark.createDataFrame(
            [(t,) for t in tok.unique().tolist()], "token string"
        )
        .select(
            "token",
            F.pmod(F.xxhash64("token"), F.lit(MG_SHARDS))
            .cast("long")
            .alias("shard"),
        )
        .collect()
    }
    true = tok.value_counts()
    shard_n = {}
    for t, c in true.items():
        shard_n[shard_map[t]] = shard_n.get(shard_map[t], 0) + int(c)
    reported = {(r["shard"], r["token"]): r for r in got}
    assert len(got) > 0
    for (sh, t), r in reported.items():
        tc = int(true[t])
        assert shard_map[t] == sh
        assert r["n_shard"] == shard_n[sh]
        # undercount-side guarantee
        assert r["approx_count"] <= tc
        assert tc <= r["approx_count"] + r["max_undercount"]
        assert r["max_undercount"] <= shard_n[sh] // (MG_CAPACITY + 1)
    # completeness: tokens above the shard threshold must be present
    for t, c in true.items():
        sh = shard_map[t]
        if int(c) > shard_n[sh] / (MG_CAPACITY + 1):
            assert (sh, t) in reported, f"missing guaranteed HH {t}"


def test_stream_heavy_hitters_state_carries_across_batches(
    spark, tmp_path
):
    """Two micro-batches: a token heavy ONLY in aggregate (split
    across both batches) must surface with the combined count, and
    n_shard must accumulate."""
    import time as _time

    import pandas as pd

    from zoom_spark.streaming.stateful import stream_heavy_hitters

    base = pd.Timestamp("2024-01-01")

    def mk(uids, off):
        ids = list(range(len(uids)))
        return pd.DataFrame(
            {
                "event_id": [off + i for i in ids],
                "ts": [base + pd.Timedelta(seconds=off + i) for i in ids],
                "user_id": uids,
                "event_type": ["view"] * len(uids),
                "value": [1.0] * len(uids),
                "props": ["{}"] * len(uids),
            }
        )

    # user 7 appears 30x per batch; 60 distinct one-off users as noise
    src = str(tmp_path / "src")
    b1 = mk([7] * 30 + list(range(100, 130)), 0)
    b2 = mk([7] * 30 + list(range(200, 230)), 1000)
    spark.createDataFrame(b1).coalesce(1).write.parquet(src + "/f1.parquet")
    _time.sleep(1.1)
    spark.createDataFrame(b2).coalesce(1).write.parquet(src + "/f2.parquet")
    schema = spark.read.parquet(src + "/f1.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    got = run_to_memory(
        stream_heavy_hitters(stream), "t_mg2", output_mode="update"
    ).collect()
    mine = [r for r in got if r["token"] == "7"]
    assert mine, "token 7 must be tracked"
    final = max(mine, key=lambda r: r["n_shard"])
    # exact-side: 60 true occurrences, undercount bounded by the slack
    assert final["approx_count"] <= 60
    assert 60 <= final["approx_count"] + final["max_undercount"]
    # state accumulated across both batches (token 7's shard saw both
    # its halves; noise tokens may land on other shards)
    assert final["n_shard"] >= 60


def test_stream_merge_upsert_crash_midbatch_recovery(spark, tmp_path):
    """VERDICT r6 item 5 — crash-recovery e2e for the CDC-apply sink:
    the injected failure lands AFTER the batch's merge hits the sink
    but BEFORE Structured Streaming commits the epoch (the §1.5
    double-insert window: reference main.py:66,113 would double-insert
    here). The restart replays the same epoch from the checkpoint's
    offset log, so the batch is applied TWICE — and the table must
    still converge to exactly-once state because the per-key
    keep-latest merge is idempotent."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from zoom_spark.streaming.windows import cdc_apply_batch

    src = tmp_path / "cdc"
    src.mkdir()
    sink = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def write_changes(name, rows):
        t = pa.table(
            {
                "k": pa.array([r[0] for r in rows], type=pa.int64()),
                "v": pa.array([r[1] for r in rows]),
                "seq": pa.array([r[2] for r in rows], type=pa.int64()),
            }
        )
        pq.write_table(t, str(src / name))

    write_changes(
        "b1.parquet", [(1, "a", 10), (2, "b", 11), (2, "b2", 12), (3, "c", 13)]
    )
    write_changes("b2.parquet", [(1, "a2", 20), (4, "d", 21)])
    # pin discovery order (file source orders by mtime): under heavy
    # machine load the two writes can land close enough for a tie,
    # making "epoch 1 == b2" nondeterministic
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "b1.parquet", (now - 10, now - 10))
    _os.utime(src / "b2.parquet", (now, now))

    def stream():
        return (
            spark.readStream.schema("k long, v string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    crashed = {"done": False}

    def crashy(df, epoch):
        cdc_apply_batch(df, sink, ["k"], "seq")
        if epoch == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after sink write")

    q = (
        stream()
        .writeStream.foreachBatch(crashy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert crashed["done"], "fault injection never fired"
    # the crashed epoch's merge DID reach the sink (at-least-once);
    # refresh first — a cached listing of the just-overwritten path
    # served the pre-merge snapshot once under full-machine load
    spark.catalog.refreshByPath(sink)
    mid = {r["k"]: (r["v"], r["seq"]) for r in spark.read.parquet(sink).collect()}
    assert mid[1] == ("a2", 20) and mid[4] == ("d", 21)

    # restart from the SAME checkpoint: epoch 1 has offsets but no
    # commit, so it replays against a sink that already holds its
    # effects — exactly-once state must survive the double apply
    q2 = (
        stream()
        .writeStream.foreachBatch(
            lambda df, _e: cdc_apply_batch(df, sink, ["k"], "seq")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got = {r["k"]: (r["v"], r["seq"]) for r in spark.read.parquet(sink).collect()}
    assert got == {1: ("a2", 20), 2: ("b2", 12), 3: ("c", 13), 4: ("d", 21)}


def test_stream_scd2_history_sink(spark, tmp_path):
    """Streaming SCD2 sink: change batches build a valid_from/valid_to
    history — within-batch version order applies oldest-first, closed
    rows chain correctly, one open row per key — and replaying the
    whole change stream against the existing table with a fresh
    checkpoint leaves the history unchanged ((key, valid_from)
    idempotency)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zoom_spark.streaming.windows import write_stream_scd2

    src = tmp_path / "cdc"
    src.mkdir()
    sink = str(tmp_path / "dim")

    def write_changes(name, rows, mtime):
        t = pa.table(
            {
                "k": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array(
                    [datetime.date.fromisoformat(r[1]) for r in rows],
                    type=pa.date32(),
                ),
                "attr": pa.array([r[2] for r in rows]),
            }
        )
        pq.write_table(t, str(src / name))
        # the file source orders micro-batches by modification time;
        # under heavy parallel IO two quick writes can land in the
        # same mtime tick and get picked up out of order — pin
        # strictly increasing mtimes (this models an ordered CDC feed)
        import os

        os.utime(str(src / name), (mtime, mtime))

    write_changes(
        "b1.parquet",
        [(1, "2024-01-01", "a1"), (2, "2024-01-01", "b1")],
        mtime=1_700_000_000,
    )
    # batch 2 carries TWO versions of key 1 (applied in ts order) and
    # one of key 2
    write_changes(
        "b2.parquet",
        [
            (1, "2024-02-01", "a2"),
            (1, "2024-03-01", "a3"),
            (2, "2024-02-15", "b2"),
        ],
        mtime=1_700_000_060,
    )

    def run(cp):
        stream = (
            spark.readStream.schema("k long, ts date, attr string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        write_stream_scd2(stream, sink, "k", "ts", str(tmp_path / cp))

    run("cp1")
    rows = sorted(
        (
            (r["k"], str(r["valid_from"]), str(r["valid_to"]), r["attr"])
            for r in spark.read.parquet(sink).collect()
        )
    )
    expect = sorted(
        [
            (1, "2024-01-01", "2024-02-01", "a1"),
            (1, "2024-02-01", "2024-03-01", "a2"),
            (1, "2024-03-01", "9999-12-31", "a3"),
            (2, "2024-01-01", "2024-02-15", "b1"),
            (2, "2024-02-15", "9999-12-31", "b2"),
        ]
    )
    assert rows == expect
    # full replay with a fresh checkpoint: history must not duplicate
    run("cp2")
    again = sorted(
        (
            (r["k"], str(r["valid_from"]), str(r["valid_to"]), r["attr"])
            for r in spark.read.parquet(sink).collect()
        )
    )
    assert again == expect


def test_stream_curation_pipeline_e2e(spark, tmp_path):
    """VERDICT r7 item 7 — the composed streaming flagship: file
    ingest → watermarked dedup → quality filter → stream-static
    decontamination → CDC merge sink, in ONE streaming run over a
    3-file feed with cross-file duplicate deliveries. Batch-parity
    referee: the same fixture through the batch expressions must
    equal the sink table exactly; a full replay with a fresh
    checkpoint must leave the sink unchanged (idempotence)."""
    import pandas as pd

    from zoom_spark.functions import text as T
    from zoom_spark.io import load_table
    from zoom_spark.streaming.pipeline import (
        doc_shingles,
        stream_curation_pipeline,
    )

    N = 6  # shingle width small enough for the tiny fixture docs
    docs_pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    feed = tmp_path / "feed"
    feed.mkdir()
    third = len(docs_pdf) // 3
    # b overlaps a by one third: cross-batch duplicate deliveries
    docs_pdf.iloc[: 2 * third].to_parquet(feed / "documents_a.parquet")
    docs_pdf.iloc[third:].to_parquet(feed / "documents_b.parquet")
    docs_pdf.iloc[:third].to_parquet(feed / "documents_c.parquet")

    docs = load_table(spark, SF_DIR, "documents")
    test_shingles = (
        doc_shingles(docs.where(F.col("doc_id") % 7 == 0), n=N)
        .select("sh")
        .distinct()
    )
    sink = str(tmp_path / "sink")
    stream_curation_pipeline(
        spark,
        str(feed),
        sink,
        str(tmp_path / "ckpt1"),
        test_shingles,
        glob="documents_*.parquet",
        n=N,
        q_min=0.5,
    )
    got_rows = spark.read.parquet(sink).collect()
    got = {
        (r["doc_id"], r["source"], r["lang"], r["q"], r["n_tokens"])
        for r in got_rows
    }
    # no duplicate doc despite the overlapping feed files
    assert len(got_rows) == len({r["doc_id"] for r in got_rows})

    # batch referee over the same fixture, same expressions
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        T.quality_score("text").alias("q"),
        T.token_count("text").cast("bigint").alias("n_tokens"),
    ).where(F.col("q") >= 0.5)
    contaminated = (
        doc_shingles(scored, n=N)
        .join(test_shingles, on="sh")
        .select("doc_id")
        .distinct()
    )
    expect = {
        (r["doc_id"], r["source"], r["lang"], r["q"], r["n_tokens"])
        for r in scored.join(contaminated, on="doc_id", how="left_anti")
        .drop("text")
        .collect()
    }
    assert got == expect
    assert expect, "referee set must be non-empty"
    # decontamination must actually have dropped something
    n_quality = scored.count()
    assert len(expect) < n_quality

    # full replay, fresh checkpoint: at-least-once redelivery of every
    # batch — the keyed merge must converge to the identical table
    stream_curation_pipeline(
        spark,
        str(feed),
        sink,
        str(tmp_path / "ckpt2"),
        test_shingles,
        glob="documents_*.parquet",
        n=N,
        q_min=0.5,
    )
    again = {
        (r["doc_id"], r["source"], r["lang"], r["q"], r["n_tokens"])
        for r in spark.read.parquet(sink).collect()
    }
    assert again == expect
