"""Structured Streaming forms of the §2.9 incremental semantics.

The reference's nightly batch re-run IS a hand-rolled stream: a
watermark table, one day ingested per run, anti-join catch-up
(SURVEY.md §2.9 table). Structured Streaming gives the same
semantics natively:

  * watermark column -> withWatermark (bounded state, late-data drop)
  * one-day-per-run cadence -> micro-batch trigger
  * anti-join dedup of already-loaded keys -> dropDuplicates within
    watermark / idempotent sink

Batch/stream parity: these transformations are the SAME DataFrame
expressions used by the batch queries in
zoom_spark/queries/events_windows.py — applied to a readStream
source; tests assert the availableNow run reproduces the batch
result exactly.

At scale: state store size is bounded by (watermark horizon x key
cardinality); shuffle partitions size the state store shards.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from zoom_spark.io import (
    normalize_events_ts,
    replace_table,
    sink_exists,
    write_idempotent_partition,
)
from zoom_spark.operators.merge import merge_upsert_to_path, scd2_close_and_insert

# events.parquet schema when ts is stored as TIMESTAMP(NANOS) and read
# under nanosAsLong (fixtures have also shipped micros — see
# read_events_stream, which sniffs the real schema from a batch read)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events table (one parquet = one
    micro-batch by default); same ts normalization as the batch
    loader (io.load_table).

    File streams require a user-supplied schema, but fixtures have
    shipped ts as both nanos-bigint and micros — so sniff the actual
    read schema with a zero-cost batch read (footer only), then apply
    the shared dtype-aware normalization."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    reader = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # file stream sources take a directory; select the events
        # parquet out of the shared sf dir with a glob
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(reader)


def tumbling_counts(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming tumbling-window aggregate with watermark-bounded
    state; identical expression shape to the batch
    tumbling_window_events query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Streaming session windows (native session_window with
    watermark state eviction)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once-ish key dedup — the §2.9 analog of the
    reference's anti-join 'already loaded?' check
    (/root/reference/main.py:71-91)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: each 'click'-side event matched to
    same-user 'view'-side events within [0, max_lag] after it. Both
    sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict state for rows past the horizon —
    the required shape for an unbounded stream-stream join (state is
    otherwise infinite)."""
    l = (
        left.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_event"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        )
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}"))
        & (F.col("l_event") != F.col("r_event"))
    )
    return l.join(r, cond, "inner").select(
        F.col("l_user").alias("user_id"), "l_event", "r_event", "l_ts", "r_ts"
    )


def stream_stream_left_outer_join(
    left: DataFrame,
    right: DataFrame,
    *,
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join — same watermarked, time-bounded
    condition as stream_stream_join, but unmatched left rows are
    EMITTED (with NULL right columns) once the watermark passes their
    join horizon, instead of dropped. This is the outer-join state
    semantics Structured Streaming only allows when both the
    watermark and an event-time bound are present (otherwise Spark
    could never prove a left row will stay unmatched)."""
    l = left.withWatermark("ts", watermark).select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}"))
        & (F.col("l_event") != F.col("r_event"))
    )
    return l.join(r, cond, "left_outer").select(
        F.col("l_user").alias("user_id"), "l_event", "r_event", "l_ts", "r_ts"
    )


def write_stream_idempotent(
    stream_df: DataFrame,
    path: str,
    partition_col: str,
    checkpoint_dir: str,
) -> None:
    """Streaming sink with batch-replay safety: each micro-batch lands
    via dynamic partition overwrite (io.write_idempotent_partition),
    so a replayed batch — failure recovery, checkpoint reset,
    at-least-once upstream — rewrites its partitions instead of
    double-appending. This is the streaming form of the §1.5 fix and
    the standard foreachBatch + idempotent-write pattern."""
    run_available_now(
        stream_df,
        lambda df, _epoch: write_idempotent_partition(df, path, partition_col),
        checkpoint_dir,
    )


def write_stream_merge_upsert(
    stream_df: DataFrame,
    path: str,
    keys: list[str] | str,
    seq_col: str,
    checkpoint_dir: str,
) -> None:
    """Streaming CDC-apply sink: each micro-batch MERGEs into the
    parquet table keyed on `keys`, updates winning over existing rows
    (the foreachBatch + MERGE pattern every lakehouse CDC pipeline
    uses; the reference's drop-then-reload sink, main.py:58,130,152 +
    insert_into, is the non-incremental version this replaces). A row
    is applied only if its `seq_col` is the highest for its key in the
    batch and in the sink (cdc_apply_batch), whatever order the change
    files arrive in. Each batch rewrites the sink once, through
    merge_upsert_to_path's staged write and rename swap."""
    run_available_now(
        stream_df,
        lambda df, _epoch: cdc_apply_batch(df, path, keys, seq_col),
        checkpoint_dir,
    )


def cdc_apply_batch(
    df: DataFrame,
    path: str,
    keys: list[str] | str,
    seq_col: str,
    drop_seq: bool = False,
) -> None:
    """One micro-batch of the CDC-apply sink: reduce the batch to its
    per-key winners (highest `seq_col`), drop every winner whose key
    already holds a `seq_col` at least as high in the sink, and MERGE
    the rest into the parquet table at `path`. An older change file
    arriving late (the file stream orders by mtime) loses, and a batch
    replayed after a crash (at-least-once foreachBatch) is a no-op.
    Exposed separately so crash-recovery tests can drive it.
    ``drop_seq=True`` keeps a transport-only seq (an epoch/arrival
    stamp) out of the sink schema; with nothing persisted to compare,
    such callers get epoch order across batches, not seq order."""
    spark = df.sparkSession
    k = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*k).orderBy(F.col(seq_col).desc())
    latest = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if drop_seq:
        latest = latest.drop(seq_col)
    elif sink_exists(spark, path):
        held = spark.read.parquet(path)
        stale = [latest[c] == held[c] for c in k]
        stale.append(held[seq_col] >= latest[seq_col])
        # checkpointed by the merge's own job: the swap deletes the files
        # `held` lists, and the updates must stay readable after it
        latest = latest.join(held, stale, "left_anti").localCheckpoint(eager=False)
    merge_upsert_to_path(spark, path, latest, k)


def run_available_now(stream_df: DataFrame, batch_fn, checkpoint_dir: str) -> None:
    """Apply ``batch_fn(df, epoch)`` to every micro-batch available now
    (checkpointed foreachBatch) and block until the stream is drained."""
    q = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Execute an availableNow pass into an in-memory table and return
    the materialized result (test/dev harness; production sinks are
    parquet/kafka with checkpointing)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def stream_static_anti_join(
    stream: DataFrame, loaded_keys: DataFrame, key: str = "event_id"
) -> DataFrame:
    """Stream-static LEFT ANTI join — the EXACT streaming form of the
    reference's incremental discipline (/root/reference/main.py:71-91:
    'fetch only meetings whose uuid is not already in Participants'):
    the static side is the already-loaded key set, re-read per
    micro-batch, and only unseen keys flow through. No streaming
    state at all (the static side carries the history), so unlike
    dropDuplicates there is no watermark horizon limiting how old a
    duplicate can be."""
    return stream.join(
        loaded_keys.select(key).distinct(), on=key, how="left_anti"
    )


def read_documents_stream(
    spark,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the documents table (schema pinned from
    the batch footer). The streaming twin of
    io.load_table(spark, sf_dir, "documents"). ``glob`` selects the
    document files out of the directory (a multi-file feed directory
    uses e.g. "documents_*.parquet"); ``max_files_per_trigger`` caps
    micro-batch size (None = Spark default)."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    # file stream sources take a directory; glob-select the documents
    # parquet out of the shared sf dir (same idiom as the events stream)
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(sf_dir)


def stream_decontaminate(
    docs_stream: DataFrame,
    test_shingles: DataFrame,
    n: int = 8,
    dedup_within: str | None = None,
) -> DataFrame:
    """Streaming benchmark decontamination: as documents arrive, flag
    any that share a word-``n``-gram with the STATIC held-out test
    shingle set (queries/training_prep.decontaminate_ngram_overlap is
    the batch twin — same map-side md5 shingling, so the stream
    shuffles 16-byte hashes, never text). The static side is
    benchmark-sized and re-read per micro-batch (stream-static inner
    join needs no watermark).

    Dedup state: with ``dedup_within`` unset, dropDuplicates('doc_id')
    keeps one state entry per contaminated doc for the STREAM'S
    LIFETIME — exact output, but state grows with total contaminated
    docs, not a rate. For long-running production streams pass
    ``dedup_within`` (e.g. "1 hour"): hits are stamped with arrival
    time and deduped via dropDuplicatesWithinWatermark, so state is
    bounded by the horizon; a doc re-delivered after the horizon
    re-emits its (idempotent) flag."""
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    shingles = (
        docs_stream.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= n)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("ws") - (n - 1), F.lit(1))
            ).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), n))).alias(
                "sh"
            ),
        )
    )
    hits = shingles.join(test_shingles.select("sh").distinct(), "sh")
    if dedup_within is not None:
        return (
            hits.withColumn("_arrival", F.current_timestamp())
            .withWatermark("_arrival", dedup_within)
            .dropDuplicatesWithinWatermark(["doc_id"])
            .select("doc_id")
        )
    return hits.select("doc_id").dropDuplicates(["doc_id"])


def stream_drift_monitor(
    events: DataFrame,
    reference_shares: DataFrame,
    *,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming distribution-drift monitor: per tumbling window,
    compare the arriving event-type mix against a STATIC reference
    share table and emit the L1 (total-variation x2) drift score —
    the production alarm that pages before a traffic mix shift
    poisons downstream models (the streaming sibling of the batch PSI
    query). The reference is MODEL-sized, so it is collected once at
    plan-build time and embedded as literal conditional aggregates —
    which keeps the whole monitor ONE watermarked windowed aggregate
    (a join between two streaming aggregates is not allowed, and this
    shape needs no join at all). State is bounded by the watermark;
    output works in append mode."""
    ref = {
        r["event_type"]: float(r["ref_share"])
        for r in reference_shares.collect()
    }
    counts = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
            f"_n_{i}"
        )
        for i, t in enumerate(ref)
    ]
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_tot"), *counts)
    )
    known = sum(
        F.abs(F.col(f"_n_{i}") / F.col("n_tot") - F.lit(share))
        for i, share in enumerate(ref.values())
    )
    # any event types absent from the reference contribute their full
    # observed share
    unknown = (
        F.col("n_tot") - sum(F.col(f"_n_{i}") for i in range(len(ref)))
    ) / F.col("n_tot")
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.round(known + unknown, 6).alias("l1_drift"),
    )


def write_stream_scd2(
    stream_df: DataFrame,
    path: str,
    key: str,
    ts_col: str,
    checkpoint_dir: str,
    *,
    open_end: str = "9999-12-31",
) -> None:
    """Streaming SCD-type-2 history sink: each micro-batch of change
    rows closes the currently-open row per updated key (valid_to =
    change ts) and appends the change as the new open row — the
    dimension-history pattern (operators/merge.scd2_close_and_insert)
    driven from a stream the way a warehouse CDC feed drives it.
    Within a batch, multiple versions of a key are applied in ts
    order (earlier versions become immediately-closed rows). Batches
    replaying after a crash re-derive the same history because the
    apply is keyed on (key, valid_from): a version already in the
    table overwrites itself, not duplicates (idempotent under
    at-least-once foreachBatch).

    Scale note: each micro-batch rewrites the WHOLE history table once
    (io.replace_table, O(table) per batch) — the honest cost of an
    SCD2 sink on parquet, where closing a row rewrites its file. At
    warehouse scale the same foreachBatch body targets a format with
    row-level MERGE (Delta/Iceberg), turning the rewrite into
    O(touched files); the fold/dedupe logic above is unchanged."""

    def apply_batch(df: DataFrame, _epoch: int) -> None:
        spark = df.sparkSession
        attr_cols = [c for c in df.columns if c not in (key, ts_col)]
        if sink_exists(spark, path):
            existing = spark.read.parquet(path)
        else:
            existing = df.select(
                key,
                F.col(ts_col).alias("valid_from"),
                F.lit(open_end).cast("date").alias("valid_to"),
                *attr_cols,
            ).limit(0)
        # versions within the batch apply in ts order; dedupe exact
        # (key, ts) replays so a re-delivered row is a no-op. The
        # tie-break inside a (key, ts) partition orders by the
        # REMAINING attribute columns — with only ts (constant in the
        # partition) the survivor among two conflicting same-(key,ts)
        # rows would be nondeterministic, not a replay no-op.
        w = Window.partitionBy(key, ts_col).orderBy(
            *[F.col(c).asc_nulls_first() for c in attr_cols]
        )
        batch = (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        # drop rows whose (key, valid_from) is already in the table
        # (crash-replay of a committed batch), then fold remaining
        # versions in ts order
        pending = batch.join(
            existing.select(
                F.col(key).alias("__k2"),
                F.col("valid_from").alias("__f2"),
            ),
            (F.col(key) == F.col("__k2"))
            & (F.col(ts_col).cast("date") == F.col("__f2")),
            "left_anti",
        )
        versions = sorted(
            pending.select(ts_col).distinct().collect(),
            key=lambda r: r[0],
        )
        table = existing
        for i, (v,) in enumerate(versions):
            table = scd2_close_and_insert(
                table,
                pending.where(F.col(ts_col) == v),
                key,
                ts_col,
                open_end=open_end,
            )
            # truncate the folded lineage every few versions: each
            # close-and-insert layers a join+union on the last, so a
            # timestamp-rich batch would otherwise build an
            # arbitrarily deep uncheckpointed plan before the single
            # staged write (at warehouse scale: persist(DISK_ONLY)
            # or a checkpoint dir instead of localCheckpoint)
            if (i + 1) % 4 == 0:
                table = table.localCheckpoint(eager=False)
        replace_table(table, path)

    run_available_now(stream_df, apply_batch, checkpoint_dir)
