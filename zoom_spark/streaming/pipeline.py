"""Composed streaming corpus-curation flagship (§2.9 + §2.11): the
end-to-end chain a streaming pretraining-data feed runs, built from
the unit-level streaming operators this package already gates —

  file-stream ingest  →  watermark-bounded doc dedup
      →  map-side quality scoring/filter
      →  stream-static n-gram decontamination
      →  idempotent CDC merge-upsert sink

The batch twin is queries/training_prep.curation_pipeline_e2e /
docs_pipeline_clean; the e2e pytest replays the same fixture through
the batch expressions and asserts set-equality with the sink table
(the streaming chain must converge to the batch answer).

Reference parity: this is the streaming form of the reference's whole
program (fetch → skip-already-loaded → conform → load;
/root/reference/main.py:50-130), with the 'already loaded?' check
split into its two streaming forms — watermark-bounded in-stream
dedup for redelivery, and the idempotent keyed merge at the sink for
replays.

Scale notes: the dedup state is bounded by the watermark horizon (one
entry per doc_id inside the horizon, evicted after); decontamination
state is ZERO — contamination is a per-doc predicate against a
benchmark-sized static side re-read per micro-batch, joined on 16-byte
md5 shingle hashes so document text never shuffles; the sink merge is
keyed on doc_id with per-batch keep-latest reduction, idempotent under
at-least-once foreachBatch replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.functions import text as T
from zoom_spark.streaming.windows import (
    cdc_apply_batch,
    read_documents_stream,
    run_available_now,
)


def doc_shingles(docs: DataFrame, n: int = 8) -> DataFrame:
    """Word-``n``-gram md5 shingles of a documents frame — the shared
    map-side shingling of the batch decontamination query
    (queries/training_prep.decontaminate_ngram_overlap) and
    streaming.windows.stream_decontaminate. Output (doc_id, sh)."""
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return (
        docs.select("doc_id", ws.alias("ws"))
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


def curate_batch(
    df: DataFrame,
    test_shingles: DataFrame,
    sink_path: str,
    *,
    n: int = 8,
    epoch: int = 0,
) -> None:
    """One micro-batch of the curation sink: decontaminate (drop any
    doc sharing an ``n``-gram with the static held-out shingle set),
    project the model-facing columns, and CDC-merge on doc_id.
    Idempotent: a replayed batch carries the SAME epoch id and
    re-derives the same clean rows, so the keyed merge overwrites
    them in place; a genuinely updated document redelivered after
    the dedup watermark horizon arrives with a LATER epoch and wins
    on recency (not on quality score), so the sink converges
    latest-wins.  Within one epoch the (epoch, q) struct seq keeps
    the winner deterministic; the transport-only seq column is
    dropped before the merge (drop_seq) so the sink schema stays the
    model-facing contract."""
    sh = doc_shingles(df, n=n)
    contaminated = (
        sh.join(test_shingles.select("sh").distinct(), on="sh")
        .select("doc_id")
        .distinct()
    )
    clean = (
        df.join(contaminated, on="doc_id", how="left_anti")
        .select("doc_id", "source", "lang", "q", "n_tokens")
        .withColumn(
            "_seq",
            F.struct(
                F.lit(int(epoch)).cast("long").alias("e"),
                F.col("q").alias("q"),
            ),
        )
    )
    cdc_apply_batch(
        clean, sink_path, ["doc_id"], seq_col="_seq", drop_seq=True
    )


def stream_curation_pipeline(
    spark: SparkSession,
    src_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    test_shingles: DataFrame,
    *,
    glob: str = "documents.parquet",
    n: int = 8,
    q_min: float = 0.5,
    dedup_within: str = "1 hour",
    max_files_per_trigger: int | None = 1,
) -> None:
    """Run the composed curation chain over every available file
    (availableNow trigger) and block until the sink has converged.

    Stage map (streaming plan → foreachBatch):
      1. ingest: file-source stream, one parquet per micro-batch;
      2. watermarked dedup: dropDuplicatesWithinWatermark(doc_id) on
         arrival time — redelivered docs inside the horizon are
         suppressed in-stream, state bounded by the watermark;
      3. quality: map-side score + filter (no state, no shuffle);
      4+5. per batch: stream-static decontamination and the
         idempotent CDC merge (curate_batch above)."""
    docs = read_documents_stream(
        spark, src_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    deduped = (
        docs.withColumn("_arrival", F.current_timestamp())
        .withWatermark("_arrival", dedup_within)
        .dropDuplicatesWithinWatermark(["doc_id"])
        .drop("_arrival")
    )
    scored = deduped.select(
        "doc_id",
        "source",
        "lang",
        "text",
        T.quality_score("text").alias("q"),
        T.token_count("text").cast("bigint").alias("n_tokens"),
    )
    kept = scored.where(F.col("q") >= q_min)
    run_available_now(
        kept,
        lambda df, epoch: curate_batch(
            df, test_shingles, sink_path, n=n, epoch=epoch
        ),
        checkpoint_dir,
    )
