"""Incremental-load planner — the reference's core value-add, as
relational operators (SURVEY.md §2.3 J1, §2.4 A1, §4.1 rows 1–2).

Reference semantics re-expressed:
  * delta_keys: "keys in the parent table with no child rows yet",
    i.e. SELECT DISTINCT zm.uuid FROM meetings zm LEFT JOIN
    participants zp ON zm.uuid = zp.meeting_uuid WHERE zp.meeting_uuid
    IS NULL (/root/reference/main.py:79-85, 310-315) -> left_anti join.
  * next_watermark: max(start_time) + 1 day
    (/root/reference/main.py:251-267) -> agg(max) + date_add.

Scale notes: the anti-join's build side should be the *small* delta
side; Catalyst + AQE pick broadcast-hash when the distinct parent keys
fit under the broadcast threshold, and shuffled-hash/sort-merge with
skew splitting otherwise. We keep both inputs as DataFrames (no
driver-side key lists) so nothing materializes on the driver at scale
(SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def delta_keys(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
) -> DataFrame:
    """Distinct parent keys with no matching child row (J1).

    Equivalent to the reference's LEFT JOIN ... IS NULL delta query
    (/root/reference/main.py:79-85); `left_anti` lets Catalyst choose
    the physical join instead of forcing a hash-probe in the database.
    """
    return (
        parent.join(
            child, on=parent[parent_key] == child[child_key], how="left_anti"
        )
        .select(parent_key)
        .distinct()
    )


def processed_prefix(child: DataFrame, ts_col: str, *, days_back: int = 180) -> DataFrame:
    """A deterministic 'already-loaded sink' stand-in: child rows whose
    timestamp is at most max(ts) - days_back. Mirrors the reference's
    date-watermark prefix (one-day-per-run cadence,
    /root/reference/main.py:213-224) on the driver's star schema.

    Implemented as a scalar-subquery cross join so the threshold never
    touches the driver; Spark broadcasts the 1-row aggregate.
    """
    thr = child.agg(
        (F.max(ts_col) - F.expr(f"INTERVAL {days_back} DAYS")).alias("__thr")
    )
    return child.join(F.broadcast(thr)).where(F.col(ts_col) <= F.col("__thr")).drop("__thr")


def next_watermark(df: DataFrame, ts_col: str) -> DataFrame:
    """A1 + F2/F3: next load date = max(ts)::date + 1 day
    (/root/reference/main.py:261-266). Returns a 1-row DataFrame so the
    value can feed a partition-pruning predicate without collect()."""
    return df.agg(
        F.date_add(F.to_date(F.max(ts_col)), 1).alias("next_load_date")
    )


def load_incremental(
    source: DataFrame,
    sink_path: str,
    watermark_col: str,
    partition_col: str,
    existing: DataFrame | None = None,
) -> DataFrame:
    """High-water-mark incremental load: keep only source rows newer
    than the sink's max watermark, then dynamic-partition-overwrite so
    retries are idempotent (SURVEY.md §4.1 row 1, fixing §1.5).

    Returns the delta DataFrame (also written to sink_path).
    """
    from zoom_spark.io import write_idempotent_partition

    delta = source
    if existing is not None and not existing.isEmpty():
        wm = existing.agg(F.max(watermark_col).alias("__wm"))
        delta = (
            source.join(F.broadcast(wm))
            .where(F.col(watermark_col) > F.col("__wm"))
            .drop("__wm")
        )
    write_idempotent_partition(delta, sink_path, partition_col)
    return delta

