"""Exact deduplication (X1) — hash-groupBy canonicalization.

At 100 TB: group on a fingerprint of the content (not the content
itself) so shuffle rows are ~40 bytes, not document-sized; the
partial HashAggregate dedups map-side before the shuffle. Keep the
smallest id as canonical for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.functions.text import fingerprint_md5
from zoom_spark.io import spread_scan


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: canonical (min) id +
    duplicate count. r13: input spread before the md5+regex
    fingerprint projection (single-split fixture scans would
    otherwise serialize it on one task; no-op on a parallel scan)."""
    return (
        spread_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col), fingerprint_md5(text_col).alias("__fp")
        )
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select(F.col("__fp").alias("fingerprint"), "canonical_id", "n_copies")
    )

