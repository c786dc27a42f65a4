"""SimHash near-duplicate detection (X2 family).

60-bit SimHash: each token hashes to the low 60 bits of its md5; per
bit, sum +1/-1 across tokens; the sign pattern is the signature.
Near-dups = signatures within a small Hamming distance. md5 is the
same in ANSI SQL, so the DuckDB oracle replays signatures, blocks and
the verified pair set exactly.

Pure column expressions: the per-bit vote is an aggregate over the
token-hash array with bit tests (shiftright & 1) — no UDF, so the
pass is codegen'd and scales map-side. Hamming candidate search uses
the standard block trick: split the bits into (k+1) blocks; any pair
within Hamming distance k must agree exactly on >= 1 block -> join on
(block_id, block_value), verify true distance on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.functions.text import ws_tokens
from zoom_spark.io import spread_scan


def hamming(a, b) -> "F.Column":
    """Popcount of XOR via bit_count (Spark >= 3.3 built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


MD5_BITS = 60


def simhash_md5(text_col) -> "F.Column":
    """60-bit SimHash on an ENGINE-PORTABLE token hash: the low 60
    bits (15 hex chars) of md5(lower(token)) — identical in ANSI SQL,
    so a DuckDB oracle can replay signatures exactly. Bit 59 < the
    sign bit, so the signature is a non-negative bigint and block
    slicing needs no two's-complement care.

    Single pass over the tokens: fold each token hash's +1/-1 vote
    vector into a running array of counters (zip_with), then combine
    the vote signs with a precomputed power-of-two array. The
    one-aggregate shape keeps the token subtree out of the plan 60
    times over — the bit-by-bit form (one F.aggregate per bit) made
    Catalyst planning/codegen the dominant cost (same pathology as
    minhash.minhash_md5_signature, which see)."""
    toks = F.transform(
        ws_tokens(text_col),
        lambda t: F.conv(
            F.substring(F.md5(F.lower(t)), 1, 15), 16, 10
        ).cast("long"),
    )

    def bitvec(h):
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for i in range(MD5_BITS)
            ]
        )

    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), MD5_BITS),
        lambda acc, h: F.zip_with(acc, bitvec(h), lambda a, b: a + b),
    )
    powers = F.array(
        *[F.lit(1 << i).cast("long") for i in range(MD5_BITS)]
    )
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )


def simhash_md5_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_distance: int = 3,
) -> DataFrame:
    """Pairs (id_a < id_b) with Hamming(simhash_md5) <= max_distance.
    Exact under the pigeonhole block scheme (no false negatives;
    4 x 15-bit slices for distance 3)."""
    n_blocks = max_distance + 1
    width = MD5_BITS // n_blocks
    # Exchange barrier: materialize (id, sig) so CollapseProject
    # cannot inline the vote fold into each block slice (see
    # minhash.minhash_md5_dedup_pairs). r13: input spread before the
    # fold (single-split fixture scans would otherwise serialize it
    # on one task).
    sigd = spread_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select(
        "id", simhash_md5(F.col("__text")).alias("sig")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    blocks = F.array(
        *[
            F.shiftright(F.col("sig"), b * width).bitwiseAND(
                F.lit((1 << width) - 1).cast("long")
            )
            for b in range(n_blocks)
        ]
    )
    blk = sigd.select(
        "id", "sig", F.posexplode(blocks).alias("block_id", "block_val")
    )
    a = blk.select(
        "block_id", "block_val",
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
    )
    b = blk.select(
        "block_id", "block_val",
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
    )
    return (
        a.join(b, on=["block_id", "block_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming(F.col("sig_a"), F.col("sig_b")).cast("int").alias(
                "hamming_dist"
            ),
        )
        .where(F.col("hamming_dist") <= max_distance)
        .distinct()
    )
