"""MinHash + LSH banding near-dedup (X2) — the 100 TB scale path.

shingle -> K minhashes -> B bands of R rows -> band-bucket join for
candidates -> exact Jaccard verification of candidates only.

Every hash is the low 60 bits of md5 (token, shingle and band
hashes), and the K signature hashes come from the Kirsch-Mitzenmacher
two-hash family h_i = h1 + i*(h2 mod P): exact BIGINT arithmetic, so
the DuckDB oracle replays signatures, buckets and the verified pair
set value for value.

Everything through candidate generation is column expressions
(transform/aggregate/posexplode); cost is O(N·K) map-side plus one
shuffle on (band_id, band_hash). The quadratic work only happens
inside buckets, which is the entire point of LSH banding (see
PAPERS.md; standard MMDS ch.3 construction — public knowledge).

With K = B·R, the candidate-capture probability of a pair with true
Jaccard s is 1 - (1 - s^R)^B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.dedup.ngram import bucket_pairs, jaccard
from zoom_spark.functions.text import ws_tokens
from zoom_spark.io import spread_scan


_KM_PRIME = 140_737_488_355_213  # < 2^47: i*h2 + h1 stays < 2^61 exact
_MD5_IDENTITY = 1 << 62          # fold identity, above any KM hash value


def _md5lo60(scol):
    """Low 60 bits (15 hex chars) of md5 — the engine-portable hash
    shared with the winnowing/simhash conversions."""
    return F.conv(F.substring(F.md5(scol), 1, 15), 16, 10).cast("long")


def hashed_shingles_md5(text_col, shingle_n: int = 3):
    """Distinct word shingles reduced to 60-bit md5 values: token
    hashes chain through md5 of their decimal concatenation, so an
    ANSI-SQL oracle replays the exact shingle set. Everything
    downstream (signature fold, Jaccard verification) operates on
    longs, and the verification shuffle moves long arrays, not text.

    Construction never materializes shingle STRINGS: tokens hash
    first, then the sliding window combines the n token hashes over
    shifted arrays. The token array binds to a lambda variable (see
    weighted_minhash.term_freqs for why: naming an outer expression
    inside a lambda re-inlines its whole subtree per reference)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.transform(ws_tokens(F.lower(c)), lambda t: _md5lo60(t))

    def bind(expr, body):
        return F.element_at(F.transform(F.array(expr), body), 1)

    def with_hashes(h):
        n_tok = F.size(h)
        g = h
        for k in range(1, shingle_n):
            shifted = F.slice(h, k + 1, F.greatest(n_tok - k, F.lit(0)))
            g = F.zip_with(
                g,
                shifted,
                lambda a, b: _md5lo60(
                    F.concat_ws(",", a.cast("string"), b.cast("string"))
                ),
            )
        full = F.slice(g, 1, F.greatest(n_tok - (shingle_n - 1), F.lit(0)))
        return F.array_distinct(full)

    return bind(toks, with_hashes)


def minhash_md5_signature(shingle_hash_arr, num_hashes: int = 32):
    """Single-pass minhash fold over md5 shingles with the
    Kirsch-Mitzenmacher two-hash family h_i = h1 + i*(h2 mod P):
    TWO md5 evaluations per shingle (bound once via the
    single-element-transform trick) instead of num_hashes, and pure
    exact integer arithmetic both engines can replay.

    The single-pass shape (zip_with + least into a running minimum)
    matters for plan size, not just row cost: the naive
    ``array(*[array_min(transform(sh, hash_i)) ...])`` form repeats
    the whole shingle subtree K times, and once CollapseProject
    inlines it further the optimizer+codegen spend minutes on the
    expression tree (measured 152 s to plan+run 1000 rows at K=32).
    Here the shingle subtree appears exactly once."""

    def hashes(s):
        pair = F.struct(
            _md5lo60(F.concat(s.cast("string"), F.lit("#a"))).alias("h1"),
            (
                _md5lo60(F.concat(s.cast("string"), F.lit("#b")))
                % _KM_PRIME
            ).alias("h2"),
        )
        return F.element_at(
            F.transform(
                F.array(pair),
                lambda p: F.array(
                    *[
                        p["h1"] + F.lit(i).cast("long") * p["h2"]
                        for i in range(num_hashes)
                    ]
                ),
            ),
            1,
        )

    zero = F.array_repeat(F.lit(_MD5_IDENTITY).cast("long"), num_hashes)
    return F.aggregate(
        shingle_hash_arr,
        zero,
        lambda acc, s: F.zip_with(acc, hashes(s), lambda a, b: F.least(a, b)),
    )


def minhash_md5_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard >= threshold:
    md5 shingles/signatures/band hashes, candidates from the band
    bucket self-join (:func:`ngram.bucket_pairs`), and the shared
    floor(x*1e6+0.5) similarity snap."""
    rows = num_hashes // bands
    # ONE shingle frame feeds BOTH the signature and the verification
    # join (round-10 perf fix: the sig side used to recompute the md5
    # shingles from text — ~2x the md5 work).  The repartition barrier
    # under `sh` makes the two consumers' exchange subtrees identical,
    # so ReuseExchange computes the shingles once; the second barrier
    # under `sig` stops CollapseProject from inlining the K-hash fold
    # into each of the 8 band hashes.
    # r13: input spread before the md5 shingle projection (single-
    # split fixture scans would otherwise serialize it on one task).
    sh = spread_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select(
        "id",
        hashed_shingles_md5(F.col("__text"), shingle_n).alias("sh"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    sig = sh.select(
        "id",
        minhash_md5_signature(F.col("sh"), num_hashes).alias("sig"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    bands_arr = F.array(
        *[
            _md5lo60(
                F.concat(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * rows + r + 1).cast(
                                "string"
                            )
                            for r in range(rows)
                        ],
                    ),
                    F.lit(f"#{b}"),
                )
            )
            for b in range(bands)
        ]
    )
    bk = sig.select(
        "id", F.posexplode(bands_arr).alias("band_id", "band_hash")
    )
    cands = bucket_pairs(bk, ["band_id", "band_hash"])
    pairs = (
        cands.join(
            sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), on="id_a"
        ).join(
            sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), on="id_b"
        )
    )
    sim = F.floor(jaccard(F.col("sh_a"), F.col("sh_b")) * 1e6 + F.lit(0.5)) / 1e6
    return (
        pairs.select("id_a", "id_b", sim.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )
