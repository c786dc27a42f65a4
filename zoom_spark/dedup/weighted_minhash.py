"""Weighted MinHash near-dedup (X2 family) — consistent weighted
sampling over token-frequency multisets.

Where plain MinHash treats a document as a SET of shingles, weighted
MinHash respects term multiplicity: a doc that repeats "spark" 40
times differs from one mentioning it once. Similarity is weighted
Jaccard  J_w(A,B) = Σ_t min(w_A(t), w_B(t)) / Σ_t max(w_A(t), w_B(t)).

Sampling construction (exponential race, public knowledge — the
Gumbel/exponential-clock trick behind consistent weighted sampling,
cf. Ioffe 2010 / priority sampling): for slot k, each term t draws a
deterministic uniform u_k(t) = unit(xxhash64(t, k)) and scores
s_k(t) = -ln(u_k(t)) / w(t); the slot samples argmin_t s_k(t), which
picks t with probability proportional to w(t). Two docs collide on a
slot roughly with probability J_w — exact enough for LSH candidate
generation, after which candidates are verified with EXACT weighted
Jaccard (integer arithmetic, oracle-checkable).

Key invariance (property-tested): scaling every weight by a constant
scales every score by the same factor, so argmin — and hence the
whole signature — is unchanged. Concatenating a document with itself
doubles all term counts, so text || text has the SAME signature as
text.

Scale design: term frequencies come from a per-document column-
expression fold (sort + run-length encode) — no explode/groupBy
shuffle for signatures; everything up to the band-bucket join is
map-side. The exact-verification path does explode term frequencies,
but only for LSH candidates, never the full corpus. Same
CollapseProject exchange-barrier trick as minhash.py (signatures are
materialized behind a repartition so the K-wide fold is computed
once, not once per band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.dedup.ngram import bucket_pairs
from zoom_spark.functions.text import ws_tokens
from zoom_spark.io import spread_scan

_TWO63 = float(1 << 63)


def term_freqs(text_col):
    """array<struct<t: long, w: int>> — per-document term frequencies
    (term reduced to xxhash64) via sort + run-boundary detection.

    Linear construction (no fold that concat-copies the accumulator,
    which is O(n²) data movement and measured 3.5× slower at sf0.1):
    sort the hashed tokens, find positions where a run starts by
    comparing against the shifted array, then pair each run start
    with the next one to get the count."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    sorted_toks = F.array_sort(
        F.transform(ws_tokens(F.lower(c)), lambda t: F.xxhash64(t))
    )

    # Bind a subexpression to a lambda variable so consumers reference
    # the evaluated VALUE, not the expression tree: a lambda body that
    # names an outer Catalyst expression inlines the whole subtree at
    # every reference (measured: the sort re-ran per element_at —
    # O(n²·log n) per doc, 40× slower at sf0.1).
    def bind(expr, body):
        return F.element_at(F.transform(F.array(expr), body), 1)

    def with_toks(toks):
        n = F.size(toks)

        def with_starts(starts):
            # pair each run start with the next one (sentinel n+1)
            nexts = F.concat(F.slice(starts, 2, F.size(starts)), F.array(n + 1))
            return F.zip_with(
                starts,
                nexts,
                lambda a, b: F.struct(
                    F.element_at(toks, a).alias("t"),
                    (b - a).cast("int").alias("w"),
                ),
            )

        # 1-based positions where a new run begins (position 1 always)
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == 1)
            | (F.element_at(toks, i) != F.element_at(toks, i - 1)),
        )
        enc = bind(starts, with_starts)
        return F.when(n > 0, enc).otherwise(
            F.array().cast("array<struct<t:bigint,w:int>>")
        )

    return bind(sorted_toks, with_toks)


def _unit(h):
    """Map a 64-bit hash to (0, 1): (h/2^64 + 0.5) clamped away from 0
    so -ln(u) is always finite."""
    return F.greatest(h.cast("double") / (2 * _TWO63) + 0.5, F.lit(1e-18))


def weighted_minhash_signature(tf_arr, num_hashes: int = 32):
    """array<long> of `num_hashes` sampled term hashes, single-pass:
    fold the term-frequency array into an elementwise running argmin
    of struct(score, term). The K salted scores per term are unrolled
    statically (like minhash.minhash_md5_signature) so the tf subtree
    appears exactly once in the plan."""

    def scored(e):
        w = e["w"].cast("double")
        return F.array(
            *[
                F.struct(
                    (-F.log(_unit(F.xxhash64(e["t"], F.lit(k)))) / w).alias("s"),
                    e["t"].alias("t"),
                )
                for k in range(num_hashes)
            ]
        )

    zero = F.array_repeat(
        F.struct(
            F.lit(float("inf")).alias("s"), F.lit(None).cast("bigint").alias("t")
        ),
        num_hashes,
    )
    folded = F.aggregate(
        tf_arr,
        zero,
        lambda acc, e: F.zip_with(
            acc, scored(e), lambda a, b: F.when(b["s"] < a["s"], b).otherwise(a)
        ),
    )
    return F.transform(folded, lambda x: x["t"])


def _band_rows(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    rows = num_hashes // bands
    bands_arr = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                ),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select("id", F.posexplode(bands_arr).alias("band_id", "band_hash"))


def exact_weighted_jaccard(pairs: DataFrame, tf: DataFrame) -> DataFrame:
    """Exact J_w for (id_a, id_b) pairs given tf = (id, term, w).
    Integer min-sums: Σmin over shared terms; Σmax = tot_a + tot_b −
    Σmin. All-BIGINT arithmetic — deterministic under any shuffle
    order."""
    tot = tf.groupBy("id").agg(F.sum("w").alias("tot"))
    a = tf.withColumnsRenamed({"id": "id_a", "w": "w_a"})
    b = tf.withColumnsRenamed({"id": "id_b", "w": "w_b"})
    inter = (
        pairs.join(a, on="id_a")
        .join(b, on=["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("w_a", "w_b")).alias("m"))
    )
    return (
        pairs.join(inter, on=["id_a", "id_b"], how="left")
        .na.fill({"m": 0})
        .join(tot.withColumnsRenamed({"id": "id_a", "tot": "tot_a"}), on="id_a")
        .join(tot.withColumnsRenamed({"id": "id_b", "tot": "tot_b"}), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("m").cast("double")
                / (F.col("tot_a") + F.col("tot_b") - F.col("m")),
                6,
            ).alias("wjaccard"),
        )
    )


def term_freq_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, w) exploded long-form term frequencies. r13: input
    spread before the sort+RLE fold (single-split fixture scans would
    otherwise serialize it on one task)."""
    return spread_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    ).select(
        "id",
        F.explode(term_freqs("__text")).alias("e"),
    ).select("id", F.col("e.t").alias("term"), F.col("e.w").alias("w"))


def weighted_minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates from weighted signatures, verified with exact
    weighted Jaccard >= threshold. Output: id_a, id_b, wjaccard.

    r13: ONE term-frequency fold feeds both the signature and the
    verification explode (they used to run the sort+RLE fold twice
    from text), the input is spread before the fold (single-split
    fixture scans would otherwise serialize it on one task), and the
    shared tf-array frame is materialized once (localCheckpoint) for
    its two consumers."""
    n_par = df.sparkSession.sparkContext.defaultParallelism
    tfarr = (
        spread_scan(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        )
        .select("id", term_freqs("__text").alias("tfa"))
        .localCheckpoint(eager=False)
    )
    sig = tfarr.select(
        "id",
        weighted_minhash_signature(F.col("tfa"), num_hashes).alias("sig"),
    ).repartition(n_par)
    bk = _band_rows(sig, num_hashes, bands)
    # two consumers inside exact_weighted_jaccard (inter + left join)
    # — materialize instead of re-running the band join
    cands = bucket_pairs(bk, ["band_id", "band_hash"]).localCheckpoint(
        eager=False
    )
    tf = (
        tfarr.select("id", F.explode("tfa").alias("e"))
        .select("id", F.col("e.t").alias("term"), F.col("e.w").alias("w"))
        .repartition(n_par, "id")
    )
    return exact_weighted_jaccard(cands, tf).where(F.col("wjaccard") >= threshold)
