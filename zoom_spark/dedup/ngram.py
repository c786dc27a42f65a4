"""N-gram Jaccard near-duplicate detection (X2 family).

Exact token-shingle Jaccard over candidate pairs. The pair space is
bounded by a blocking key (here: a cheap attribute like language, or
an LSH band from minhash.py) — never an unconstrained self cross
join. Set algebra is JVM-side (array_intersect/array_union on
distinct shingle arrays).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.functions.text import ws_tokens


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of the lowercased token stream.

    Sliding window via a zip_with fold over shifted copies of the
    token array: gram[i] = toks[i] + " " + toks[i+1] + ... — two
    string concats per position instead of a per-position
    slice+concat_ws (which allocated an n-element array per shingle
    and measured ~5.4 s of a 7.9 s MinHash pass at sf0.1). Lowercase
    is applied to the whole string once, not per token (identical
    tokens: lowercasing never creates or removes whitespace).

    zip_with pads the shorter side with nulls and concat_ws skips
    nulls, so positions past n_tok-n+1 hold partial grams — the final
    slice drops them (docs with fewer than n tokens yield an empty
    array, matching the oracle's generate_series upper bound)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = ws_tokens(F.lower(c))
    n_tok = F.size(toks)
    gram = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(n_tok - k, F.lit(0)))
        gram = F.zip_with(gram, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(gram, 1, F.greatest(n_tok - (n - 1), F.lit(0)))
    return F.array_distinct(full)


def jaccard(a, b):
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def bucket_pairs(postings: DataFrame, keys: list[str]) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of the `id`s that share
    a bucket: a self equi-join of the (id, *keys) posting rows on
    `keys`. The candidate half of candidate-join-then-verify, shared
    by the MinHash, weighted-MinHash, hyperplane-LSH and prefix-filter
    joins; the quadratic work stays inside buckets."""
    a = postings.select(*keys, F.col("id").alias("id_a"))
    b = postings.select(*keys, F.col("id").alias("id_b"))
    return (
        a.join(b, on=keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Pairs (id_a < id_b) within a blocking key whose n-gram Jaccard
    >= threshold. Output: id_a, id_b, jaccard_sim.

    Candidate generation is EXACT prefix filtering (AllPairs/PPJoin
    family, public set-similarity-join literature), not a blocked
    cross join: J(A,B) >= t implies |A∩B| >= ceil(t·max(|A|,|B|)),
    and two sorted sets sharing >= o elements must collide within
    their first (size - o + 1) elements under ANY shared total order.
    Ordering shingles by ascending GLOBAL frequency (rarest first)
    makes those prefix postings nearly unique, so the posting join
    emits ~linear candidates. The naive lang-blocked cross join
    measured 395 s at sf0.1 (3M array intersections per block); this
    path produces the IDENTICAL result (the filter is lossless for
    the threshold) at a fraction of the pairs.

    Pipeline: shingle+hash -> global frequency table -> per-doc
    shingles sorted by (freq, hash) -> explode prefix postings ->
    equi-join on (block, shingle) -> exact Jaccard verify.
    """
    # r13: input spread before the shingle projection (single-split
    # fixture scans would otherwise serialize it on one task).
    from zoom_spark.io import spread_scan

    sh = spread_scan(
        df.select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.col(text_col).alias("__text"),
        )
    ).select(
        "id",
        "blk",
        F.transform(shingles(F.col("__text"), n), lambda s: F.xxhash64(s)).alias(
            "sh"
        ),
    ).where(F.size("sh") > 0)

    # r13: the shingle subtrees fan out (exploded -> freq + ordered;
    # ordered -> postings x2 + sides x2) and nothing reuses them — the
    # before-plan scanned the documents parquet 32 times, re-shingling
    # each time. Materialize each shared frame once; every leg below
    # reads the checkpoint.
    exploded = sh.select("id", "blk", F.explode("sh").alias("g")).localCheckpoint(
        eager=False
    )
    freq = exploded.groupBy("g").agg(F.count("*").alias("f"))
    # per-doc shingle array re-assembled in (global freq, hash) order;
    # this is one (doc, shingle) shuffle — linear in corpus size
    ordered = (
        exploded.join(freq, on="g")
        .groupBy("id", "blk")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "g"))),
                lambda e: e["g"],
            ).alias("sh")
        )
        .localCheckpoint(eager=False)
    )
    n_sh = F.size("sh")
    prefix_len = (n_sh - F.ceil(n_sh * F.lit(float(threshold))) + 1).cast("int")
    postings = ordered.select(
        "id", "blk", F.explode(F.slice("sh", 1, prefix_len)).alias("g")
    )
    cands = bucket_pairs(postings, ["blk", "g"])
    sides = ordered.select("id", "sh").repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id"
    )
    pairs = (
        cands.join(sides.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), on="id_a")
        .join(sides.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), on="id_b")
        # length-ratio filter (also implied by the threshold): skip
        # the intersection when sizes alone rule the pair out
        .where(
            F.size("sh_b") * F.lit(float(threshold)) <= F.size("sh_a")
        )
        .where(
            F.size("sh_a") * F.lit(float(threshold)) <= F.size("sh_b")
        )
    )
    sim = F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
    return (
        pairs.select("id_a", "id_b", sim.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )
