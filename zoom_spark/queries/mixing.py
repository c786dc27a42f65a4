"""Data-mixing / corpus-curation gated queries, round 4:
deterministic global shuffle-sharding, temperature-weighted source
mixing, exact threshold heavy hitters, SemDeDup, and PCA projection.

These are the operations a training-data pipeline runs AFTER
cleaning/dedup: decide the per-source mixture, shuffle the corpus
into training shards, audit the dominant tokens, and compress the
embedding space. The reference has no analog (SURVEY.md §2.11
north-star family); semantics follow the public literature
(temperature sampling from the multilingual-training literature,
SemDeDup arXiv:2303.09540).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zoom_spark.functions.text import ws_tokens
from zoom_spark.io import load_table
from zoom_spark.queries import register

N_SHARDS = 16
HH_K = 500  # heavy-hitter threshold denominator: freq * K > N
MIX_ALPHA = 0.5  # temperature-sampling exponent (T = 1/alpha = 2)


@register(
    "shuffle_shards_deterministic",
    sql=f"""
    SELECT doc_id,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % {N_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % {N_SHARDS}
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
    FROM documents
    """,
)
def shuffle_shards_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: shard =
    md5(doc_id) mod N, position = md5-order rank within the shard.
    This is the 'shuffle once, read sequentially' layout trainers
    want. Engine-portable (md5, not rand) so both engines agree
    row-for-row. At 100 TB: the shard assignment is map-only; the
    only shuffle is the per-shard rank — a hash partition on shard
    with an in-partition sort, i.e. exactly the write pattern of
    repartition(shard).sortWithinPartitions, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(N_SHARDS)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


@register(
    "temperature_mix_sample",
    sql=f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    mn AS (SELECT min(n_docs) AS m FROM counts),
    rates AS (
      SELECT source, n_docs,
             round(pow(CAST(n_docs AS DOUBLE) / m, {MIX_ALPHA} - 1.0), 6) AS rate
      FROM counts CROSS JOIN mn
    ),
    u AS (
      SELECT doc_id, source,
             (1.0 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT)) / 4294967297.0 AS u
      FROM documents
    )
    SELECT r.source, r.n_docs, r.rate,
           CAST(count(*) FILTER (WHERE u.u < r.rate) AS BIGINT) AS n_sampled
    FROM u JOIN rates r USING (source)
    GROUP BY r.source, r.n_docs, r.rate
    """,
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (the multilingual-training
    recipe: sample source s with probability ∝ n_s^alpha, flattening
    the natural distribution): per-doc acceptance rate
    (n_s / n_min)^(alpha-1), largest for the smallest source (rate
    1.0), computed from a two-row broadcastable stats frame; the
    accept/reject itself is a map-only md5-uniform compare. Output is
    the per-source audit (kept counts), the artifact a mixing run
    logs. The rate is rounded to 6dp BEFORE the compare so both
    engines apply the identical threshold (libm pow may differ in the
    last ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    mn = counts.agg(F.min("n_docs").alias("m"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "source",
        "n_docs",
        F.round(
            F.pow(F.col("n_docs").cast("double") / F.col("m"), MIX_ALPHA - 1.0), 6
        ).alias("rate"),
    )
    u = (
        1.0
        + F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
    ) / F.lit(4294967297.0)
    return (
        docs.select("source", u.alias("u"))
        .join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "rate")
        .agg(
            F.count(F.when(F.col("u") < F.col("rate"), 1)).alias("n_sampled")
        )
        .select("source", "n_docs", "rate", "n_sampled")
    )


@register(
    "heavy_hitter_tokens",
    sql=rf"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
    SELECT t, CAST(count(*) AS BIGINT) AS freq
    FROM tok CROSS JOIN tot
    GROUP BY t, tot.total
    HAVING count(*) * {HH_K} > tot.total
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact threshold heavy hitters (tokens with freq > N/k) via the
    two-phase local-candidate pruning in operators/heavy_hitters.py:
    partitions emit only locally-heavy tokens (pigeonhole superset),
    then only candidates are recounted — the long-tail vocabulary is
    filtered map-side and never shuffles. Final predicate is integer
    (freq * k > N), so the oracle comparison is float-free."""
    from zoom_spark.operators.heavy_hitters import threshold_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(ws_tokens(F.lower("text"))).alias("t"))
    return threshold_heavy_hitters(tok, "t", HH_K)


SEMDEDUP_K = 8
SEMDEDUP_ITERS = 3
SEMDEDUP_QSCALE = 1_000_000
SEMDEDUP_THRESHOLD = 0.93


def _semdedup_oracle_sql() -> str:
    from zoom_spark.queries.similarity_queries import int_lloyd_cte_sql

    return (
        int_lloyd_cte_sql(SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_QSCALE)
        + f""",
    cells AS MATERIALIZED (
      SELECT a.vec_id, a.cell, v.qv,
             sqrt(CAST(list_inner_product(v.qv, v.qv) AS DOUBLE)) AS nrm
      FROM assign{SEMDEDUP_ITERS} a JOIN vecs v USING (vec_id)
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id AS id
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CAST(list_inner_product(a.qv, b.qv) AS DOUBLE)
            >= {SEMDEDUP_THRESHOLD} * a.nrm * b.nrm
    )
    SELECT c.vec_id AS id, c.cell,
           CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS keep
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.id
    """
    )


@register("semdedup_corpus", sql=_semdedup_oracle_sql())
def semdedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (Abbas et al. 2023):
    k-means coarse clusters, within-cluster cosine >= 0.93 drops
    every non-minimum id. Output is (id, cell, keep) for
    auditability; see dedup/semdedup.py for the scale argument
    (quadratic work confined to clusters; k grows with the corpus).

    Oracle-hashed since round 9 via the INTEGER-QUANTIZED pipeline:
    vectors snap once to the 1e-6 grid, the coarse clusters come
    from the exact integer Lloyd fit (shared with
    kmeans_corpus_cells — md5-seeded, unrolled in the oracle), and
    the within-cell witness rule compares exact integer dot products
    against threshold * ||a|| * ||b|| where the norms are IEEE
    sqrt of exact integers — sqrt is correctly rounded by both
    engines, so the whole keep/drop decision is bit-deterministic
    with NO float snap schedule.  The float-centroid general
    operator (dedup/semdedup.semdedup) stays property-tested."""
    from zoom_spark.similarity.kmeans import (
        int_assign,
        int_dot,
        int_lloyd_fit,
        int_quantize,
        lloyd_cache_key,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = int_quantize(
        emb, "embedding", "vec_id", SEMDEDUP_QSCALE
    ).localCheckpoint(eager=False)
    cents = int_lloyd_fit(
        base, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS,
        cache_key=lloyd_cache_key(sf_dir, "embeddings", "embedding", SEMDEDUP_QSCALE),
    )
    cells = int_assign(base, cents).select(
        F.col("id"),
        "cell",
        "vec",
        F.sqrt(int_dot(F.col("vec"), F.col("vec")).cast("double")).alias("nrm"),
    )
    a = cells.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
        "cell",
    )
    b = cells.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
        "cell",
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            int_dot(F.col("vec_a"), F.col("vec_b")).cast("double")
            >= F.lit(SEMDEDUP_THRESHOLD) * F.col("nrm_a") * F.col("nrm_b")
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return (
        cells.select("id", "cell")
        .join(dropped, "id", "left")
        .select(
            "id",
            "cell",
            F.when(F.col("__drop").isNull(), 1).otherwise(0).alias("keep"),
        )
    )


@register("pca_project_corpus")  # float moments: rows-only + property tests
def pca_project_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-compress the 64-d embeddings to 8 components: distributed
    moment pass (one tiny partial row per partition), driver-side
    eigh on the 64x64 covariance, JVM-side literal-weight projection
    (similarity/pca.py). Output rounded to 4dp to damp partial-sum
    flutter, serialized to a CSV string — the driver's rows-only
    canonicalization cannot sort array columns (round-1
    winnow_fingerprints lesson)."""
    from zoom_spark.similarity.pca import fit_pca, project

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _ = fit_pca(emb, "embedding", n_components=8)
    return project(emb, "embedding", mean, comps).select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("proj", lambda x: F.round(x, 4).cast("string"))
        ).alias("proj_csv"),
    )


@register(
    "mix_shard_pipeline",
    sql=f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    mn AS (SELECT min(n_docs) AS m FROM counts),
    rates AS (
      SELECT source,
             round(pow(CAST(n_docs AS DOUBLE) / m, {MIX_ALPHA} - 1.0), 6) AS rate
      FROM counts CROSS JOIN mn
    ),
    accepted AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN rates r USING (source)
      WHERE (1.0 + CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
             AS BIGINT)) / 4294967297.0 < r.rate
    ),
    deduped AS (
      SELECT min(doc_id) AS doc_id
      FROM accepted
      GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
    ),
    sharded AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 AS INT) AS shard
      FROM deduped
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM sharded GROUP BY shard
    """,
)
def mix_shard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed round-4 flagship: temperature-weighted source
    acceptance -> exact near-whitespace dedup (min-id exemplar) ->
    md5 shard assignment -> per-shard audit. Every stage is the gated
    operator it reuses (temperature_mix_sample, dedup_exact_docs,
    shuffle_shards_deterministic); one oracle-hashed plan proves the
    composition. Three shuffles total: the per-source count, the
    dedup group, the shard audit group — acceptance and shard
    assignment are map-only."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    mn = counts.agg(F.min("n_docs").alias("m"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "source",
        F.round(
            F.pow(F.col("n_docs").cast("double") / F.col("m"), MIX_ALPHA - 1.0), 6
        ).alias("rate"),
    )
    u = (
        1.0
        + F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
    ) / F.lit(4294967297.0)
    accepted = (
        docs.join(F.broadcast(rates), "source")
        .where(u < F.col("rate"))
        .select("doc_id", "text")
    )
    from zoom_spark.functions.text import fingerprint_md5

    deduped = accepted.groupBy(fingerprint_md5("text").alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(8),
    ).cast("int")
    return (
        deduped.select("doc_id", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
