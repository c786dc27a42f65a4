"""Corpus-statistics queries for training-data curation (X4 family,
BASELINE.json north-star): vocabulary building, TF-IDF term salience,
and benchmark-contamination detection.

Scale design:
  * tf/df aggregates shuffle once on (doc, term) / term with map-side
    partial aggregation — the classic two-level word-count shape;
  * document totals broadcast back into the per-term frame (tiny);
  * contamination is a shingle-level semi-join: the benchmark side is
    aggregated to DISTINCT shingles first (small), then broadcast —
    the corpus side never shuffles;
  * ranking ties break on the term string so top-k is deterministic;
    ranks compare ROUNDED tf-idf so a 1-ulp libm difference between
    engines cannot reorder neighbors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zoom_spark.functions.text import ws_tokens
from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register


def _term_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, term) one row per token occurrence (lowercased)."""
    return docs.select(
        "doc_id",
        F.explode(F.transform(ws_tokens("text"), lambda t: F.lower(t))).alias(
            "term"
        ),
    )


@register(
    "vocab_doc_frequency",
    sql=r"""
    WITH term_rows AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    df AS (
      SELECT term,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
             CAST(count(*) AS BIGINT) AS total_occurrences
      FROM term_rows GROUP BY term
    )
    SELECT term, doc_freq, total_occurrences
    FROM df
    ORDER BY doc_freq DESC, term
    LIMIT 50
    """,
)
def vocab_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-50 terms by document frequency (the first
    pass of any tokenizer/vocab build). Pure integer aggregates;
    term-string tiebreak makes the top-k deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _term_rows(docs)
        .groupBy("term")
        .agg(
            F.count_distinct("doc_id").alias("doc_freq"),
            F.count("*").alias("total_occurrences"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("term"))
        .limit(50)
    )


@register(
    "tfidf_top_terms",
    sql=r"""
    WITH term_rows AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS w
      FROM term_rows GROUP BY doc_id, term
    ),
    doc_len AS (
      SELECT doc_id, CAST(sum(w) AS BIGINT) AS n_tok FROM tf GROUP BY doc_id
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((tf.w / CAST(dl.n_tok AS DOUBLE))
                   * ln(n.n_docs / CAST(df.doc_freq AS DOUBLE)), 6) AS tfidf
      FROM tf
      JOIN doc_len dl ON dl.doc_id = tf.doc_id
      JOIN df ON df.term = tf.term
      CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms. tf and df are integer
    aggregates; the double math is per-row (no accumulation), and
    ranking compares the ROUNDED score with a term tiebreak, so the
    result is engine-portable. df broadcasts back into tf (vocab is
    tiny next to the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _term_rows(docs).groupBy("doc_id", "term").agg(F.count("*").alias("w"))
    doc_len = tf.groupBy("doc_id").agg(F.sum("w").alias("n_tok"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_len, on="doc_id")
        .join(F.broadcast(df_t), on="term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("w") / F.col("n_tok").cast("double"))
                * F.log(F.col("n_docs") / F.col("doc_freq").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "benchmark_contamination",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, source,
             list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                        t -> t <> ''), t -> lower(t)) AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS s
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE source = 'src0'
    ),
    corpus AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh WHERE source <> 'src0'
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM corpus c JOIN bench b ON b.shingle = c.shingle
    GROUP BY c.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every non-benchmark document,
    count its distinct 3-gram shingles that also appear anywhere in
    the benchmark split (source='src0' stands in for an eval set).
    The benchmark shingle set is deduplicated then broadcast — the
    corpus side is a map-side semi-probe, no corpus shuffle."""
    from zoom_spark.dedup.ngram import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", shingles(F.col("text"), 3).alias("s")
    )
    bench = (
        sh.where(F.col("source") == "src0")
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    corpus = sh.where(F.col("source") != "src0").select(
        "doc_id", F.explode("s").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench), on="shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


@register(
    "pack_docs_into_shards",
    sql=r"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                       - n_tokens) / 2000.0) AS BIGINT) AS shard_id
    FROM tok
    """,
)
def pack_docs_into_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in doc_id order) to
    consecutive ~2000-token shards via the distributed two-phase
    prefix sum (operators/prefix.py) — never a single-task global
    window. Integer weights make the assignment exact and
    engine-portable."""
    from zoom_spark.functions.text import token_count
    from zoom_spark.operators.prefix import pack_by_budget

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )
    return pack_by_budget(
        docs, order_col="doc_id", weight_col="n_tokens", budget=2000
    ).select("doc_id", "n_tokens", "shard_id")


@register(
    "corpus_to_shards_pipeline",
    sql=r"""
    WITH scored AS (
      SELECT doc_id, text,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS DOUBLE) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text)
                       - length(regexp_replace(text,
                           '[.,!?;:''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                       / length(text)
                  ELSE 0.0 END AS pr
      FROM documents
    ),
    quality AS (
      SELECT doc_id, text, fp,
             round(least(1.0, n_tokens / 100.0) * (1.0 - pr), 6) AS q
      FROM scored
    ),
    kept AS (
      SELECT doc_id, text FROM quality
      WHERE q >= 0.5
        AND doc_id = (SELECT min(doc_id) FROM quality q2 WHERE q2.fp = quality.fp)
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
             CAST(length(substring(text, CAST(i AS INTEGER) * 100 + 1, 120))
                  AS BIGINT) AS chunk_len
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, (length(text) - 1) // 100)) AS i
        FROM kept WHERE length(text) >= 1
      )
    ),
    packed AS (
      SELECT doc_id, chunk_id, chunk_len,
             CAST(floor((sum(chunk_len) OVER (ORDER BY doc_id, chunk_id
                                              ROWS UNBOUNDED PRECEDING)
                         - chunk_len) / 5000.0) AS BIGINT) AS shard_id
      FROM chunks
    )
    SELECT shard_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM packed GROUP BY shard_id
    """,
)
def corpus_to_shards_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pass, composed end-to-end: quality
    filter -> exact-dedup keep-first -> fixed-window chunking ->
    distributed prefix-sum packing into ~5000-char shards -> shard
    audit stats. Every stage is one of this engine's gated operators;
    the composition adds no extra shuffles beyond each stage's own
    (fingerprint window, range partition, final aggregate)."""
    from pyspark.sql import Window

    from zoom_spark.functions import text as T
    from zoom_spark.functions.chunking import fixed_chunks
    from zoom_spark.operators.prefix import pack_by_budget

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        T.fingerprint_md5("text").alias("fp"),
        T.quality_score("text").alias("q"),
    )
    kept = (
        scored.where(F.col("q") >= 0.5)
        .withColumn("canon", F.min("doc_id").over(Window.partitionBy("fp")))
        .where(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "text")
    )
    chunks = kept.select(
        "doc_id", F.explode(fixed_chunks("text", 120, 20)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.length("c.chunk").cast("bigint").alias("chunk_len"),
        (F.col("doc_id") * 1000 + F.col("c.chunk_id")).alias("order_key"),
    )
    packed = pack_by_budget(
        chunks, order_col="order_key", weight_col="chunk_len", budget=5000
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_len").alias("total_chars"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


@register(
    "bm25_ranking",
    sql=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tok
      WHERE t IN ('data', 'model', 'learning')
      GROUP BY doc_id, t
    ),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dlen / stats.avgdl)))
               AS raw
      FROM tf
      JOIN df ON tf.t = df.t
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(raw, 4) AS bm25,
           CAST(row_number() OVER (ORDER BY round(raw, 4) DESC, doc_id)
                AS BIGINT) AS rnk
    FROM scored
    QUALIFY rnk <= 20
    """,
)
def bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed term query (k1=1.2, b=0.75,
    Lucene's +1 idf smoothing) — completes the retrieval stack over
    posting_lists/tfidf_top_terms. Scale shape: the query-term filter
    prunes the token stream BEFORE any shuffle (only matching tokens
    aggregate); df and the (n_docs, avgdl) stats frame are tiny
    broadcast sides; final top-20 is TakeOrderedAndProject. Scores
    rounded to 4dp pre-rank so cross-engine libm noise cannot reorder
    the hash-compared output."""
    docs = load_table(spark, sf_dir, "documents")
    from zoom_spark.functions.text import ws_tokens

    tok = docs.select("doc_id", F.explode(ws_tokens(F.lower("text"))).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    terms = ["data", "model", "learning"]
    tf = (
        tok.where(F.col("t").isin(terms))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(df_), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * 2.2 / denom).alias("raw"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.select("doc_id", F.round("raw", 4).alias("bm25"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 20)
    )


# ---------------------------------------------------------------------------
# R209: Chao1 richness estimate of the 4-gram shingle space
# ---------------------------------------------------------------------------


@register(
    "chao1_shingle_richness",
    sql=r"""
    WITH tok AS (
      SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
               AS gram
      FROM tok, unnest(range(1, len(ts) - 2)) t(i)
    ),
    fof AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_grams
      FROM (SELECT gram, count(*) AS c FROM g GROUP BY gram) q
      GROUP BY c
    ),
    a AS (
      SELECT CAST(sum(n_grams) AS BIGINT) AS s,
             CAST(sum(c * n_grams) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN c = 1 THEN n_grams ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(sum(CASE WHEN c = 2 THEN n_grams ELSE 0 END) AS BIGINT)
               AS f2
      FROM fof
    )
    SELECT s AS s_observed, n_total, f1, f2,
           round(s + f1 * (f1 - 1.0) / (2 * (f2 + 1)), 4) AS chao1_richness,
           round(1 - f1 * 1.0 / n_total, 6) AS turing_coverage
    FROM a
    """,
)
def chao1_shingle_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R209 Chao1 species-richness estimate of the word-4-gram shingle
    space (bias-corrected form S + f1(f1−1)/(2(f2+1))) with the Turing
    sample-coverage estimate 1 − f1/N — the "how much of the shingle
    universe has this corpus actually seen" diagnostic that
    complements Good-Turing unseen MASS (R124): richness counts
    unseen SPECIES. Shingles explode map-side, collapse to a
    frequency-of-frequencies table in two hash aggregates, and the
    estimator is one more 1-row aggregate — all integer counts until
    the final two divisions. (Unigram f1/f2 are ZERO on this corpus —
    the vacuous-selector lesson — so the gate targets the sparse
    4-gram space, non-degenerate at every SF.)"""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    grams = docs.select(ts.alias("ts")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ts) - 3, 0)), i -> "
                "concat_ws(' ', element_at(ts, i), element_at(ts, i + 1), "
                "element_at(ts, i + 2), element_at(ts, i + 3)))"
            )
        ).alias("gram")
    )
    fof = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .groupBy("c")
        .agg(F.count("*").cast("bigint").alias("n_grams"))
    )
    a = fof.agg(
        F.sum("n_grams").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("n_grams")).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("c") == 1, F.col("n_grams")).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, F.col("n_grams")).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    return a.select(
        F.col("s").alias("s_observed"),
        "n_total",
        "f1",
        "f2",
        F.round(
            F.col("s")
            + F.col("f1") * (F.col("f1") - 1.0) / (2 * (F.col("f2") + 1)),
            4,
        ).alias("chao1_richness"),
        F.round(1 - F.col("f1") * 1.0 / F.col("n_total"), 6).alias(
            "turing_coverage"
        ),
    )


# ---------------------------------------------------------------------------
# R226: Heaps' law fit (type growth V(n) = K * n^beta on 3-gram types)
# ---------------------------------------------------------------------------

HEAPS_POINTS = 10


@register(
    "heaps_law_fit",
    sql=rf"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    flat AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(ts, i, i + 2), ' ') AS t
      FROM tok, unnest(range(1, len(ts) - 1)) u(i)
    ),
    seq AS (
      SELECT t, CAST(row_number() OVER (ORDER BY doc_id, pos) AS BIGINT)
               AS rn
      FROM flat
    ),
    fp AS (SELECT t, min(rn) AS firstpos FROM seq GROUP BY t),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seq),
    grid AS (
      SELECT k.k,
             CAST(floor(nn.n / pow(2.0, {HEAPS_POINTS} - k.k)) AS BIGINT)
               AS n_k
      FROM (SELECT unnest(range(1, {HEAPS_POINTS} + 1)) AS k) k
      CROSS JOIN nn
    ),
    pts AS (
      SELECT g.k, g.n_k,
             CAST(count(*) AS BIGINT) AS vocab
      FROM grid g JOIN fp ON fp.firstpos <= g.n_k
      GROUP BY g.k, g.n_k
    ),
    fit AS (
      SELECT round(
               sum((ln(CAST(n_k AS DOUBLE)) - ax) * (ln(CAST(vocab AS DOUBLE)) - ay))
               / sum((ln(CAST(n_k AS DOUBLE)) - ax) * (ln(CAST(n_k AS DOUBLE)) - ax)),
               6) AS beta,
             round(ay, 6) AS ay_r, round(ax, 6) AS ax_r
      FROM pts CROSS JOIN (
        SELECT avg(ln(CAST(n_k AS DOUBLE))) AS ax,
               avg(ln(CAST(vocab AS DOUBLE))) AS ay
        FROM pts
      )
      GROUP BY ax, ay
    )
    SELECT p.k, p.n_k, p.vocab, f.beta,
           round(f.ay_r - f.beta * f.ax_r, 6) AS ln_k_const
    FROM pts p CROSS JOIN fit f
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R226 Heaps'-law fit V(n) ≈ K·n^β of TYPE growth over the
    word-3-gram stream (the unigram vocabulary of this corpus is 31
    words and saturates in the first 100 tokens — the
    vacuous-selector lesson; 3-gram types keep growing through the
    whole stream). Global gram sequence via the two-phase distributed
    row number (no single-task window over raw grams),
    first-occurrence position per type (one min-aggregate), type
    counts at 10 LOG-SPACED prefix checkpoints (N/2⁹ … N — growth
    curves live on a log axis) via a broadcast grid join, then the
    log-log OLS slope in closed form. Companion to zipf_exponent_fit
    (rank-frequency) and chao1_shingle_richness (asymptote)."""
    from zoom_spark.operators.prefix import global_row_number

    from zoom_spark.io import spread_scan

    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    # 3-gram expansion below the first exchange: spread the pruned
    # single-split scan so it folds on every core (no-op when parallel)
    grams = spread_scan(docs.select("doc_id", "text")).select(
        "doc_id", ts.alias("ts")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, greatest(size(ts) - 2, 0)), i -> "
                "concat_ws(' ', element_at(ts, i), element_at(ts, i + 1), "
                "element_at(ts, i + 2)))"
            )
        ).alias("pos", "t"),
    )
    seq = global_row_number(grams, ["doc_id", "pos"], out_col="rn").select(
        "t", "rn"
    )
    fp = seq.groupBy("t").agg(F.min("rn").alias("firstpos"))
    nn = seq.agg(F.count("*").cast("bigint").alias("n"))
    ks = local_frame(
        spark,
        [(k,) for k in range(1, HEAPS_POINTS + 1)], "k bigint"
    )
    grid = ks.crossJoin(F.broadcast(nn)).select(
        "k",
        F.floor(
            F.col("n") / F.pow(F.lit(2.0), HEAPS_POINTS - F.col("k"))
        )
        .cast("bigint")
        .alias("n_k"),
    )
    pts = (
        fp.crossJoin(F.broadcast(grid))
        .where(F.col("firstpos") <= F.col("n_k"))
        .groupBy("k", "n_k")
        .agg(F.count("*").cast("bigint").alias("vocab"))
    )
    means = pts.agg(
        F.avg(F.log(F.col("n_k").cast("double"))).alias("ax"),
        F.avg(F.log(F.col("vocab").cast("double"))).alias("ay"),
    )
    fit = (
        pts.crossJoin(F.broadcast(means))
        .groupBy("ax", "ay")
        .agg(
            F.round(
                F.sum(
                    (F.log(F.col("n_k").cast("double")) - F.col("ax"))
                    * (F.log(F.col("vocab").cast("double")) - F.col("ay"))
                )
                / F.sum(
                    (F.log(F.col("n_k").cast("double")) - F.col("ax"))
                    * (F.log(F.col("n_k").cast("double")) - F.col("ax"))
                ),
                6,
            ).alias("beta"),
            F.round(F.any_value("ay"), 6).alias("ay_r"),
            F.round(F.any_value("ax"), 6).alias("ax_r"),
        )
        .select("beta", "ay_r", "ax_r")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "k",
        "n_k",
        "vocab",
        "beta",
        F.round(F.col("ay_r") - F.col("beta") * F.col("ax_r"), 6).alias(
            "ln_k_const"
        ),
    )
