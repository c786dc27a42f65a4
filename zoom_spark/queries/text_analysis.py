"""Text-analysis gated queries over `documents` (X4, SURVEY.md §2.11).

The oracle SQL re-implements each heuristic with DuckDB list/regex
functions, so every scoring rule is pinned down exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.functions import text as T
from zoom_spark.io import load_table
from zoom_spark.queries import register


@register(
    "text_stats",
    sql=r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                t -> t <> '')) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) AS INT) AS n_bpe_tokens,
           round(CASE WHEN length(text) > 0
                 THEN CAST(length(text)
                      - length(regexp_replace(text,
                          '[.,!?;:''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                      / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and punctuation
    density — all JVM-side expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio"),
    )


@register(
    "quality_scores",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS DOUBLE) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text)
                       - length(regexp_replace(text,
                           '[.,!?;:''"()\[\]{}-]', '', 'g')) AS DOUBLE)
                       / length(text)
                  ELSE 0.0 END AS pr,
             list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> ''), x -> lower(x)) AS toks
      FROM documents
    )
    SELECT doc_id,
           round(least(1.0, n_tokens / 100.0) * (1.0 - pr), 6) AS quality,
           round(CASE WHEN len(toks) > 0
                 THEN CAST(len(list_filter(toks, x -> x IN
                      ('the','a','an','and','or','of','to','in','is','it')))
                      AS DOUBLE) / len(toks)
                 ELSE 0.0 END, 6) AS stopword_ratio
    FROM t
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword heuristics — the
    cheap pre-filter pass of a pretraining pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.quality_score("text").alias("quality"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio"),
    )


@register(
    "lang_id",
    sql=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> ''), x -> lower(x)) AS t
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang,
        len(list_filter(t, x -> x IN ('the','and','of','to','in')))  AS s_en,
        len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(t, x -> x IN ('le','la','les','et','est')))  AS s_fr,
        len(list_filter(t, x -> x IN ('el','la','los','y','es')))    AS s_es
      FROM toks
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es'
           END AS lang_pred
    FROM scores
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram/marker heuristic with deterministic argmax
    tiebreak (en > de > fr > es)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.lang_guess("text").alias("lang_pred"),
    )


@register(
    "doc_fingerprints",
    sql=r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_md5
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via normalized-text md5 (portable
    across engines; the windowed variant is winnow_fingerprints)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint_md5("text").alias("fp_md5"))


@register(
    "docs_pipeline_clean",
    sql=r"""
    WITH scored AS (
      SELECT doc_id, source, text,
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
      SELECT *, round(least(1.0, n_tokens / 100.0) * (1.0 - pr), 6) AS q
      FROM scored
    ),
    kept AS (
      SELECT * FROM quality
      WHERE q >= 0.5
        AND doc_id = (SELECT min(doc_id) FROM quality q2 WHERE q2.fp = quality.fp)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_tokens), 4) AS avg_tokens,
           round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS avg_quality
    FROM kept GROUP BY source
    """,
)
def docs_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning pipeline (the composed form a
    pretraining data pass takes): quality-score filter -> exact-dedup
    keep-first -> per-source stats. One window shuffle on fingerprint
    + one aggregate shuffle on source; the text column never shuffles
    past the scoring projection."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        T.fingerprint_md5("text").alias("fp"),
        T.token_count("text").cast("double").alias("n_tokens"),
        T.quality_score("text").alias("q"),
    )
    kept = (
        scored.where(F.col("q") >= 0.5)
        .withColumn(
            "canon", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .where(F.col("doc_id") == F.col("canon"))
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        # q is already 6-decimal, so the decimal sum is exact and the
        # average cannot wobble on a rounding boundary across shuffle
        # orders (avg(double) flaked at sf0.1: 0.717812 vs 0.717813)
        F.round(
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double") / F.count("*"),
            6,
        ).alias("avg_quality"),
    )


@register(
    "stratified_sample_docs",
    sql="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_sampled
    FROM t
    WHERE bucket < CASE WHEN source = 'web' THEN 10 ELSE 50 END
    GROUP BY source
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus curation:
    per-source keep rates (downsample the over-represented 'web'
    stratum to 10%, others 50%) decided by an md5-derived bucket of
    the row id — engine-portable (unlike sample()/sampleBy() RNG),
    reproducible across runs, and embarrassingly parallel: a pure
    map-side filter, no shuffle before the audit aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.when(F.col("source") == "web", 10).otherwise(50)
    return (
        docs.where(bucket < rate)
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )


@register(
    "winnow_fingerprints",
    sql="""
    WITH wins AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(substring(text, CAST(t.i AS INTEGER), 8)), 1, 15))
                  AS BIGINT) AS h
      FROM documents,
           unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS t(i)
    ),
    kept AS (
      SELECT DISTINCT doc_id, h AS fp_hash
      FROM wins WHERE h % 16 = 0
    )
    SELECT d.doc_id, k.fp_hash
    FROM documents d LEFT JOIN kept k USING (doc_id)
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style window-hash fingerprints — higher-order
    functions only, no UDF; property tests assert identical texts
    share fingerprints.  The gated output explodes the internal
    sorted-distinct hash array to scalar (doc_id, fp_hash) rows:
    the driver canonicalizes results via a pandas sort, which cannot
    hash list-valued cells (round-1 red row), and the exploded shape
    is also what a 100 TB posting-list join would consume anyway.
    explode_outer keeps empty-text docs as a NULL-hash row so the
    doc universe stays auditable.

    Oracle-hashed since round 9: the window hash switched from
    Spark-only xxhash64 to the low 60 bits of md5 (identical in both
    engines), so the whole fingerprint set value-hashes
    (functions/text.md5_window_fingerprint; robust winnowing keeps
    its own alignment-invariant gate)."""
    from zoom_spark.io import spread_scan

    # spread_scan: the whole query is one map-side fingerprint fold —
    # on the single-split fixture scan it runs serially in the scan
    # task. No-op when the scan already splits >= cores (guide §2.5).
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.select(
        "doc_id",
        F.explode_outer(T.md5_window_fingerprint("text")).alias("fp_hash"),
    )


@register(
    "repetition_stats",
    sql=r"""
    WITH tf AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS w
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS t
        FROM documents
      )
      GROUP BY doc_id, t
    ),
    st AS (
      SELECT doc_id, CAST(sum(w) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(w) AS BIGINT) AS max_w
      FROM tf GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(st.n_tokens, 0) AS n_tokens,
           round(CASE WHEN st.n_tokens > 0
                 THEN 1.0 - st.n_distinct / CAST(st.n_tokens AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_token_ratio,
           round(CASE WHEN st.n_tokens > 0
                 THEN st.max_w / CAST(st.n_tokens AS DOUBLE)
                 ELSE 0.0 END, 6) AS top_token_ratio,
           (coalesce(st.n_tokens, 0) >= 10
            AND round(CASE WHEN st.n_tokens > 0
                      THEN st.max_w / CAST(st.n_tokens AS DOUBLE)
                      ELSE 0.0 END, 6) < 0.25) AS keep
    FROM documents d LEFT JOIN st USING (doc_id)
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 repetition signals (C4/Gopher-style corpus filter): dup-token
    ratio, most-common-token ratio, and the keep decision. All per-row
    column expressions (sort + run-length-encode fold) — a pure
    map-side pass, no shuffle, linear at 100 TB."""
    from zoom_spark.functions.text import (
        dup_token_ratio,
        token_count,
        top_token_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = token_count("text")
    topr = F.round(top_token_ratio("text"), 6)
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round(dup_token_ratio("text"), 6).alias("dup_token_ratio"),
        topr.alias("top_token_ratio"),
        ((n >= 10) & (topr < 0.25)).alias("keep"),
    )


@register(
    "doc_chunks",
    sql="""
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           substring(text, CAST(i AS INTEGER) * 100 + 1, 120) AS chunk,
           CAST(length(substring(text, CAST(i AS INTEGER) * 100 + 1, 120))
                AS BIGINT) AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, (length(text) - 1) // 100)) AS i
      FROM documents WHERE length(text) >= 1
    )
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (size 120, overlap 20) for
    embedding/RAG pipelines — JVM-side sequence+substring expansion
    (functions/chunking.fixed_chunks), exploded to one row per chunk.
    Map-side only; output is ~len/step rows per doc with no shuffle."""
    from zoom_spark.functions.chunking import fixed_chunks

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(fixed_chunks("text", size=120, overlap=20)).alias(
                "_pos", "c"
            ),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk").alias("chunk"),
            F.length("c.chunk").cast("bigint").alias("chunk_len"),
        )
    )


@register(
    "duplicate_spans",
    sql=r"""
    WITH grams AS (
      SELECT doc_id, md5(substr(text, i, 24)) AS gram_md5
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 23, 8)) AS i
        FROM documents WHERE length(text) >= 24
      )
    )
    SELECT gram_md5,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM grams
    GROUP BY gram_md5
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring-duplication detection (the Lee et al.
    "Deduplicating Training Data" substring shape): stride-8 24-char
    grams hashed and grouped; any gram seen in >= 2 docs marks a
    duplicated span. Detection is ALIGNMENT-SENSITIVE: grams are
    sampled at fixed absolute positions (1, 9, 17, ...), so two
    copies of a span share a sampled gram only when their start
    offsets are congruent mod 8 — a duplicated span at a misaligned
    offset can go undetected. Stride sampling bounds the blow-up to
    ~len/8 rows per doc (map-side, one shuffle on the 16-byte hash).
    For alignment-INVARIANT selection use the winnowing variant
    (winnow_fingerprints), whose content-defined anchors pick the
    same grams wherever the span lands; this stride version is kept
    because it is exact-stride and therefore DuckDB-oracle-checkable
    end to end."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.where(F.length("text") >= 24)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 23, F.lit(8))
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.md5(F.substring(F.col("text"), F.col("i"), 24).cast("binary")).alias("gram_md5"))
    )
    return (
        grams.groupBy("gram_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# R191: Aho-Corasick blocklist scan
# ---------------------------------------------------------------------------

BLOCKLIST_TERMS = (
    "slow",
    "merge batch",
    "big table",
    "hash value",
    "window stream",
    "vector",
)
BLOCKLIST_FLAG_THRESHOLD = 8
_BL_SQL_LIST = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)


@register(
    "blocklist_scan_docs",
    sql=f"""
    WITH pats AS (SELECT unnest([{_BL_SQL_LIST}]) AS p),
    hits AS (
      SELECT d.doc_id, pats.p,
             CAST((length(d.text) - length(replace(d.text, pats.p, '')))
                  / length(pats.p) AS BIGINT) AS cnt,
             strpos(d.text, pats.p) AS pos
      FROM documents d CROSS JOIN pats
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_terms,
           CAST(sum(cnt) AS BIGINT) AS total_hits,
           CAST(min(CASE WHEN pos > 0 THEN pos END) AS BIGINT)
             AS first_hit_pos,
           (sum(cnt) >= {BLOCKLIST_FLAG_THRESHOLD}) AS flagged
    FROM hits GROUP BY doc_id
    """,
)
def blocklist_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R191 blocklist / PII-term filter via a REAL Aho-Corasick
    automaton (`functions/acscan.py`): per document, distinct terms
    present, total greedy non-overlapping hits (str.count semantics,
    so the oracle recomputes them with replace()), 1-based first hit
    position, and a flagged verdict. ONE pass per document for the
    whole pattern set (O(len + matches), independent of blocklist
    size) in an Arrow-batched mapInPandas — the scan a 100 TB curation
    sweep needs, vs the P-passes-per-doc instr() spelling the oracle
    uses. Map-only: no shuffle at all."""
    from zoom_spark.functions.acscan import blocklist_scan

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_scan(
        docs,
        BLOCKLIST_TERMS,
        flag_threshold=BLOCKLIST_FLAG_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# R207: TextRank keyword extraction
# ---------------------------------------------------------------------------

TEXTRANK_TOPK = 10


def _textrank_oracle_sql(iterations: int = 10) -> str:
    """Unrolled TextRank replay: the same tokenize → adjacent-pair →
    75th-percentile threshold graph build, then the pagerank power-
    method schedule (10 rounds, 9dp HALF-UP snap per round — the
    engine runs pagerank(quantize_dp=9)) over word-string node ids.
    Rank values depend only on graph topology, so the engine's dense
    integer ids and the oracle's word ids agree exactly."""
    head = r"""tok AS MATERIALIZED (
      SELECT did, i, ts[i] AS w1, ts[i + 1] AS w2
      FROM (
        SELECT row_number() OVER () AS did,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> '') AS ts
        FROM documents
      ), LATERAL (
        SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g
    ),
    cnt AS MATERIALIZED (
      SELECT least(w1, w2) AS wa, greatest(w1, w2) AS wb,
             count(*) AS n
      FROM tok WHERE w1 <> w2
      GROUP BY 1, 2
    ),
    thr AS (SELECT quantile_cont(n, 0.75) AS t FROM cnt),
    und AS MATERIALIZED (
      SELECT wa, wb FROM cnt WHERE n > (SELECT t FROM thr)
    ),
    directed AS MATERIALIZED (
      SELECT wa AS f, wb AS t FROM und UNION ALL SELECT wb, wa FROM und
    ),
    outdeg AS MATERIALIZED (SELECT f, count(*) AS d FROM directed GROUP BY f),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM outdeg),
    r0 AS MATERIALIZED (
      SELECT f AS node, 1.0 / (SELECT n FROM nn) AS rank FROM outdeg
    )"""
    parts = [head]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT d.t AS node,
             floor(((1.0 - 0.85) / (SELECT n FROM nn)
                    + 0.85 * sum(r.rank / o.d)) * 1000000000.0 + 0.5)
               / 1000000000.0 AS rank
      FROM directed d
      JOIN r{i-1} r ON d.f = r.node
      JOIN outdeg o ON o.f = d.f
      GROUP BY d.t
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node AS word,
           floor(rank * 1000000 + 0.5) / 1000000.0 AS rank_q6
    FROM r{iterations}
    ORDER BY rank DESC, node
    LIMIT 10"""
    )


@register("textrank_keywords", sql=_textrank_oracle_sql())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R207 TextRank (Mihalcea & Tarau): PageRank over the corpus
    word co-occurrence graph — the OTHER classic unsupervised keyword
    extractor next to RAKE (R185; degree/frequency scoring). Adjacent
    lowercased tokens pair via the zip-of-shifted-slices idiom (one
    explode AFTER pairing), distinct undirected edges feed
    operators/graph.pagerank (10 power iterations, the frame-sized
    partitioning + lazy-checkpoint loop), and the top-{10} words come
    out as a k-bounded TakeOrdered. Oracle-hashed since round 8 via
    the unrolled-CTE pagerank replay with 9dp per-round snapping
    (quantize_dp=9); the numpy power-iteration referee stays as the
    independent check. Word ids are md5-free: the vocabulary frame
    carries a dense integer id from the two-phase global row number."""
    from zoom_spark.operators.graph import pagerank
    from zoom_spark.operators.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    pairs = docs.select(
        F.explode(
            F.zip_with(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cnt = (
        pairs.where(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("wa"),
            F.greatest("w1", "w2").alias("wb"),
        )
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    # the tiny fixture vocabulary makes the RAW graph complete (every
    # pair co-occurs somewhere -> uniform PageRank, a vacuous gate);
    # keep only ABOVE-75th-percentile co-occurrence edges so the graph
    # topology reflects association strength at every SF
    thr = cnt.agg(
        F.expr("percentile(n, 0.75)").alias("thr")
    )
    und = (
        cnt.crossJoin(F.broadcast(thr))
        .where(F.col("n") > F.col("thr"))
        .select("wa", "wb")
    )
    vocab = (
        und.select(F.col("wa").alias("w"))
        .unionAll(und.select(F.col("wb").alias("w")))
        .distinct()
    )
    ids = global_row_number(vocab, ["w"], out_col="nid").localCheckpoint(
        eager=False
    )
    edges = (
        und.join(ids.withColumnRenamed("w", "wa_w"), F.col("wa") == F.col("wa_w"))
        .withColumnRenamed("nid", "u")
        .drop("wa_w")
        .join(ids.withColumnRenamed("w", "wb_w"), F.col("wb") == F.col("wb_w"))
        .withColumnRenamed("nid", "v")
        .drop("wb_w")
        .select("u", "v")
    )
    ranks = pagerank(edges, src="u", dst="v", quantize_dp=9)
    top = (
        ranks.join(ids, ranks["node"] == ids["nid"])
        .orderBy(F.col("rank").desc(), F.col("w"))
        .limit(TEXTRANK_TOPK)
        .select(
            F.col("w").alias("word"),
            (F.floor(F.col("rank") * 1000000 + 0.5) / F.lit(1000000.0)).alias(
                "rank_q6"
            ),
        )
    )
    return top
