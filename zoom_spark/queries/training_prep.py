"""Round-5 continuation: training-data preparation operators (R80-R86).

The remaining high-value LLM-pipeline surface after SURVEY.md §2.14:
benchmark decontamination (n-gram overlap against a held-out test
set), SQL:2016 linear-regression aggregates, Gopher/C4-style document
quality flags, winsorized robust statistics, inter-rater agreement
(Cohen's kappa), a distributed-rank ROC-AUC (Mann-Whitney U with tie
correction), and closed-form multivariate OLS via normal equations.

All are DataFrame-first with exact DuckDB oracle twins. Float
aggregates are rounded on both sides before compare; the OLS query
rounds its *moments* first so both engines run identical arithmetic
on identical inputs (summation-order noise cannot reach the
coefficients).

Reference parity note: the reference pipeline (/root/reference/main.py)
has no analog for any of these — they belong to the mandated
LLM-pipeline / warehouse extension family (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

# ---------------------------------------------------------------------------
# R80: benchmark decontamination via n-gram overlap
# ---------------------------------------------------------------------------

DECON_W = 8  # words per shingle — the n-gram width used by PaLM/GPT-3 decontamination (8..13)
DECON_MOD = 17  # doc_id % DECON_MOD == 0 -> held-out "benchmark" set


@register(
    "decontaminate_ngram_overlap",
    sql=f"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws,
             doc_id % {DECON_MOD} = 0 AS is_test
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, is_test,
             md5(array_to_string(ws[t.i:t.i + {DECON_W - 1}], ' ')) AS sh
      FROM words
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {DECON_W - 1})) AS i
      ) t
      WHERE len(ws) >= {DECON_W}
    ),
    test_set AS (SELECT DISTINCT sh FROM shingles WHERE is_test),
    train AS (SELECT doc_id, sh FROM shingles WHERE NOT is_test),
    hits AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(ts.sh) AS BIGINT) AS n_overlap
      FROM train t LEFT JOIN test_set ts USING (sh)
      GROUP BY t.doc_id
    )
    SELECT w.doc_id,
           coalesce(h.n_shingles, 0) AS n_shingles,
           coalesce(h.n_overlap, 0) AS n_overlap,
           CAST(CASE WHEN coalesce(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END
                AS INTEGER) AS contaminated
    FROM words w LEFT JOIN hits h USING (doc_id)
    WHERE NOT w.is_test
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one word-{DECON_W}-gram with the held-out test
    split (doc_id % {DECON_MOD} == 0) — the n-gram-overlap rule used
    to scrub eval sets out of pretraining corpora. Shingles are
    md5-hashed map-side, so the shuffle moves 16-byte keys, never
    text. The test-set shingle table is benchmark-sized (a tiny
    fraction of the corpus), so at 100 TB the probe join is a
    broadcast or a cheap equi-shuffle on the hash — never doc-vs-doc.
    The final left join restores zero-shingle / zero-overlap training
    docs so the output is a per-doc verdict, not just the hit list."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = docs.select(
        "doc_id",
        ws.alias("ws"),
        (F.col("doc_id") % DECON_MOD == 0).alias("is_test"),
    )
    shingles = (
        base.where(F.size("ws") >= DECON_W)
        .select(
            "doc_id",
            "is_test",
            F.explode(
                F.sequence(F.lit(1), F.size("ws") - (DECON_W - 1), F.lit(1))
            ).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            "is_test",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), DECON_W))
            ).alias("sh"),
        )
        .distinct()
    )
    test_set = shingles.where("is_test").select("sh").distinct()
    train = shingles.where(~F.col("is_test")).select("doc_id", "sh")
    hits = (
        train.join(test_set.withColumn("_hit", F.lit(1)), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count("_hit").cast("bigint").alias("n_overlap"),
        )
    )
    return (
        base.where(~F.col("is_test"))
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.when(F.coalesce("n_overlap", F.lit(0)) > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# R81: SQL:2016 linear-regression aggregates
# ---------------------------------------------------------------------------


@register(
    "regr_aggregates_lineitem",
    sql="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def regr_aggregates_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2016 bivariate regression aggregates (REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2 / REGR_COUNT / REGR_AVGX / REGR_AVGY)
    fitting extendedprice ~ quantity per return flag. One hash
    aggregate with map-side partials — the regr_* family is
    decomposable into (n, Σx, Σy, Σxx, Σyy, Σxy) so Spark computes it
    in a single data pass with combiner semantics, the same shape as
    SUM. Nothing here is data-sized after the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("bigint").alias("n"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.round(F.regr_avgx(y, x), 4).alias("avg_x"),
            F.round(F.regr_avgy(y, x), 4).alias("avg_y"),
        )
    )


# ---------------------------------------------------------------------------
# R82: Gopher/C4-style document quality flags
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in")
GQ_MIN_WORDS, GQ_MAX_WORDS = 25, 90
GQ_MIN_MWL, GQ_MAX_MWL = 3.9, 5.1
GQ_MIN_STOP = 0.02
GQ_MAX_TOP = 0.15


@register(
    "gopher_quality_flags",
    sql=f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      )
    ),
    wc AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_words,
             sum(length(w) * c) * 1.0 / sum(c) AS mwl,
             coalesce(sum(c) FILTER (WHERE w IN {STOPWORDS}), 0) * 1.0
               / sum(c) AS stop_frac,
             max(c) * 1.0 / sum(c) AS top_frac
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_words,
           round(mwl, 6) AS mean_word_len,
           round(stop_frac, 6) AS stop_frac,
           round(top_frac, 6) AS top_word_frac,
           CAST(CASE WHEN n_words BETWEEN {GQ_MIN_WORDS} AND {GQ_MAX_WORDS}
                      AND mwl >= {GQ_MIN_MWL} AND mwl <= {GQ_MAX_MWL}
                      AND stop_frac >= {GQ_MIN_STOP}
                      AND top_frac <= {GQ_MAX_TOP}
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM per_doc
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality filter: word-count bounds,
    mean-word-length window, minimum stopword fraction, and maximum
    single-word dominance, combined into a keep/drop verdict per
    document. Two hash aggregates — (doc, word) counts then per-doc
    signals — both with map-side partials; word dominance needs the
    nested shape (max of per-word counts), which is why this is not a
    single pass. Thresholds compare the UNROUNDED signals on both
    engines; rounding is applied only to the reported columns, so the
    verdict can't flip at a print boundary."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w"),
    )
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    stop_c = F.sum(F.when(F.col("w").isin(*STOPWORDS), F.col("c")).otherwise(0))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        (F.sum(F.length("w") * F.col("c")) * 1.0 / F.sum("c")).alias("mwl"),
        (stop_c * 1.0 / F.sum("c")).alias("stop_frac"),
        (F.max("c") * 1.0 / F.sum("c")).alias("top_frac"),
    )
    keep = (
        F.col("n_words").between(GQ_MIN_WORDS, GQ_MAX_WORDS)
        & (F.col("mwl") >= GQ_MIN_MWL)
        & (F.col("mwl") <= GQ_MAX_MWL)
        & (F.col("stop_frac") >= GQ_MIN_STOP)
        & (F.col("top_frac") <= GQ_MAX_TOP)
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("stop_frac", 6).alias("stop_frac"),
        F.round("top_frac", 6).alias("top_word_frac"),
        F.when(keep, 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# R83: winsorized robust statistics
# ---------------------------------------------------------------------------


@register(
    "winsorized_price_stats",
    sql="""
    WITH pct AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS p05,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(p.p05, 4) AS p05,
           round(p.p95, 4) AS p95,
           round(avg(least(greatest(o.o_totalprice, p.p05), p.p95)), 4)
             AS winsor_mean,
           round(stddev_samp(least(greatest(o.o_totalprice, p.p05), p.p95)), 4)
             AS winsor_std
    FROM orders o JOIN pct p USING (o_orderpriority)
    GROUP BY o.o_orderpriority, p.p05, p.p95
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean/stddev of order totals per priority: clamp each
    value into its group's [p05, p95] band, then aggregate — the
    outlier-robust summary used for per-source quality dashboards.
    Two passes over the data: an exact interpolated percentile
    aggregate (group-count-sized result), broadcast back onto the
    fact scan, then one clamped hash aggregate. The percentile frame
    is |priorities| rows, so the join is always a broadcast."""
    od = load_table(spark, sf_dir, "orders")
    pct = od.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95")
    )
    return (
        od.join(F.broadcast(pct), "o_orderpriority")
        .groupBy("o_orderpriority", "p05", "p95")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg(clamped), 4).alias("winsor_mean"),
            F.round(F.stddev_samp(clamped), 4).alias("winsor_std"),
        )
        .select(
            "o_orderpriority",
            "n",
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            "winsor_mean",
            "winsor_std",
        )
    )


# ---------------------------------------------------------------------------
# R84: Cohen's kappa inter-rater agreement
# ---------------------------------------------------------------------------


@register(
    "cohens_kappa_raters",
    sql="""
    WITH meds AS (
      SELECT quantile_cont(n_chars, 0.5) AS med_chars,
             quantile_cont(len(list_filter(string_split(text, ' '),
                                           x -> x <> '')), 0.5) AS med_words
      FROM documents
    ),
    rated AS (
      SELECT CASE WHEN d.n_chars > m.med_chars THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(list_filter(string_split(d.text, ' '),
                                       x -> x <> '')) > m.med_words
                  THEN 1 ELSE 0 END AS rb
      FROM documents d CROSS JOIN meds m
    ),
    cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00,
             CAST(sum(ra) AS BIGINT) AS na1,
             CAST(sum(rb) AS BIGINT) AS nb1
      FROM rated
    )
    SELECT n, n11, n00,
           round((n11 + n00) * 1.0 / n, 6) AS po,
           round((na1 * nb1 + (n - na1) * (n - nb1)) * 1.0 / (n * n), 6) AS pe,
           round(((n11 + n00) * 1.0 / n
                  - (na1 * nb1 + (n - na1) * (n - nb1)) * 1.0 / (n * n))
                 / (1.0 - (na1 * nb1 + (n - na1) * (n - nb1)) * 1.0 / (n * n)),
                 6) AS kappa
    FROM cm
    """,
)
def cohens_kappa_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two derived binary raters (above-median
    char count vs above-median word count) — the chance-corrected
    agreement statistic used to audit redundant quality labelers. The
    medians are a 2-value scalar aggregate broadcast onto the doc
    scan (BroadcastNestedLoopJoin over 1 row, by design); the
    confusion matrix is one hash aggregate to a single row. Kappa
    arithmetic happens on exact BIGINT confusion counts, so both
    engines compute bit-identical po/pe/kappa."""
    docs = load_table(spark, sf_dir, "documents")
    nw = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    meds = docs.agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med_chars"),
        F.percentile(nw, F.lit(0.5)).alias("med_words"),
    )
    rated = docs.crossJoin(F.broadcast(meds)).select(
        F.when(F.col("n_chars") > F.col("med_chars"), 1).otherwise(0).alias("ra"),
        F.when(nw > F.col("med_words"), 1).otherwise(0).alias("rb"),
    )
    cm = rated.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum("ra").cast("bigint").alias("na1"),
        F.sum("rb").cast("bigint").alias("nb1"),
    )
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = (
        F.col("na1") * F.col("nb1")
        + (F.col("n") - F.col("na1")) * (F.col("n") - F.col("nb1"))
    ) * 1.0 / (F.col("n") * F.col("n"))
    return cm.select(
        "n",
        "n11",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# R85: ROC AUC via distributed rank statistic
# ---------------------------------------------------------------------------


@register(
    "roc_auc_purchase_value",
    sql="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    pv AS (
      SELECT v,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM s GROUP BY v
    ),
    c AS (
      SELECT v, n_pos, n_neg,
             sum(n_neg) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_neg AS below
      FROM pv
    ),
    tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS p,
             CAST(sum(n_neg) AS BIGINT) AS q
      FROM pv
    )
    SELECT t.p AS n_pos, t.q AS n_neg,
           round(sum(c.n_pos * (c.below + c.n_neg / 2.0)) / (t.p * t.q), 6)
             AS auc
    FROM c CROSS JOIN tot t
    GROUP BY t.p, t.q
    """,
)
def roc_auc_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of `value` as a classifier score for purchase events —
    the Mann-Whitney U statistic with tie correction (ties contribute
    half). Computed WITHOUT a global sort or single-task window:
    scores collapse to per-distinct-value (n_pos, n_neg) counts (one
    hash aggregate), then the running count of negatives below each
    value comes from the repo's two-phase distributed prefix-sum
    (range shuffle + per-partition window + O(P) driver offsets —
    operators/prefix.py). U = Σ n_pos·(neg_below + n_neg/2); the
    P·Q normalizer is a 1-row broadcast. At 100 TB every stage is a
    shuffle over distinct scores, never a global single-task sort."""
    from zoom_spark.operators.prefix import prefix_sum

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    pv = s.groupBy("v").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    c = prefix_sum(pv, "v", "n_neg", out_col="cum_neg").withColumn(
        "below", F.col("cum_neg") - F.col("n_neg")
    )
    tot = pv.agg(
        F.sum("n_pos").cast("bigint").alias("p"),
        F.sum("n_neg").cast("bigint").alias("q"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("p", "q")
        .agg(
            F.round(
                F.sum(F.col("n_pos") * (F.col("below") + F.col("n_neg") / 2.0))
                / (F.col("p") * F.col("q")).cast("double"),
                6,
            ).alias("auc")
        )
        .select(
            F.col("p").alias("n_pos"), F.col("q").alias("n_neg"), "auc"
        )
    )


# ---------------------------------------------------------------------------
# R86: multivariate OLS via normal equations (closed form)
# ---------------------------------------------------------------------------


@register(
    "ols_normal_equations",
    sql="""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             round(sum(l_quantity), 3) AS sx1,
             round(sum(l_discount), 3) AS sx2,
             round(sum(l_quantity * l_quantity), 3) AS sx11,
             round(sum(l_quantity * l_discount), 3) AS sx12,
             round(sum(l_discount * l_discount), 3) AS sx22,
             round(sum(l_extendedprice / 1000.0), 3) AS sy,
             round(sum(l_quantity * l_extendedprice / 1000.0), 3) AS sx1y,
             round(sum(l_discount * l_extendedprice / 1000.0), 3) AS sx2y
      FROM lineitem
    ),
    d AS (
      SELECT *,
             n * (sx11 * sx22 - sx12 * sx12)
             - sx1 * (sx1 * sx22 - sx12 * sx2)
             + sx2 * (sx1 * sx12 - sx11 * sx2) AS det
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((sy * (sx11 * sx22 - sx12 * sx12)
                  - sx1 * (sx1y * sx22 - sx12 * sx2y)
                  + sx2 * (sx1y * sx12 - sx11 * sx2y)) / det, 6) AS b0,
           round((n * (sx1y * sx22 - sx12 * sx2y)
                  - sy * (sx1 * sx22 - sx12 * sx2)
                  + sx2 * (sx1 * sx2y - sx1y * sx2)) / det, 6) AS b1,
           round((n * (sx11 * sx2y - sx1y * sx12)
                  - sx1 * (sx1 * sx2y - sx1y * sx2)
                  + sy * (sx1 * sx12 - sx11 * sx2)) / det, 6) AS b2
    FROM d
    """,
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS (extendedprice/1000 ~ quantity + discount) by
    the normal equations: one hash aggregate collects the 9 second-
    order moments (n, Σx, Σxx', Σx'y), then a 3x3 Cramer's-rule solve
    runs as scalar arithmetic on the 1-row frame. This is the
    canonical "distributed ML as aggregation" shape — a single data
    pass with map-side partials, O(d²) state, nothing data-sized
    after the aggregate; the same pattern scales to any d where d²
    fits in a row. Moments are rounded to 3 decimals on BOTH engines
    BEFORE the solve, so both run identical float arithmetic on
    identical inputs and summation-order noise cannot reach the
    coefficients (y is scaled by 1/1000 to keep moment magnitudes
    ≤1e9, where double noise « the rounding quantum)."""
    li = load_table(spark, sf_dir, "lineitem")
    x1, x2 = F.col("l_quantity"), F.col("l_discount")
    y = F.col("l_extendedprice") / 1000.0
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.round(F.sum(x1), 3).alias("sx1"),
        F.round(F.sum(x2), 3).alias("sx2"),
        F.round(F.sum(x1 * x1), 3).alias("sx11"),
        F.round(F.sum(x1 * x2), 3).alias("sx12"),
        F.round(F.sum(x2 * x2), 3).alias("sx22"),
        F.round(F.sum(y), 3).alias("sy"),
        F.round(F.sum(x1 * y), 3).alias("sx1y"),
        F.round(F.sum(x2 * y), 3).alias("sx2y"),
    )
    c = F.col
    det = (
        c("n") * (c("sx11") * c("sx22") - c("sx12") * c("sx12"))
        - c("sx1") * (c("sx1") * c("sx22") - c("sx12") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx12") - c("sx11") * c("sx2"))
    )
    b0 = (
        c("sy") * (c("sx11") * c("sx22") - c("sx12") * c("sx12"))
        - c("sx1") * (c("sx1y") * c("sx22") - c("sx12") * c("sx2y"))
        + c("sx2") * (c("sx1y") * c("sx12") - c("sx11") * c("sx2y"))
    )
    b1 = (
        c("n") * (c("sx1y") * c("sx22") - c("sx12") * c("sx2y"))
        - c("sy") * (c("sx1") * c("sx22") - c("sx12") * c("sx2"))
        + c("sx2") * (c("sx1") * c("sx2y") - c("sx1y") * c("sx2"))
    )
    b2 = (
        c("n") * (c("sx11") * c("sx2y") - c("sx1y") * c("sx12"))
        - c("sx1") * (c("sx1") * c("sx2y") - c("sx1y") * c("sx2"))
        + c("sy") * (c("sx1") * c("sx12") - c("sx11") * c("sx2"))
    )
    return m.withColumn("det", det).select(
        c("n").cast("bigint").alias("n"),
        F.round(b0 / c("det"), 6).alias("b0"),
        F.round(b1 / c("det"), 6).alias("b1"),
        F.round(b2 / c("det"), 6).alias("b2"),
    )


# ---------------------------------------------------------------------------
# R87: Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

BOOT_B = 48  # bootstrap replicates
# Poisson(1) CDF ladder: P(X<=k) for k = 0..4; tail mass lands on 5
_POIS = (0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431, 0.9963401532)


@register(
    "bootstrap_ci_order_value",
    sql=f"""
    WITH rep AS (
      SELECT o_totalprice AS x, b.b,
             CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                         || CAST(b.b AS VARCHAR)), 1, 8))
                  AS UBIGINT) / 4294967296.0 AS u
      FROM orders
      CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) b
    ),
    weighted AS (
      SELECT b, x,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  WHEN u < {_POIS[4]} THEN 4
                  ELSE 5 END AS w
      FROM rep
    ),
    means AS (
      SELECT b, sum(w * x) / sum(w) AS m FROM weighted GROUP BY b
    )
    SELECT CAST({BOOT_B} AS BIGINT) AS n_reps,
           round((SELECT avg(o_totalprice) FROM orders), 4) AS mean_est,
           round(quantile_cont(m, 0.025), 4) AS ci_lo,
           round(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM means
    """,
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value via
    the POISSON bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams") — the resampling scheme that works when
    n is unknown and no single machine holds the data: each row
    contributes Poisson(1)-many copies to each replicate, with the
    count derived from a deterministic md5 uniform and an inverse-CDF
    ladder, so both engines draw identical resamples. One explode to
    B={BOOT_B} replicate rows per record, one hash aggregate to B
    weighted means (map-side partials reduce each partition to ≤B
    rows), then an exact percentile over the B-row frame. At 100 TB
    the shuffle carries B rows per partition, not B× the data."""
    od = load_table(spark, sf_dir, "orders")
    # r13: spread before the xB replicate explode — the md5 draw per
    # (row, replicate) is the dominant cost and the single-split
    # fixture scan would otherwise compute all of it on one task
    # (no-op on a parallel scan; see io.spread_scan).
    from zoom_spark.io import spread_scan

    rep = spread_scan(od.select("o_orderkey", "o_totalprice")).select(
        "o_orderkey",
        F.col("o_totalprice").alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0),
    )
    w = (
        F.when(F.col("u") < _POIS[0], 0)
        .when(F.col("u") < _POIS[1], 1)
        .when(F.col("u") < _POIS[2], 2)
        .when(F.col("u") < _POIS[3], 3)
        .when(F.col("u") < _POIS[4], 4)
        .otherwise(5)
    )
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg((F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("m"))
    )
    est = od.agg(F.round(F.avg("o_totalprice"), 4).alias("mean_est"))
    return (
        means.agg(
            F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
            F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(est))
        .select(
            F.lit(BOOT_B).cast("bigint").alias("n_reps"),
            "mean_est",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# R88: PMI token co-occurrence
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 40  # minimum co-occurrence count to report


@register(
    "pmi_cooccurrence",
    sql=f"""
    WITH dw AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      )
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM dw),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY w),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
      HAVING count(*) >= {PMI_MIN_PAIR}
    )
    SELECT p.w1, p.w2, p.n_pair, d1.df AS df1, d2.df AS df2,
           round(ln(p.n_pair * n.n_docs / (d1.df * d2.df)), 6) AS pmi
    FROM pairs p
    JOIN df d1 ON p.w1 = d1.w
    JOIN df d2 ON p.w2 = d2.w
    CROSS JOIN n
    """,
)
def pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs at document
    granularity: PMI = ln(P(w1,w2)/(P(w1)P(w2))) over document
    presence, the classic collocation / embedding-matrix statistic.
    The pair space is generated by a SELF-EQUI-JOIN on doc_id with
    w1 < w2, so the quadratic blowup is bounded per document by its
    distinct-word count (docs are token-bounded in a curation
    pipeline), never corpus-wide; the support floor then prunes
    before the df joins. The document-frequency side joins are on
    single words — model-sized, broadcast-eligible. The 1-row corpus
    count is a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w"),
    ).distinct()
    n = dw.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    dfreq = dw.groupBy("w").agg(F.count("*").cast("bigint").alias("df"))
    a = dw.alias("a")
    b = dw.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").cast("bigint").alias("n_pair"))
        .where(F.col("n_pair") >= PMI_MIN_PAIR)
    )
    return (
        pairs.join(dfreq.withColumnRenamed("w", "w1").withColumnRenamed("df", "df1"), "w1")
        .join(dfreq.withColumnRenamed("w", "w2").withColumnRenamed("df", "df2"), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n_pair",
            "df1",
            "df2",
            F.round(
                F.log(
                    F.col("n_pair") * F.col("n_docs") / (F.col("df1") * F.col("df2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# R89: CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------


@register(
    "ccnet_perplexity_buckets",
    sql=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY t
    ),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM vocab),
    lp AS (
      SELECT tok.doc_id,
             round(avg(ln(vocab.tf / CAST(tot.n AS DOUBLE))), 6) AS lp
      FROM tok JOIN vocab ON tok.t = vocab.t CROSS JOIN tot
      GROUP BY tok.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.source, l.lp FROM documents d JOIN lp l USING (doc_id)
    ),
    cuts AS (
      SELECT source,
             quantile_cont(lp, 0.33) AS t33,
             quantile_cont(lp, 0.66) AS t66
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, round(s.lp, 4) AS lp,
           CASE WHEN s.lp >= c.t66 THEN 'head'
                WHEN s.lp >= c.t33 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN cuts c USING (source)
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 1911.00359):
    score each document by its average unigram log-prob under the
    corpus LM, then split each SOURCE into head/middle/tail at its
    own 33/66 percentiles — the standard way to keep per-domain
    quality tiers comparable. The LM pass is the repo's two-shuffle
    unigram scorer; per-doc scores are rounded to 6dp BEFORE the
    percentile cut on BOTH engines, so threshold comparisons run on
    identical values and summation-order noise cannot flip a bucket.
    The cuts frame is |sources|×2 — always a broadcast."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ws_tokens(F.lower("text"))).alias("t"))
    vocab = tok.groupBy("t").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n"))
    lp = (
        tok.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("tf") / F.col("n").cast("double"))), 6
            ).alias("lp")
        )
    )
    scored = docs.select("doc_id", "source").join(lp, "doc_id")
    cuts = scored.groupBy("source").agg(
        F.percentile("lp", F.lit(0.33)).alias("t33"),
        F.percentile("lp", F.lit(0.66)).alias("t66"),
    )
    return (
        scored.join(F.broadcast(cuts), "source")
        .select(
            "doc_id",
            "source",
            F.round("lp", 4).alias("lp"),
            F.when(F.col("lp") >= F.col("t66"), "head")
            .when(F.col("lp") >= F.col("t33"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# R90: logistic regression via aggregated gradient descent
# ---------------------------------------------------------------------------

LOGREG_ITERS = 20
LOGREG_LR = 0.5


def _logreg_oracle_sql(iters: int = 20, lr: float = 0.5) -> str:
    """Unrolled full-batch GD replay: identical feature build, the
    z-score stats and every iteration's weights snapped to the 9dp
    grid (shared HALF-UP floor spelling, both sides), so each round's
    sigmoid pass starts from bit-identical weights and the only drift
    source (gradient summation order) is absorbed by the snap."""
    head = """u AS MATERIALIZED (
      SELECT user_id,
             ln(CAST(count(*) AS DOUBLE)) AS f1,
             avg(value) AS f2,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    st AS MATERIALIZED (
      SELECT floor(avg(f1) * 1e9 + 0.5) / 1e9 AS m1,
             floor(stddev_pop(f1) * 1e9 + 0.5) / 1e9 AS s1,
             floor(avg(f2) * 1e9 + 0.5) / 1e9 AS m2,
             floor(stddev_pop(f2) * 1e9 + 0.5) / 1e9 AS s2
      FROM u
    ),
    x AS MATERIALIZED (
      SELECT (f1 - st.m1) / st.s1 AS x1, (f2 - st.m2) / st.s2 AS x2, y
      FROM u CROSS JOIN st
    ),
    w0 AS MATERIALIZED (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2)"""
    parts = [head]
    for i in range(1, iters + 1):
        parts.append(
            f"""g{i} AS MATERIALIZED (
      SELECT avg(p - y) AS g0, avg((p - y) * x1) AS g1,
             avg((p - y) * x2) AS g2
      FROM (
        SELECT 1.0 / (1.0 + exp(-(w.b + w.c1 * x1 + w.c2 * x2))) AS p,
               x1, x2, y
        FROM x CROSS JOIN w{i-1} w
      )
    ),
    w{i} AS MATERIALIZED (
      SELECT floor((w.b  - {lr} * g.g0) * 1e9 + 0.5) / 1e9 AS b,
             floor((w.c1 - {lr} * g.g1) * 1e9 + 0.5) / 1e9 AS c1,
             floor((w.c2 - {lr} * g.g2) * 1e9 + 0.5) / 1e9 AS c2
      FROM w{i-1} w CROSS JOIN g{i} g
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    fin AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             avg(CASE WHEN (CASE WHEN w.b + w.c1 * x1 + w.c2 * x2 > 0
                            THEN 1 ELSE 0 END) = CAST(y AS INT)
                      THEN 1.0 ELSE 0.0 END) AS acc
      FROM x CROSS JOIN w{iters} w
    )
    SELECT fin.n,
           floor(w.b  * 1e6 + 0.5) / 1e6 AS w0,
           floor(w.c1 * 1e6 + 0.5) / 1e6 AS w1,
           floor(w.c2 * 1e6 + 0.5) / 1e6 AS w2,
           floor(fin.acc * 1e6 + 0.5) / 1e6 AS train_acc
    FROM w{iters} w CROSS JOIN fin"""
    )


@register("logreg_purchase_model",
          sql=_logreg_oracle_sql(LOGREG_ITERS, LOGREG_LR))
def logreg_purchase_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (did this user ever purchase?) trained by
    full-batch gradient descent where each iteration is ONE aggregate:
    grad = Σ (σ(w·x) − y)·x / n, a 3-double row collected to the
    driver — the canonical "iterative ML as aggregation" pattern
    (same shape Spark MLlib's LBFGS uses for its loss/grad passes).
    Features (z-scored event count and mean value per user) are built
    once and PERSISTED, so the 20 gradient passes re-scan a
    materialized user-sized frame, not the raw events. Driver state is
    the 3-vector w — model-sized, never data-sized. Iterative fixpoint
    ⇒ not SQL-expressible: rows-only driver gate; the numpy referee in
    tests/test_training_prep.py reruns the identical GD and matches
    coefficients to 1e-5. Oracle-hashed since round 8 via the
    unrolled-CTE GD replay with 9dp stat/weight snapping (the
    pagerank schedule)."""
    import math

    snap9 = lambda v: math.floor(v * 1e9 + 0.5) / 1e9  # noqa: E731
    snap6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.log(F.count("*").cast("double")).alias("f1"),
        F.avg("value").alias("f2"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    stats = users.agg(
        F.avg("f1").alias("m1"),
        F.stddev_pop("f1").alias("s1"),
        F.avg("f2").alias("m2"),
        F.stddev_pop("f2").alias("s2"),
    ).collect()[0]
    # 9dp HALF-UP snaps (shared floor spelling, mirrored in the
    # unrolled oracle) on the z-score stats and each iteration's
    # weights: the only cross-engine drift source is aggregate
    # summation order, absorbed by the grid
    m1, s1 = snap9(stats["m1"]), snap9(stats["s1"])
    m2, s2 = snap9(stats["m2"]), snap9(stats["s2"])
    feats = users.select(
        ((F.col("f1") - m1) / s1).alias("x1"),
        ((F.col("f2") - m2) / s2).alias("x2"),
        F.col("y").cast("double").alias("y"),
    ).persist()
    try:
        n = feats.count()
        w0 = w1 = w2 = 0.0
        from zoom_spark.operators.sizing import fits

        if fits(n, 24):
            # r14: the z-scored feature frame is MODEL-SIZED (3 doubles
            # per user; the counted gate fails closed at scale), so the
            # 20 GD aggregates + the accuracy pass run on ONE Arrow
            # collect in numpy instead of 21 sequential Spark jobs over
            # the cached frame (the jobs were pure scheduler latency at
            # sf0.1 — ~3 s for ~10k rows). Value-identical: the
            # per-iteration 9dp weight snap exists precisely to absorb
            # gradient summation-order/libm drift (it is what lets the
            # DuckDB oracle replay match), and the numpy mean/exp sit
            # inside the same drift class; tests/test_sizing.py pins
            # both branches to the same rows.
            import numpy as np

            t = feats.toArrow()
            x1, x2, yv = (
                t.column(c).to_numpy().astype(np.float64)
                for c in ("x1", "x2", "y")
            )
            for _ in range(LOGREG_ITERS):
                p = 1.0 / (1.0 + np.exp(-(w0 + w1 * x1 + w2 * x2)))
                d = p - yv
                w0 = snap9(w0 - LOGREG_LR * float(np.mean(d)))
                w1 = snap9(w1 - LOGREG_LR * float(np.mean(d * x1)))
                w2 = snap9(w2 - LOGREG_LR * float(np.mean(d * x2)))
            zv = w0 + w1 * x1 + w2 * x2
            acc = float(
                np.mean((zv > 0).astype(np.int64) == yv.astype(np.int64))
            )
        else:
            for _ in range(LOGREG_ITERS):
                z = (
                    F.lit(w0)
                    + F.lit(w1) * F.col("x1")
                    + F.lit(w2) * F.col("x2")
                )
                p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
                g = feats.agg(
                    F.avg(p - F.col("y")).alias("g0"),
                    F.avg((p - F.col("y")) * F.col("x1")).alias("g1"),
                    F.avg((p - F.col("y")) * F.col("x2")).alias("g2"),
                ).collect()[0]
                w0 = snap9(w0 - LOGREG_LR * g["g0"])
                w1 = snap9(w1 - LOGREG_LR * g["g1"])
                w2 = snap9(w2 - LOGREG_LR * g["g2"])
            z = F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
            acc = feats.agg(
                F.avg(
                    (
                        (
                            (z > 0).cast("int") == F.col("y").cast("int")
                        ).cast("double")
                    )
                ).alias("acc")
            ).collect()[0]["acc"]
    finally:
        # any failure in the GD collect loop must not leak the cached
        # frame for the session's lifetime
        feats.unpersist()
    return local_frame(
        spark,
        [
            (
                int(n),
                snap6(w0),
                snap6(w1),
                snap6(w2),
                snap6(acc),
            )
        ],
        "n bigint, w0 double, w1 double, w2 double, train_acc double",
    )


# ---------------------------------------------------------------------------
# R91: within-group quantile normalization
# ---------------------------------------------------------------------------


@register(
    "quantile_normalize_spend",
    sql="""
    WITH spend AS (
      SELECT c.c_custkey, c.c_mktsegment,
             round(sum(o.o_totalprice), 2) AS spend
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    )
    SELECT c_custkey, c_mktsegment, spend,
           round(percent_rank() OVER (PARTITION BY c_mktsegment
                                      ORDER BY spend), 6) AS q
    FROM spend
    """,
)
def quantile_normalize_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group quantile normalization: map each customer's total
    spend to its percent-rank inside its market segment — the
    uniformizing transform used to make heavy-tailed features
    comparable across strata before mixing/sampling. Spend is rounded
    to 2dp BEFORE ranking on both engines (the repo's pre-rank
    rounding idiom) so summation-order noise cannot reorder ties.
    The window is PARTITIONED by segment — each segment ranks in its
    own tasks; no single-task global window. At 100 TB a segment's
    rows must fit a partition's sort spill budget, which holds for
    any bounded-cardinality stratification key."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    spend = (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("spend")
    return spend.select(
        "c_custkey",
        "c_mktsegment",
        "spend",
        F.round(F.percent_rank().over(w), 6).alias("q"),
    )


# ---------------------------------------------------------------------------
# R92: DoReMi-style source mixing weights
# ---------------------------------------------------------------------------

DOREMI_T = 0.5  # softmax temperature


@register(
    "doremi_source_weights",
    sql=rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM vocab),
    lp AS (
      SELECT tok.doc_id,
             round(avg(ln(vocab.tf / CAST(tot.n AS DOUBLE))), 6) AS lp
      FROM tok JOIN vocab ON tok.t = vocab.t CROSS JOIN tot
      GROUP BY tok.doc_id
    ),
    src AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             round(avg(l.lp), 6) AS score
      FROM documents d JOIN lp l USING (doc_id)
      GROUP BY d.source
    ),
    z AS (SELECT sum(exp(score / {DOREMI_T})) AS z FROM src)
    SELECT s.source, s.n_docs, s.score,
           round(exp(s.score / {DOREMI_T}) / z.z, 6) AS weight
    FROM src s CROSS JOIN z
    """,
)
def doremi_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reweighting in the DoReMi style (Xie et al. 2305.10429):
    score each SOURCE by its average unigram-LM log-prob (the offline
    proxy for per-domain excess loss) and turn scores into sampling
    weights with a temperature-T softmax. The corpus pass is the
    two-shuffle unigram scorer; after the per-source aggregate the
    frame is |sources| rows, so the softmax normalizer is a 1-row
    broadcast. Per-doc and per-source scores are rounded on BOTH
    engines before exp(), so the weights are bit-identical."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(ws_tokens(F.lower("text"))).alias("t"))
    vocab = tok.groupBy("t").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("n"))
    lp = (
        tok.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("tf") / F.col("n").cast("double"))), 6
            ).alias("lp")
        )
    )
    src = (
        docs.select("doc_id", "source")
        .join(lp, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("lp"), 6).alias("score"),
        )
    )
    z = src.agg(F.sum(F.exp(F.col("score") / DOREMI_T)).alias("z"))
    return src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "score",
        F.round(F.exp(F.col("score") / DOREMI_T) / F.col("z"), 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# R93: rolling 7-day distinct active users
# ---------------------------------------------------------------------------


@register(
    "rolling_7day_active_users",
    sql="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    cal AS (SELECT DISTINCT day FROM du),
    contrib AS (
      SELECT DISTINCT du.day + CAST(k.k AS INTEGER) AS w, du.user_id
      FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) k
    )
    SELECT c.w AS day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_7d
    FROM contrib c JOIN cal ON c.w = cal.day
    GROUP BY c.w
    """,
)
def rolling_7day_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the windowed
    COUNT(DISTINCT) that naive SQL writes as a self-join or an
    unbounded RANGE window. Here each distinct (day, user) pair
    CONTRIBUTES itself to the 7 window-end days it falls in (a
    map-only explode of 7 offsets), then one distinct-aggregate per
    (window_day, user) pair — shuffle keys are (date, user_id), never
    a per-day user list. The calendar semi-join (broadcast,
    day-count-sized) drops window ends past the observed range. At
    100 TB this is 7x the distinct-pair shuffle — linear, skew-free,
    and partitionable, whereas Spark's window functions cannot express
    a rolling COUNT(DISTINCT) at all, and the self-join formulation
    (days x 7-day spans) re-reads the pair set per window end."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    cal = du.select("day").distinct()
    contrib = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
            "day",
            "user_id",
        )
        .select(F.date_add("day", F.col("k")).alias("w"), "user_id")
        .distinct()
    )
    return (
        contrib.join(
            F.broadcast(cal.withColumnRenamed("day", "w")), "w"
        )
        .groupBy(F.col("w").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_7d"))
    )


# ---------------------------------------------------------------------------
# R94: reciprocal rank fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al.)


@register(
    "rrf_customer_rankings",
    sql=f"""
    WITH spend AS (
      SELECT o_custkey AS c, round(sum(o_totalprice), 2) AS spend,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c,
             rank() OVER (ORDER BY spend DESC, c) AS r_spend,
             rank() OVER (ORDER BY last_order DESC, c) AS r_recent
      FROM spend
    ),
    fused AS (
      SELECT c, r_spend, r_recent,
             round(1.0 / ({RRF_K} + r_spend)
                   + 1.0 / ({RRF_K} + r_recent), 6) AS rrf
      FROM ranked
    )
    SELECT c AS c_custkey, r_spend, r_recent, rrf
    FROM fused
    ORDER BY rrf DESC, c_custkey
    LIMIT 100
    """,
)
def rrf_customer_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al., SIGIR'09) of two
    independent rankings — by lifetime spend and by recency — into
    one top-100: score = Σ 1/(k + rank_i), the standard way to merge
    retrieval lists (BM25 + dense) without score calibration. Both
    ranks come from the repo's two-phase distributed row-number
    (prefix.global_row_number: range shuffle + local window + O(P)
    offsets — never a single-task global window), over the TOTAL
    order (metric desc, custkey asc) so ties are deterministic and
    rank() == row_number() on both engines. The final top-100 is a
    bounded TakeOrderedAndProject."""
    from zoom_spark.operators.prefix import global_row_number

    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
        F.max("o_orderdate").alias("last_order"),
    ).withColumn("neg_spend", -F.col("spend")).withColumn(
        "neg_days",
        -F.datediff(F.col("last_order"), F.lit("1970-01-01").cast("date")),
    )
    ranked = global_row_number(spend, ["neg_spend", "c"], "r_spend")
    ranked = global_row_number(ranked, ["neg_days", "c"], "r_recent")
    fused = ranked.select(
        "c",
        "r_spend",
        "r_recent",
        F.round(
            1.0 / (RRF_K + F.col("r_spend")) + 1.0 / (RRF_K + F.col("r_recent")),
            6,
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("c"))
        .limit(100)
        .select(F.col("c").alias("c_custkey"), "r_spend", "r_recent", "rrf")
    )


# ---------------------------------------------------------------------------
# R95: eventually-follows sequential patterns
# ---------------------------------------------------------------------------

EF_MIN_USERS = 50  # report pairs supported by at least this many users


@register(
    "eventually_follows_pairs",
    sql=f"""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_first,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_last
      FROM events
    ),
    firsts AS (SELECT user_id, event_type AS t1, ts, event_id
               FROM ranked WHERE rn_first = 1),
    lasts AS (SELECT user_id, event_type AS t2, ts, event_id
              FROM ranked WHERE rn_last = 1),
    seq AS (
      SELECT f.user_id, f.t1, l.t2
      FROM firsts f JOIN lasts l ON f.user_id = l.user_id
      WHERE f.t1 <> l.t2
        AND (f.ts < l.ts OR (f.ts = l.ts AND f.event_id < l.event_id))
    ),
    users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events)
    SELECT s.t1, s.t2,
           CAST(count(*) AS BIGINT) AS n_users_pair,
           round(count(*) * 1.0 / u.n_users, 6) AS support
    FROM seq s CROSS JOIN users u
    GROUP BY s.t1, s.t2, u.n_users
    HAVING count(*) >= {EF_MIN_USERS}
    """,
)
def eventually_follows_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential 2-patterns with "eventually follows" semantics (the
    process-mining / PrefixSpan-style relation): for how many users
    does event type A occur strictly before some later B?

    Exactness shortcut that kills the per-user quadratic join: "some A
    strictly before some B" holds iff the FIRST occurrence of A
    precedes the LAST occurrence of B (⇐ pick those two events; ⇒
    first(A) ≤ a < b ≤ last(B)). So the events stream reduces to one
    (user, type) frame carrying each type's first and last composite
    key — two partitioned windows on the SAME (user, type)
    partitioning, one shuffle — and the per-user join is
    |types|×|types|, not history×history. A user with a million
    events costs 25 join rows, not 10^12. Ties on ts break by
    event_id so both engines count the identical pair set. Unlike
    markov_transitions (adjacent steps only), this captures
    long-range ordering."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_last = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    firsts = ranked.where("rn_first = 1").select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.col("ts").alias("f_ts"),
        F.col("event_id").alias("f_eid"),
    )
    lasts = ranked.where("rn_last = 1").select(
        "user_id",
        F.col("event_type").alias("t2"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_eid"),
    )
    seq = (
        firsts.join(lasts, "user_id")
        .where(
            (F.col("t1") != F.col("t2"))
            & (
                (F.col("f_ts") < F.col("l_ts"))
                | (
                    (F.col("f_ts") == F.col("l_ts"))
                    & (F.col("f_eid") < F.col("l_eid"))
                )
            )
        )
        .select("user_id", "t1", "t2")
    )
    n_users = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    return (
        seq.crossJoin(F.broadcast(n_users))
        .groupBy("t1", "t2", "n_users")
        .agg(F.count("*").cast("bigint").alias("n_users_pair"))
        .where(F.col("n_users_pair") >= EF_MIN_USERS)
        .select(
            "t1",
            "t2",
            "n_users_pair",
            F.round(
                F.col("n_users_pair") * 1.0 / F.col("n_users"), 6
            ).alias("support"),
        )
    )


# ---------------------------------------------------------------------------
# R96: two-sample Kolmogorov-Smirnov test
# ---------------------------------------------------------------------------


@register(
    "ks_test_weekend_value",
    sql="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    pv AS (
      SELECT v,
             CAST(sum(grp) AS BIGINT) AS na,
             CAST(count(*) - sum(grp) AS BIGINT) AS nb
      FROM s GROUP BY v
    ),
    c AS (
      SELECT v,
             sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS ca,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb
      FROM pv
    ),
    tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                   CAST(sum(nb) AS BIGINT) AS n_b FROM pv),
    d AS (
      SELECT t.n_a, t.n_b,
             max(abs(c.ca * 1.0 / t.n_a - c.cb * 1.0 / t.n_b)) AS ks_d
      FROM c CROSS JOIN tot t GROUP BY t.n_a, t.n_b
    )
    SELECT n_a, n_b, round(ks_d, 6) AS ks_d,
           round(2 * exp(-2 * pow(round(ks_d, 6), 2)
                         * (n_a * n_b * 1.0 / (n_a + n_b))), 6) AS p_value
    FROM d
    """,
)
def ks_test_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (weekend vs weekday event
    values): D = sup |ECDF_a − ECDF_b|, with the asymptotic
    2·exp(−2D²·n_eff) p-value. Scores collapse to per-distinct-value
    (n_a, n_b) counts in one hash aggregate, then BOTH running counts
    come from the repo's two-phase distributed prefix-sum (two range
    passes — no single-task global window); the sup is one more
    aggregate. The p-value is computed from the 6dp-ROUNDED D on both
    engines, so exp() sees identical inputs. Same scale shape as the
    distributed AUC: everything after the first aggregate is
    distinct-value-sized."""
    from zoom_spark.operators.prefix import prefix_sum

    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        % 7
    ).cast("bigint")
    s = ev.select(
        F.col("value").alias("v"),
        F.when(wd.isin(5, 6), 1).otherwise(0).alias("grp"),
    )
    pv = s.groupBy("v").agg(
        F.sum("grp").cast("bigint").alias("na"),
        (F.count("*") - F.sum("grp")).cast("bigint").alias("nb"),
    )
    c = prefix_sum(pv, "v", ["na", "nb"], out_col=["ca", "cb"])  # merged: one two-phase scan for all running sums (r13)
    tot = pv.agg(
        F.sum("na").cast("bigint").alias("n_a"),
        F.sum("nb").cast("bigint").alias("n_b"),
    )
    d = (
        c.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("ca") * 1.0 / F.col("n_a")
                        - F.col("cb") * 1.0 / F.col("n_b")
                    )
                ),
                6,
            ).alias("ks_d")
        )
    )
    n_eff = F.col("n_a") * F.col("n_b") * 1.0 / (F.col("n_a") + F.col("n_b"))
    return d.select(
        "n_a",
        "n_b",
        "ks_d",
        F.round(2 * F.exp(-2 * F.pow(F.col("ks_d"), 2) * n_eff), 6).alias(
            "p_value"
        ),
    )


# ---------------------------------------------------------------------------
# R97: Neyman optimal stratified allocation
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000


@register(
    "neyman_allocation",
    sql=f"""
    WITH strata AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_h,
             round(stddev_samp(o_totalprice), 6) AS s_h
      FROM orders GROUP BY o_orderpriority
    ),
    z AS (SELECT sum(n_h * s_h) AS z FROM strata)
    SELECT s.o_orderpriority, s.n_h, s.s_h,
           CAST(round({NEYMAN_BUDGET} * s.n_h * s.s_h / z.z, 0) AS BIGINT)
             AS alloc
    FROM strata s CROSS JOIN z
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a {NEYMAN_BUDGET}-row sampling
    budget across strata: n_h ∝ N_h·S_h (stratum size × stddev), the
    design that minimizes the variance of the stratified mean — what
    a pipeline uses to audit-sample heterogeneous sources. One hash
    aggregate to |strata| rows; the normalizer is a 1-row broadcast.
    Stddevs are rounded on both engines BEFORE the allocation
    arithmetic, so the rounded integer allocations are identical."""
    od = load_table(spark, sf_dir, "orders")
    strata = od.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.round(F.stddev_samp("o_totalprice"), 6).alias("s_h"),
    )
    z = strata.agg(F.sum(F.col("n_h") * F.col("s_h")).alias("z"))
    return strata.crossJoin(F.broadcast(z)).select(
        "o_orderpriority",
        "n_h",
        "s_h",
        F.round(NEYMAN_BUDGET * F.col("n_h") * F.col("s_h") / F.col("z"), 0)
        .cast("bigint")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# R98: Benford first-digit audit
# ---------------------------------------------------------------------------


@register(
    "benford_first_digit",
    sql="""
    WITH digits AS (
      SELECT CAST(substring(printf('%.2f', o_totalprice), 1, 1) AS BIGINT)
               AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM counts)
    SELECT c.digit, c.n,
           round(c.n * 1.0 / t.n_tot, 6) AS obs_frac,
           round(log10(1.0 + 1.0 / c.digit), 6) AS benford_frac,
           round(pow(c.n * 1.0 / t.n_tot - log10(1.0 + 1.0 / c.digit), 2)
                 / log10(1.0 + 1.0 / c.digit) * t.n_tot, 6) AS chi2_part
    FROM counts c CROSS JOIN tot t
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the classic fraud / synthetic-data detector. The first digit is
    extracted from a fixed-precision printf rendering (identical
    string on both engines — no float-formatting divergence, no
    log10-at-power-of-ten boundary risk), reduced in one hash
    aggregate to ≤9 rows; expected Benford mass log10(1+1/d) and the
    per-digit chi-square contribution are scalar arithmetic on that
    tiny frame against a 1-row broadcast total."""
    od = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.format_string("%.2f", F.col("o_totalprice")), 1, 1
    ).cast("bigint")
    counts = (
        od.where(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("n_tot"))
    obs = F.col("n") * 1.0 / F.col("n_tot")
    exp_f = F.log10(1.0 + 1.0 / F.col("digit"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_frac"),
        F.round(exp_f, 6).alias("benford_frac"),
        F.round(F.pow(obs - exp_f, 2) / exp_f * F.col("n_tot"), 6).alias(
            "chi2_part"
        ),
    )


# ---------------------------------------------------------------------------
# R99: composed pretraining-corpus pipeline (round-5 flagship)
# ---------------------------------------------------------------------------


@register(
    "pretrain_corpus_pipeline",
    sql=rf"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws,
             doc_id % {DECON_MOD} = 0 AS is_test
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, is_test,
             md5(array_to_string(ws[t.i:t.i + {DECON_W - 1}], ' ')) AS sh
      FROM words
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {DECON_W - 1})) AS i
      ) t
      WHERE len(ws) >= {DECON_W}
    ),
    test_set AS (SELECT DISTINCT sh FROM shingles WHERE is_test),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM shingles s
      JOIN test_set ts USING (sh) WHERE NOT s.is_test
    ),
    wc AS (
      SELECT doc_id, w, count(*) AS c FROM (
        SELECT doc_id, unnest(ws) AS w FROM words WHERE NOT is_test
      ) GROUP BY doc_id, w
    ),
    gq AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_words,
             sum(length(w) * c) * 1.0 / sum(c) AS mwl,
             coalesce(sum(c) FILTER (WHERE w IN {STOPWORDS}), 0) * 1.0
               / sum(c) AS stop_frac,
             max(c) * 1.0 / sum(c) AS top_frac
      FROM wc GROUP BY doc_id
    ),
    kept AS (
      SELECT doc_id, n_words FROM gq
      WHERE n_words BETWEEN {GQ_MIN_WORDS} AND {GQ_MAX_WORDS}
        AND mwl >= {GQ_MIN_MWL} AND mwl <= {GQ_MAX_MWL}
        AND stop_frac >= {GQ_MIN_STOP} AND top_frac <= {GQ_MAX_TOP}
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS t
      FROM documents
    ),
    vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM vocab),
    lp AS (
      SELECT tok.doc_id,
             round(avg(ln(vocab.tf / CAST(tot.n AS DOUBLE))), 6) AS lp
      FROM tok JOIN vocab ON tok.t = vocab.t CROSS JOIN tot
      GROUP BY tok.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.source, l.lp FROM documents d JOIN lp l USING (doc_id)
    ),
    cuts AS (
      SELECT source, quantile_cont(lp, 0.33) AS t33
      FROM scored GROUP BY source
    ),
    final AS (
      SELECT s.source, k.n_words
      FROM kept k
      JOIN scored s USING (doc_id)
      JOIN cuts c USING (source)
      WHERE s.lp >= c.t33
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens,
           round(count(*) * 1.0
                 / (SELECT count(*) FROM final), 6) AS doc_share
    FROM final GROUP BY source
    """,
)
def pretrain_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 curation flagship, composed end-to-end from this
    module's gated stages: (1) benchmark DECONTAMINATION drops train
    docs sharing an 8-gram with the held-out split, (2) GOPHER
    heuristic gates drop low-quality docs, (3) CCNET keeps only each
    source's head+middle perplexity tiers (lp >= its own p33), then
    the survivors aggregate to a per-source dataset card (doc count,
    token count, share). Every stage is the same plan shape its
    standalone gated query runs — shingle hashing, the two-aggregate
    quality pass, the two-shuffle unigram LM, broadcast cuts — so the
    composition adds joins on doc_id but no new shuffle classes. The
    doc-share normalizer is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    decon = decontaminate_ngram_overlap(spark, sf_dir).where(
        F.col("contaminated") == 0
    )
    gq = gopher_quality_flags(spark, sf_dir).where(F.col("keep") == 1)
    buckets = ccnet_perplexity_buckets(spark, sf_dir).where(
        F.col("bucket").isin("head", "middle")
    )
    final = (
        decon.select("doc_id")
        .join(gq.select("doc_id", "n_words"), "doc_id")
        .join(buckets.select("doc_id", "source"), "doc_id")
    )
    tot = final.agg(F.count("*").alias("n_final"))
    return (
        final.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") * 1.0 / F.col("n_final"), 6).alias(
                "doc_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# R100: exponentially weighted moving average (recency-weighted value)
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.2


@register(
    "ewma_user_value",
    sql=f"""
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) - 1 AS r
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * pow(1.0 - {EWMA_ALPHA}, r))
                 / sum(pow(1.0 - {EWMA_ALPHA}, r)), 6) AS ewma
    FROM ordered GROUP BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted (EWMA, adjust-style) mean event value per
    user: weight (1−α)^r for the r-th most recent event, normalized —
    pandas' ewm(alpha={EWMA_ALPHA}, adjust=True).mean() final value,
    the standard freshness-decayed engagement metric. One
    user-PARTITIONED window (descending row_number — partitioned, so
    no single-task sort) then one hash aggregate; the geometric
    weights are computed identically from the integer rank on both
    engines, so parity holds at 6dp. Weight magnitude is bounded by
    1, so no overflow for arbitrarily long histories."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ordered = ev.select(
        "user_id", "value", (F.row_number().over(w) - 1).alias("r")
    )
    decay = F.pow(F.lit(1.0 - EWMA_ALPHA), F.col("r"))
    return ordered.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value") * decay) / F.sum(decay), 6).alias(
            "ewma"
        ),
    )


# ---------------------------------------------------------------------------
# R101: CUSUM change-point detection
# ---------------------------------------------------------------------------


@register(
    "cusum_changepoint_revenue",
    sql="""
    WITH daily AS (
      SELECT o_orderdate AS day, round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY o_orderdate
    ),
    m AS (SELECT avg(rev) AS mu, CAST(count(*) AS BIGINT) AS n_days
          FROM daily),
    c AS (
      SELECT d.day,
             sum(d.rev - m.mu) OVER (ORDER BY d.day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS s,
             m.n_days
      FROM daily d CROSS JOIN m
    )
    SELECT day AS changepoint_day, n_days,
           round(abs(s), 4) AS max_abs_cusum
    FROM c
    ORDER BY abs(s) DESC, day LIMIT 1
    """,
)
def cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily revenue: the day t
    maximizing |Σ_{i≤t}(x_i − mean)| is the most likely mean-shift
    point (Page's cumulative-sum statistic). Daily revenue is rounded
    to 2dp BEFORE differencing on both engines. The running sum uses
    the repo's two-phase distributed prefix scan — but note the
    CUSUM prefix here is over DOUBLES, so instead of prefix_sum
    (bigint offsets) the day-level pre-aggregate (calendar-bounded,
    ~2.4k rows at any SF) runs through one windowed pass whose input
    is constant-sized; the argmax is a bounded TakeOrdered(1)."""
    od = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    daily = od.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    m = daily.agg(
        F.avg("rev").alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        daily.crossJoin(F.broadcast(m))
        .withColumn("s", F.sum(F.col("rev") - F.col("mu")).over(w))
    )
    return (
        c.orderBy(F.abs(F.col("s")).desc(), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            "n_days",
            F.round(F.abs(F.col("s")), 4).alias("max_abs_cusum"),
        )
    )


# ---------------------------------------------------------------------------
# R104: isotonic (PAV) calibration per group
# ---------------------------------------------------------------------------

ISO_BUCKET_W = 10.0  # score-bucket width for the calibration curve


@register(
    "isotonic_calibration",
    sql=f"""
    WITH base AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS grp,
             floor(value / {ISO_BUCKET_W}) * {ISO_BUCKET_W} AS bucket,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    agg AS (
      SELECT grp, bucket,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(y) AS BIGINT) AS sy
      FROM base GROUP BY grp, bucket
    ),
    ord AS (
      SELECT *, row_number() OVER (PARTITION BY grp ORDER BY bucket) AS i
      FROM agg
    ),
    pre AS (
      SELECT grp, i, bucket, w, sy,
             sum(w) OVER (PARTITION BY grp ORDER BY i) AS cw,
             sum(sy) OVER (PARTITION BY grp ORDER BY i) AS cy
      FROM ord
    ),
    -- weighted mean of every contiguous bucket run [j..k]
    seg AS (
      SELECT a.grp, a.i AS j, b.i AS k,
             CAST(b.cy - a.cy + a.sy AS DOUBLE)
               / CAST(b.cw - a.cw + a.w AS DOUBLE) AS v
      FROM pre a JOIN pre b ON a.grp = b.grp AND a.i <= b.i
    ),
    -- isotonic solution via the minimax theorem:
    -- fitted_i = max over j<=i of ( min over k>=i of mean(j..k) )
    mn AS (
      SELECT s.grp, p.i, s.j, min(s.v) AS mv
      FROM seg s JOIN pre p
        ON s.grp = p.grp AND s.j <= p.i AND s.k >= p.i
      GROUP BY s.grp, p.i, s.j
    ),
    fit AS (SELECT grp, i, max(mv) AS fitted FROM mn GROUP BY grp, i)
    SELECT o.grp, o.bucket, o.w AS n,
           floor(CAST(o.sy AS DOUBLE) / CAST(o.w AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS raw_rate,
           floor(f.fitted * 1e6 + 0.5) / 1e6 AS calibrated
    FROM ord o JOIN fit f ON o.grp = f.grp AND o.i = f.i
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration curves (pool-adjacent-violators) of
    purchase rate as a function of the `value` score, fitted per
    event-type-parity group: the monotone regression used to
    calibrate ranker/classifier scores into probabilities. The raw
    stream first collapses to (group, bucket) conversion aggregates —
    one hash aggregate, calibration-curve-sized — then PAV runs
    inside applyInPandas per GROUP: genuinely sequential, but over
    ≤ #buckets rows per group, which is the textbook grouped-map
    case (group-local state, Arrow-batched, no driver involvement).
    Weighted PAV: pooling merges buckets by event weight, so the fit
    equals sklearn's IsotonicRegression on the bucket means.

    Oracle-hashed since round 9 via the minimax characterization
    (fitted_i = max_{{j<=i}} min_{{k>=i}} weightedMean(j..k)), which the
    DuckDB oracle evaluates over all O(n^3) (j, i, k) triples of the
    calibration-curve-sized bucket frame.  Engine/oracle bit-parity
    holds because every pooled value is ONE IEEE division of exact
    integer sums (purchases / events — the PAV stack pools (sy, w)
    pairs, never incremental averages), distinct such rationals with
    denominators <= |events| are separated by >> 1 ulp, and both
    sides snap with the shared floor(x*1e6+0.5) spelling.  The test
    referee stays the independent O(n^2) re-pooling implementation."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 2).cast("int").alias("grp"),
        (F.floor(F.col("value") / ISO_BUCKET_W) * ISO_BUCKET_W).alias(
            "bucket"
        ),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    agg = base.groupBy("grp", "bucket").agg(
        F.count("*").cast("double").alias("w"),
        F.sum("y").alias("sy"),
    )

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        # stack-based weighted PAV pooling EXACT integer sums
        # (purchase count, event count); a block's value is the one
        # division sy/w, so it equals the oracle's prefix-difference
        # ratio bitwise
        sys_, wts, idx = [], [], []
        for _, row in pdf.iterrows():
            sy, w, n = float(row["sy"]), float(row["w"]), 1
            while sys_ and sys_[-1] * w > sy * wts[-1]:
                # previous block mean > current (cross-multiplied:
                # integral doubles, exact) -> pool
                sy += sys_.pop()
                w += wts.pop()
                n += idx.pop()
            sys_.append(sy)
            wts.append(w)
            idx.append(n)
        fitted = []
        for sy, w, n in zip(sys_, wts, idx):
            fitted.extend([sy / w] * n)
        out = pdf[["grp", "bucket", "w", "sy"]].copy()
        out["calibrated"] = fitted
        return out

    schema = (
        "grp int, bucket double, w double, sy double, calibrated double"
    )
    snap = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        agg.groupBy("grp")
        .applyInPandas(pav, schema=schema)
        .select(
            "grp",
            "bucket",
            F.col("w").cast("bigint").alias("n"),
            snap(F.col("sy") / F.col("w")).alias("raw_rate"),
            snap(F.col("calibrated")).alias("calibrated"),
        )
    )


# ---------------------------------------------------------------------------
# R105: stratified k-fold assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5


@register(
    "stratified_kfold_docs",
    sql=f"""
    WITH hashed AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1
               AS rn
      FROM hashed
    ),
    folds AS (
      SELECT doc_id, source, CAST(rn % {KFOLD_K} AS INTEGER) AS fold
      FROM ranked
    )
    SELECT source, fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM folds GROUP BY source, fold
    """,
)
def stratified_kfold_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified {KFOLD_K}-fold cross-validation assignment:
    documents are shuffled deterministically WITHIN each source (md5
    rank — the repo's hash-randomness idiom, so a doc's fold is
    reproducible run-to-run) and dealt round-robin, guaranteeing each
    fold holds n_h/{KFOLD_K} ± 1 docs of EVERY stratum — the property
    plain random splitting only has in expectation. One
    source-PARTITIONED window (no single-task sort; a stratum's rows
    sort within its partition) then a fold-count audit aggregate.
    The per-doc assignment frame is the reusable intermediate; the
    output here is the audit card (per-stratum fold sizes + a
    determinism witness column)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    folds = hashed.select(
        "doc_id",
        "source",
        ((F.row_number().over(w) - 1) % KFOLD_K).cast("int").alias("fold"),
    )
    return folds.groupBy("source", "fold").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# R106: NDCG@k ranking quality
# ---------------------------------------------------------------------------

NDCG_K = 5


@register(
    "ndcg_value_ranking",
    sql=f"""
    WITH ranked AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS pos
      FROM events
    ),
    ideal AS (
      SELECT user_id, rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY rel DESC, event_id) AS pos
      FROM (SELECT user_id, event_id,
                   CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
                     AS rel FROM events)
    ),
    dcg AS (
      SELECT user_id, sum(rel / log2(pos + 1)) AS dcg
      FROM ranked WHERE pos <= {NDCG_K} GROUP BY user_id
    ),
    idcg AS (
      SELECT user_id, sum(rel / log2(pos + 1)) AS idcg
      FROM ideal WHERE pos <= {NDCG_K} GROUP BY user_id
    ),
    per_user AS (
      SELECT d.user_id,
             CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg END AS ndcg
      FROM dcg d JOIN idcg i USING (user_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(ndcg) AS BIGINT) AS n_scored,
           round(avg(ndcg), 6) AS mean_ndcg
    FROM per_user
    """,
)
def ndcg_value_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} of `value` as a per-user ranking score against
    purchase relevance — the standard graded retrieval-quality metric
    (complements the corpus-level AUC with a per-query/top-k view).
    Two user-PARTITIONED windows (actual order by score, ideal order
    by relevance; deterministic event_id tie-breaks) feed
    position-discounted sums; users with no relevant event have
    IDCG=0 and are excluded from the mean (reported separately in
    n_scored). All windows partition by user_id — no single-task
    sort anywhere; the final frame is one row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    rel = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    base = ev.select("user_id", "event_id", "value", rel.alias("rel"))
    w_act = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.desc("rel"), F.asc("event_id")
    )
    disc = lambda pos: F.col("rel") / F.log2(pos + 1)  # noqa: E731
    dcg = (
        base.withColumn("pos", F.row_number().over(w_act))
        .where(F.col("pos") <= NDCG_K)
        .groupBy("user_id")
        .agg(F.sum(disc(F.col("pos"))).alias("dcg"))
    )
    idcg = (
        base.withColumn("pos", F.row_number().over(w_ideal))
        .where(F.col("pos") <= NDCG_K)
        .groupBy("user_id")
        .agg(F.sum(disc(F.col("pos"))).alias("idcg"))
    )
    per_user = dcg.join(idcg, "user_id").select(
        "user_id",
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).alias(
            "ndcg"
        ),
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("ndcg").cast("bigint").alias("n_scored"),
        F.round(F.avg("ndcg"), 6).alias("mean_ndcg"),
    )


# ---------------------------------------------------------------------------
# R107: pairwise source-vocabulary Jaccard matrix
# ---------------------------------------------------------------------------


@register(
    "source_vocab_jaccard",
    sql="""
    WITH sv AS (
      SELECT DISTINCT source, w FROM (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      )
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sv
              GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.s1, i.s2, i.n_inter, za.n AS n1, zb.n AS n2,
           round(i.n_inter * 1.0 / (za.n + zb.n - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON i.s1 = za.source
    JOIN sizes zb ON i.s2 = zb.source
    """,
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-level
    domain-similarity matrix that guides mixing/dedup decisions (which
    domains overlap enough to cross-deduplicate?). The (source, token)
    distinct frame is vocabulary-sized; the pair intersection is a
    SELF-EQUI-JOIN ON TOKEN (each token contributes |sources-with-it|²
    pairs — bounded by the source count squared, NOT corpus size), and
    the |sources|² result joins two broadcast size frames. No
    doc-level or corpus-level quadratic anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    sv = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("w"),
    ).distinct()
    sizes = sv.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a, b = sv.alias("a"), sv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "s1").withColumnRenamed("n", "n1")),
            "s1",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "s2").withColumnRenamed("n", "n2")),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "n_inter",
            "n1",
            "n2",
            F.round(
                F.col("n_inter")
                * 1.0
                / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# R108: compression-ratio quality signal
# ---------------------------------------------------------------------------


@register("compression_ratio_quality")  # zlib not in DuckDB SQL: rows-only
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: zlib-deflate each document
    and report compressed/raw byte ratio — the classic cheap detector
    for boilerplate and machine-generated repetition (highly
    compressible ⇒ low-entropy text; used alongside the Gopher gates
    in production curation). Runs as one Arrow-batched mapInPandas
    over the text column (zlib is stdlib and deterministic at a fixed
    level, so the output is reproducible cross-platform); map-only,
    no shuffle until the final per-source rollup. Rows-only gate
    (DuckDB has no deflate); the pytest referee recomputes ratios
    with an independent direct zlib call and checks the repetition
    ordering property (repeated text compresses harder than unique
    text)."""
    import zlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")

    def ratios(batches):
        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "raw_bytes": raw.map(len),
                    "comp_bytes": comp,
                }
            )

    per_doc = docs.select("doc_id", "source", "text").mapInPandas(
        ratios, schema="doc_id long, source string, raw_bytes long, comp_bytes long"
    )
    return per_doc.select(
        "doc_id",
        "source",
        "raw_bytes",
        "comp_bytes",
        F.round(F.col("comp_bytes") / F.col("raw_bytes"), 6).alias("ratio"),
    )


# ---------------------------------------------------------------------------
# R109: population stability index (PSI) drift
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10


@register(
    "psi_value_drift",
    sql=f"""
    WITH labeled AS (
      SELECT value AS v,
             CASE WHEN CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    edges AS (
      SELECT quantile_cont(v, [{", ".join(str((i + 1) / PSI_BUCKETS) for i in range(PSI_BUCKETS - 1))}]) AS qs
      FROM labeled WHERE grp = 0
    ),
    bucketed AS (
      SELECT grp,
             (SELECT count(*) FROM unnest(e.qs) AS t(q) WHERE l.v > q)
               AS bucket
      FROM labeled l CROSS JOIN edges e
    ),
    counts AS (
      SELECT bucket,
             CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS n_ref,
             CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS n_cur
      FROM bucketed GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                   CAST(sum(n_cur) AS BIGINT) AS t_cur FROM counts),
    parts AS (
      SELECT c.bucket,
             round(c.n_ref * 1.0 / t.t_ref, 6) AS p_ref,
             round(c.n_cur * 1.0 / t.t_cur, 6) AS p_cur
      FROM counts c CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           round(sum(CASE WHEN p_ref > 0 AND p_cur > 0
                          THEN (p_cur - p_ref) * ln(p_cur / p_ref)
                          ELSE 0 END), 6) AS psi
    FROM parts
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the weekday (reference) and
    weekend (current) value distributions — the ML-ops drift metric:
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) over reference-decile
    buckets (<0.1 stable, >0.25 shifted). Decile edges come from ONE
    exact-percentile aggregate over the reference sample (9 doubles,
    broadcast); bucketing is arithmetic against those broadcast edges
    (count of edges below v — identical integer semantics both
    engines); bucket shares are ROUNDED before the log on both sides
    so the transcendental sees identical inputs. Empty-side buckets
    contribute 0 (the standard continuity convention)."""
    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        % 7
    ).cast("bigint")
    labeled = ev.select(
        F.col("value").alias("v"),
        F.when(wd.isin(5, 6), 1).otherwise(0).alias("grp"),
    )
    qs = [ (i + 1) / PSI_BUCKETS for i in range(PSI_BUCKETS - 1) ]
    edges_row = (
        labeled.where("grp = 0")
        .agg(F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("qs"))
        .collect()[0]["qs"]
    )
    bucket = sum(
        (F.col("v") > F.lit(float(e))).cast("int") for e in edges_row
    )
    counts = labeled.select("grp", bucket.alias("bucket")).groupBy(
        "bucket"
    ).agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    parts = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(F.col("n_ref") * 1.0 / F.col("t_ref"), 6).alias("p_ref"),
        F.round(F.col("n_cur") * 1.0 / F.col("t_cur"), 6).alias("p_cur"),
    )
    term = F.when(
        (F.col("p_ref") > 0) & (F.col("p_cur") > 0),
        (F.col("p_cur") - F.col("p_ref"))
        * F.log(F.col("p_cur") / F.col("p_ref")),
    ).otherwise(0.0)
    return parts.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.round(F.sum(term), 6).alias("psi"),
    )


# ---------------------------------------------------------------------------
# R110: corpus diversity card
# ---------------------------------------------------------------------------


@register(
    "corpus_diversity_card",
    sql="""
    WITH shares AS (
      SELECT source, round(count(*) * 1.0
             / (SELECT count(*) FROM documents), 6) AS p
      FROM documents GROUP BY source
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           round(-sum(p * ln(p)), 6) AS shannon_nats,
           round(exp(-sum(p * ln(p))), 4) AS effective_sources,
           round(1.0 / sum(p * p), 4) AS inv_simpson
    FROM shares WHERE p > 0
    """,
)
def corpus_diversity_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card diversity summary over source shares: Shannon
    entropy (nats), effective source count exp(H) — the "how many
    equally-sized domains is this mixture worth" number reported on
    dataset cards — and inverse Simpson (the collision-probability
    view). One hash aggregate to |sources| rows; shares are rounded
    before the transcendental on both engines. Uniform 20-source
    fixtures should read ≈20 effective sources; a skewed mixture
    reads lower, which is exactly what the temperature-mixing
    operators are tuned against."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.count()
    shares = (
        docs.groupBy("source")
        .agg(F.round(F.count("*") * 1.0 / F.lit(tot), 6).alias("p"))
        .where(F.col("p") > 0)
    )
    h = -F.sum(F.col("p") * F.log(F.col("p")))
    return shares.agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.round(h, 6).alias("shannon_nats"),
        F.round(F.exp(h), 4).alias("effective_sources"),
        F.round(1.0 / F.sum(F.col("p") * F.col("p")), 4).alias(
            "inv_simpson"
        ),
    )


# ---------------------------------------------------------------------------
# R111: asymmetric containment near-dup (RefinedWeb-style)
# ---------------------------------------------------------------------------

CONT_W = 8       # shingle width (words)
CONT_MIN = 0.5   # report containment >= this


@register(
    "containment_neardup_pairs",
    sql=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
             text || ' appended tail marker words' AS text
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id,
             md5(array_to_string(ws[t.i:t.i + {CONT_W - 1}], ' ')) AS sh
      FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM corpus
      )
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {CONT_W - 1})) AS i
      ) t
      WHERE len(ws) >= {CONT_W}
    ),
    sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id <> b.id
      GROUP BY a.id, b.id
    )
    SELECT s.id_a, s.id_b, s.n_shared, za.n AS n_a,
           round(s.n_shared * 1.0 / za.n, 6) AS containment
    FROM shared s JOIN sizes za ON s.id_a = za.id
    WHERE s.n_shared * 1.0 / za.n >= {CONT_MIN}
    """,
)
def containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup detection (the RefinedWeb /
    subset-duplication rule Jaccard misses): containment(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|, so a document fully
    embedded in a longer one scores 1.0 in that direction even though
    symmetric Jaccard is low. The planted doubled corpus (each doc +
    a clone with an appended tail) pins exactly this asymmetry:
    orig→clone containment is 1.0, clone→orig is < 1. Candidates come
    from the inverted shingle index (posting-list self-equi-join on
    the md5 8-gram hash — fanout bounded by per-shingle document
    frequency, which is tiny for 8-grams by construction; never a
    doc×doc join); sizes join back broadcast-shaped. Both directions
    of a pair are reported independently."""
    docs = load_table(spark, sf_dir, "documents")
    # clone-id offset derived from the data (max+1) so planted clone
    # ids can never collide with real doc ids at any SF; the oracle
    # SQL derives the same offset with a scalar subquery
    cont_offset = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    corpus = docs.select("doc_id", "text").unionAll(
        docs.select(
            (F.col("doc_id") + F.lit(cont_offset)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended tail marker words")).alias(
                "text"
            ),
        )
    )
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    sh = (
        corpus.select(F.col("doc_id").alias("id"), ws.alias("ws"))
        .where(F.size("ws") >= CONT_W)
        .select(
            "id",
            F.explode(
                F.sequence(F.lit(1), F.size("ws") - (CONT_W - 1), F.lit(1))
            ).alias("i"),
            "ws",
        )
        .select(
            "id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), CONT_W))
            ).alias("sh"),
        )
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").cast("bigint").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"),
            "id_a",
        )
        .where(F.col("n_shared") * 1.0 / F.col("n_a") >= CONT_MIN)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            F.round(F.col("n_shared") * 1.0 / F.col("n_a"), 6).alias(
                "containment"
            ),
        )
    )


# ---------------------------------------------------------------------------
# R112: mean reciprocal rank
# ---------------------------------------------------------------------------


@register(
    "mrr_value_ranking",
    sql="""
    WITH ranked AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS pos
      FROM events
    ),
    firstrel AS (
      SELECT user_id, min(pos) AS first_pos
      FROM ranked WHERE rel = 1 GROUP BY user_id
    ),
    allu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             FROM events)
    SELECT a.n_users,
           CAST(count(*) AS BIGINT) AS n_with_relevant,
           round(sum(1.0 / f.first_pos) / a.n_users, 6) AS mrr
    FROM firstrel f CROSS JOIN allu a
    GROUP BY a.n_users
    """,
)
def mrr_value_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first purchase under the
    value-descending per-user ranking — the retrieval metric for
    "how high does the first relevant result sit", complementing
    NDCG's graded view. One user-PARTITIONED window, a min-aggregate
    for the first relevant position, and the conventional zero
    contribution for users with no relevant event (they divide the
    mean but add nothing). Deterministic event_id tie-breaks keep
    both engines on the identical permutation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    ranked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "rel"
        ),
        F.row_number().over(w).alias("pos"),
    )
    firstrel = (
        ranked.where("rel = 1")
        .groupBy("user_id")
        .agg(F.min("pos").alias("first_pos"))
    )
    allu = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    return (
        firstrel.crossJoin(F.broadcast(allu))
        .groupBy("n_users")
        .agg(
            F.count("*").cast("bigint").alias("n_with_relevant"),
            F.round(F.sum(1.0 / F.col("first_pos")) / F.col("n_users"), 6).alias(
                "mrr"
            ),
        )
        .select("n_users", "n_with_relevant", "mrr")
    )


# ---------------------------------------------------------------------------
# R113: vocabulary coverage curve
# ---------------------------------------------------------------------------

VOCAB_COVERAGE_TARGETS = (0.5, 0.9, 0.99)


@register(
    "vocab_coverage_sizes",
    sql=f"""
    WITH tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    ),
    ranked AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, w) AS rnk,
             sum(tf) OVER (ORDER BY tf DESC, w
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
      FROM tf
    ),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS v FROM tf)
    SELECT t.v AS vocab_size, t.t AS total_tokens,
           {", ".join(
               f"CAST(min(CASE WHEN r.cum >= {q} * t.t THEN r.rnk END) "
               f"AS BIGINT) AS k_{int(q * 100)}"
               for q in VOCAB_COVERAGE_TARGETS
           )}
    FROM ranked r CROSS JOIN tot t
    GROUP BY t.v, t.t
    """,
)
def vocab_coverage_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary truncation sizing: the smallest top-k (by corpus
    frequency) that covers 50/90/99% of all token occurrences — the
    number a tokenizer/vocab designer reads off the Zipf curve. The
    corpus collapses to the vocabulary frame in one token shuffle;
    the rank and running mass over (tf DESC, token) come from the
    repo's two-phase distributed scan primitives (global_row_number +
    prefix_sum — range shuffle, per-partition window, O(P) driver
    offsets, NO single-task global window); each coverage knee is a
    conditional-min aggregate against the 1-row broadcast total."""
    from zoom_spark.operators.prefix import global_row_number, prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .withColumn("neg_tf", -F.col("tf"))
    )
    ranked = global_row_number(tf, ["neg_tf", "w"], "rnk")
    # prefix_sum needs a unique numeric order col: rnk is exactly that
    ranked = prefix_sum(ranked, "rnk", "tf", out_col="cum")
    tot = tf.agg(
        F.sum("tf").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("v"),
    )
    knees = [
        F.min(
            F.when(F.col("cum") >= q * F.col("t"), F.col("rnk"))
        )
        .cast("bigint")
        .alias(f"k_{int(q * 100)}")
        for q in VOCAB_COVERAGE_TARGETS
    ]
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.col("v").alias("vocab_size"), F.col("t").alias("total_tokens"))
        .agg(*knees)
    )


# ---------------------------------------------------------------------------
# R114: temporal split leakage report
# ---------------------------------------------------------------------------

LEAK_SPLIT_DAY = "2024-01-20"  # train strictly before, test on/after


@register(
    "split_leakage_report",
    sql=f"""
    WITH tagged AS (
      SELECT user_id,
             CASE WHEN CAST(ts AS DATE) < DATE '{LEAK_SPLIT_DAY}'
                  THEN 0 ELSE 1 END AS part
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN part = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(sum(part) AS BIGINT) AS n_test
      FROM tagged GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_train > 0 AND n_test > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_users,
           round(sum(CASE WHEN n_train > 0 AND n_test > 0
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS user_leak_rate,
           CAST(sum(n_test) AS BIGINT) AS n_test_events,
           round(sum(CASE WHEN n_train > 0 THEN n_test ELSE 0 END) * 1.0
                 / sum(n_test), 6) AS test_event_seen_user_rate
    FROM per_user
    """,
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene report for a temporal train/test split at
    {LEAK_SPLIT_DAY}: how many users straddle the boundary (their
    test-period behavior is partially memorizable from train), and
    what fraction of test EVENTS belong to users seen in training —
    the two numbers that decide between a user-disjoint and a
    time-disjoint evaluation. One hash aggregate to a per-user
    (n_train, n_test) frame, one reduce to a single report row; the
    split predicate is a scan-level comparison (partition-pruning
    axis on a date-partitioned warehouse layout)."""
    ev = load_table(spark, sf_dir, "events")
    part = F.when(
        F.col("ts").cast("date") < F.lit(LEAK_SPLIT_DAY).cast("date"), 0
    ).otherwise(1)
    per_user = (
        ev.select("user_id", part.alias("part"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("part") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum("part").cast("bigint").alias("n_test"),
        )
    )
    leaking = F.when((F.col("n_train") > 0) & (F.col("n_test") > 0), 1).otherwise(0)
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(leaking).cast("bigint").alias("n_leaking_users"),
        F.round(F.sum(leaking) * 1.0 / F.count("*"), 6).alias(
            "user_leak_rate"
        ),
        F.sum("n_test").cast("bigint").alias("n_test_events"),
        F.round(
            F.sum(F.when(F.col("n_train") > 0, F.col("n_test")).otherwise(0))
            * 1.0
            / F.sum("n_test"),
            6,
        ).alias("test_event_seen_user_rate"),
    )


# ---------------------------------------------------------------------------
# R115: linear multi-touch attribution
# ---------------------------------------------------------------------------

ATTR_WINDOW_DAYS = 7


@register(
    "linear_touch_attribution",
    sql=f"""
    WITH purchases AS (
      SELECT user_id, event_id AS p_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, event_id AS t_id, ts AS t_ts, event_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    attributed AS (
      SELECT p.p_id, t.event_type
      FROM purchases p
      JOIN touches t
        ON p.user_id = t.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL {ATTR_WINDOW_DAYS} DAY
    ),
    per_purchase AS (
      SELECT p_id, CAST(count(*) AS BIGINT) AS n_touches
      FROM attributed GROUP BY p_id
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(1.0 / pp.n_touches), 6) AS credit
    FROM attributed a JOIN per_purchase pp USING (p_id)
    GROUP BY a.event_type
    """,
)
def linear_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: every click/view
    in the {ATTR_WINDOW_DAYS}-day window before a purchase shares the
    conversion credit equally (1/n each) — the fractional-credit
    sibling of the last-touch argmax (R65). The purchase-touch pairing
    is a per-user EQUI-join with a residual time-range predicate
    (quadratic only within one user's recent history, never across
    users; at warehouse scale the bucketed interval-join operator is
    the drop-in for heavy users). Per-purchase touch counts broadcast
    back onto the pair frame; two hash aggregates end the plan."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        "event_type",
    )
    attributed = purchases.join(touches, "user_id").where(
        (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAY")
        )
    ).select("p_id", "event_type")
    per_purchase = attributed.groupBy("p_id").agg(
        F.count("*").cast("bigint").alias("n_touches")
    )
    return (
        attributed.join(per_purchase, "p_id")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.round(F.sum(1.0 / F.col("n_touches")), 6).alias("credit"),
        )
    )


# ---------------------------------------------------------------------------
# R116: churn-label construction (observation/outcome windows)
# ---------------------------------------------------------------------------

CHURN_CUTOFF = "2024-01-20"  # observation before, outcome on/after


@register(
    "churn_labels",
    sql=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE CAST(ts AS DATE)
                                   < DATE '{CHURN_CUTOFF}') AS BIGINT)
               AS n_obs,
             round(coalesce(avg(value) FILTER (WHERE CAST(ts AS DATE)
                                               < DATE '{CHURN_CUTOFF}'), 0.0),
                   6) AS avg_value_obs,
             CAST(count(*) FILTER (WHERE CAST(ts AS DATE)
                                   >= DATE '{CHURN_CUTOFF}') AS BIGINT)
               AS n_out
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_obs, avg_value_obs,
           CAST(CASE WHEN n_out = 0 THEN 1 ELSE 0 END AS INTEGER) AS churned
    FROM per_user
    WHERE n_obs > 0
    """,
)
def churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-label construction with the observation/outcome window
    discipline: features (activity count, mean value) come ONLY from
    the observation window before {CHURN_CUTOFF}; the label (churned =
    zero outcome-window events) comes ONLY from after it — the
    temporal separation that prevents the label leaking into the
    features (the failure mode split_leakage_report measures). One
    conditional hash aggregate per user; users with no observation
    activity are excluded (nothing to predict from). Pairs with
    logreg_purchase_model as the supervised-dataset-construction
    half."""
    ev = load_table(spark, sf_dir, "events")
    in_obs = F.col("ts").cast("date") < F.lit(CHURN_CUTOFF).cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(in_obs, 1).otherwise(0)).cast("bigint").alias("n_obs"),
        F.round(
            F.coalesce(F.avg(F.when(in_obs, F.col("value"))), F.lit(0.0)), 6
        ).alias("avg_value_obs"),
        F.sum(F.when(~in_obs, 1).otherwise(0)).cast("bigint").alias("n_out"),
    )
    return (
        per_user.where(F.col("n_obs") > 0)
        .select(
            "user_id",
            "n_obs",
            "avg_value_obs",
            F.when(F.col("n_out") == 0, 1).otherwise(0).cast("int").alias(
                "churned"
            ),
        )
    )


# ---------------------------------------------------------------------------
# R117: Good-Turing unseen-mass estimate
# ---------------------------------------------------------------------------


@register(
    "good_turing_unseen_mass",
    sql="""
    WITH tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY source, w
    )
    SELECT source,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(count(*) FILTER (WHERE tf = 1) AS BIGINT) AS n_singletons,
           round(count(*) FILTER (WHERE tf = 1) * 1.0 / sum(tf), 6)
             AS p_unseen
    FROM tf GROUP BY source
    """,
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing estimate of the unseen-vocabulary probability mass
    per source: P(next token is novel) ≈ N₁/N, the singleton fraction
    (Good 1953) — the corpus-sizing statistic that says how much of a
    domain's vocabulary the crawl has NOT seen yet (high p_unseen ⇒
    keep crawling, low ⇒ saturated). Two hash aggregates — (source,
    token) frequencies, then per-source counts with a singleton
    filter — both with map-side partials; nothing data-sized after
    the first shuffle. Complements vocab_coverage_sizes (what the
    vocabulary covers) with what it still misses."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    singles = F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
    return tf.groupBy("source").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        singles.cast("bigint").alias("n_singletons"),
        F.round(singles * 1.0 / F.sum("tf"), 6).alias("p_unseen"),
    )


# ---------------------------------------------------------------------------
# R118: Simpson's-paradox detector
# ---------------------------------------------------------------------------


@register(
    "simpsons_paradox_check",
    sql="""
    WITH pooled AS (
      SELECT round(regr_slope(l_extendedprice, l_discount), 4) AS slope_all
      FROM lineitem
    ),
    per_group AS (
      SELECT l_returnflag,
             round(regr_slope(l_extendedprice, l_discount), 4) AS slope
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT g.l_returnflag, g.slope, p.slope_all,
           CAST(CASE WHEN g.slope * p.slope_all < 0 THEN 1 ELSE 0 END
                AS INTEGER) AS sign_reversed
    FROM per_group g CROSS JOIN pooled p
    """,
)
def simpsons_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the pooled regression slope of
    price on discount versus each return-flag stratum's own slope,
    flagging strata whose trend sign REVERSES under aggregation —
    the confounding check any metrics pipeline should run before
    reporting a pooled correlation. Both passes are single-scan
    decomposable regr_slope aggregates (map-side partials); the
    pooled slope is a 1-row broadcast onto the |strata| frame.
    Slopes are rounded before the sign product on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_discount")
    pooled = li.agg(F.round(F.regr_slope(y, x), 4).alias("slope_all"))
    per_group = li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 4).alias("slope")
    )
    return per_group.crossJoin(F.broadcast(pooled)).select(
        "l_returnflag",
        "slope",
        "slope_all",
        F.when(F.col("slope") * F.col("slope_all") < 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("sign_reversed"),
    )


# ---------------------------------------------------------------------------
# R119: Zipf exponent fit
# ---------------------------------------------------------------------------


@register(
    "zipf_exponent_fit",
    sql="""
    WITH tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    ),
    ranked AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, w) AS rnk
      FROM tf
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab,
           round(regr_slope(ln(tf), ln(rnk)), 6) AS zipf_slope,
           round(regr_r2(ln(tf), ln(rnk)), 6) AS fit_r2
    FROM ranked
    """,
)
def zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent: the OLS slope of ln(frequency) on
    ln(rank) over the vocabulary — natural text sits near −1, and a
    corpus that deviates far from it (too flat: templated/boilerplate;
    too steep: tiny effective vocabulary) fails the naturalness
    screen. Rank comes from the distributed row-number primitive
    (range shuffle + O(P) offsets, no single-task window); the fit is
    one decomposable regr_slope/regr_r2 aggregate over the
    vocabulary-sized frame. Deterministic (tf DESC, token) ordering
    keeps both engines on the identical rank permutation."""
    from zoom_spark.operators.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .withColumn("neg_tf", -F.col("tf"))
    )
    ranked = global_row_number(tf, ["neg_tf", "w"], "rnk")
    ly, lx = F.log(F.col("tf")), F.log(F.col("rnk"))
    return ranked.agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_r2(ly, lx), 6).alias("fit_r2"),
    )


# ---------------------------------------------------------------------------
# R120: label-centroid cosine similarity matrix
# ---------------------------------------------------------------------------


@register(
    "centroid_cosine_matrix",
    sql="""
    WITH dims AS (
      SELECT e.label, d.dim, CAST(e.embedding[d.dim + 1] AS DOUBLE) AS val
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
    ),
    cent AS (
      SELECT label, dim, round(avg(val), 6) AS m
      FROM dims GROUP BY label, dim
    ),
    dots AS (
      SELECT a.label AS l1, b.label AS l2,
             sum(a.m * b.m) AS dot,
             sum(a.m * a.m) AS n1,
             sum(b.m * b.m) AS n2
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT l1, l2, round(dot / sqrt(n1 * n2), 6) AS cosine
    FROM dots
    """,
)
def centroid_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the cluster-separability diagnostic read before
    trusting SemDeDup cells or stratified ANN (labels whose centroids
    sit near cosine 1 will cross-contaminate). The corpus reduces to
    a (label, dim) centroid frame in one posexplode + aggregate pass
    (centroids rounded per-dim on both engines BEFORE the dot
    products); the pairwise step is an equi-join ON DIM over the
    |labels|×64 model-sized frame — quadratic only in label count,
    never in corpus rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "val"),
    )
    cent = dims.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("m")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("l1"), F.col("b.label").alias("l2"))
        .agg(
            F.sum(F.col("a.m") * F.col("b.m")).alias("dot"),
            F.sum(F.col("a.m") * F.col("a.m")).alias("n1"),
            F.sum(F.col("b.m") * F.col("b.m")).alias("n2"),
        )
    )
    return dots.select(
        "l1",
        "l2",
        F.round(
            F.col("dot") / F.sqrt(F.col("n1") * F.col("n2")), 6
        ).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# R121: funnel latency percentiles
# ---------------------------------------------------------------------------


@register(
    "funnel_latency_percentiles",
    sql="""
    WITH stages AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'signup') AS t_signup,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    ),
    lat AS (
      SELECT epoch_us(t_purchase - t_signup) / 3600e6 AS hours
      FROM stages
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_signup
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(hours, 0.5), 4) AS p50_hours,
           round(quantile_cont(hours, 0.9), 4) AS p90_hours,
           round(quantile_cont(hours, 0.99), 4) AS p99_hours
    FROM lat
    """,
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles: hours from a user's FIRST signup
    to their FIRST subsequent purchase, p50/p90/p99 — the latency
    companion to the funnel COUNT queries (how fast, not just how
    many). One conditional-min hash aggregate collapses each user to
    two timestamps; the latency frame is converted-user-sized, so the
    exact interpolated percentile aggregate runs over a frame that is
    tiny relative to the event stream. Users whose first purchase
    precedes their first signup (pre-existing accounts) are excluded
    on both engines."""
    ev = load_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    lat = stages.where(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        (
            (
                F.unix_micros("t_purchase") - F.unix_micros("t_signup")
            )
            / 3600e6
        ).alias("hours")
    )
    return lat.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.percentile("hours", F.lit(0.5)), 4).alias("p50_hours"),
        F.round(F.percentile("hours", F.lit(0.9)), 4).alias("p90_hours"),
        F.round(F.percentile("hours", F.lit(0.99)), 4).alias("p99_hours"),
    )


# ---------------------------------------------------------------------------
# R122: per-source duplication dashboard
# ---------------------------------------------------------------------------


@register(
    "source_duplication_report",
    sql=r"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    per_fp AS (
      SELECT fp,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM fp GROUP BY fp
    ),
    joined AS (
      SELECT f.source, p.n_copies, p.n_sources FROM fp f
      JOIN per_fp p USING (fp)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicated,
           CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source,
           round(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS dup_rate
    FROM joined GROUP BY source
    """,
)
def source_duplication_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication dashboard: how many of a source's docs
    have at least one exact (whitespace-normalized) copy anywhere in
    the corpus, and how many of those copies cross source boundaries
    — the dataset-card numbers that decide whether dedup should run
    per-source or globally. Fingerprints are md5 map-side (16-byte
    shuffle keys); one fingerprint aggregate + an equi-join back on
    the hash + one per-source rollup. Uses the SAME normalization as
    the exact-dedup operator, so the counts reconcile with its keep
    set."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        ).alias("fp"),
    )
    per_fp = fp.groupBy("fp").agg(
        F.count("*").cast("bigint").alias("n_copies"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    joined = fp.join(per_fp, "fp")
    dup = F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dup.cast("bigint").alias("n_duplicated"),
        F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cross_source"),
        F.round(dup * 1.0 / F.count("*"), 6).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# R123: Kendall tau rank agreement on the top-k
# ---------------------------------------------------------------------------

TAU_K = 100


@register(
    "kendall_tau_topk",
    sql=f"""
    WITH spend AS (
      SELECT o_custkey AS c, round(sum(o_totalprice), 2) AS spend,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY spend DESC, c) AS r1,
             row_number() OVER (ORDER BY last_order DESC, c) AS r2
      FROM spend
    ),
    top AS (SELECT c, r1, r2 FROM ranked WHERE r1 <= {TAU_K}),
    pairs AS (
      SELECT CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0 THEN 1 ELSE 0 END
               AS concordant
      FROM top a JOIN top b ON a.c < b.c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(concordant) AS BIGINT) AS n_concordant,
           round((2.0 * sum(concordant) - count(*)) / count(*), 6) AS tau
    FROM pairs
    """,
)
def kendall_tau_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a rank agreement between the spend and recency
    orderings, restricted to the spend top-{TAU_K} — "do my two
    ranking signals agree where it matters?", the stability check run
    before fusing rankings (RRF, R94). Both rankings come from total
    orders (deterministic tie-breaks), so there are no rank ties and
    tau-a = (C − D)/total is exact. The quadratic concordance step is
    a self-join CONFINED to the top-k frame (k² = {TAU_K * TAU_K}
    pairs, constant at any corpus size); both ranks come from the
    two-phase distributed row-number (prefix.global_row_number — no
    single-task global window), the same primitive the RRF fusion
    uses."""
    from zoom_spark.operators.prefix import global_row_number

    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
        F.max("o_orderdate").alias("last_order"),
    ).withColumn("neg_spend", -F.col("spend")).withColumn(
        "neg_days",
        -F.datediff(F.col("last_order"), F.lit("1970-01-01").cast("date")),
    )
    ranked = global_row_number(spend, ["neg_spend", "c"], "r1")
    ranked = global_row_number(ranked, ["neg_days", "c"], "r2")
    top = ranked.where(F.col("r1") <= TAU_K)
    a, b = top.alias("a"), top.alias("b")
    conc = F.when(
        (F.col("a.r1") - F.col("b.r1")) * (F.col("a.r2") - F.col("b.r2")) > 0,
        1,
    ).otherwise(0)
    pairs = a.join(b, F.col("a.c") < F.col("b.c")).select(
        conc.alias("concordant")
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("concordant").cast("bigint").alias("n_concordant"),
        F.round(
            (2.0 * F.sum("concordant") - F.count("*")) / F.count("*"), 6
        ).alias("tau"),
    )


# ---------------------------------------------------------------------------
# R124: burstiness (index of dispersion) per event type
# ---------------------------------------------------------------------------


@register(
    "event_burstiness",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(n), 6) AS mean_daily,
           round(var_samp(n), 6) AS var_daily,
           round(var_samp(n) / avg(n), 6) AS fano
    FROM daily GROUP BY event_type
    """,
)
def event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of event arrivals: the Fano factor (variance/mean of
    daily counts) per event type — 1 for a Poisson process, >1 for
    bursty traffic (flash crowds, batch replays), <1 for throttled/
    regular arrivals. The detector that separates organic usage from
    machine-generated replay in traffic QA. Two hash aggregates, both
    with map-side partials; the per-type frame is calendar-bounded.
    Both moments are decomposable, so the plan is a single data
    pass + one tiny rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    return daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg("n"), 6).alias("mean_daily"),
        F.round(F.var_samp("n"), 6).alias("var_daily"),
        F.round(F.var_samp("n") / F.avg("n"), 6).alias("fano"),
    )


# ---------------------------------------------------------------------------
# R125: bigram entropy rate
# ---------------------------------------------------------------------------


@register(
    "bigram_entropy_rate",
    sql=r"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    bi AS (
      SELECT w[t.i] AS w1, w[t.i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS n
      FROM ws CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i
      ) t
      WHERE len(w) >= 2
      GROUP BY w[t.i], w[t.i + 1]
    ),
    uni AS (SELECT w1, CAST(sum(n) AS BIGINT) AS n1 FROM bi GROUP BY w1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM bi)
    SELECT t.t AS n_bigrams,
           CAST((SELECT count(*) FROM bi) AS BIGINT) AS distinct_bigrams,
           round(-sum((b.n * 1.0 / t.t) * ln(b.n * 1.0 / u.n1)), 6)
             AS cond_entropy_nats
    FROM bi b JOIN uni u USING (w1) CROSS JOIN tot t
    GROUP BY t.t
    """,
)
def bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram entropy rate H(w₂|w₁) = −Σ p(w₁,w₂) ln p(w₂|w₁): the
    text-naturalness statistic that drops toward 0 for templated /
    machine-repeated corpora and sits high for diverse natural text —
    the information-theoretic sibling of the compression-ratio gate.
    One bigram-count shuffle (the shifted-slice idiom the bigram-LM
    query uses), a w₁-marginal rollup joined back equi on w₁ (the
    vocabulary side — broadcast-eligible), and a 1-row total. No
    data-sized structure survives the first aggregate."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(ws_tokens(F.lower("text")).alias("w")).where(
        F.size("w") >= 2
    )
    bi = (
        ws.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    uni = bi.groupBy("w1").agg(F.sum("n").cast("bigint").alias("n1"))
    tot = bi.agg(F.sum("n").cast("bigint").alias("t"))
    distinct_bi = bi.agg(F.count("*").cast("bigint").alias("d"))
    return (
        bi.join(uni, "w1")
        .crossJoin(F.broadcast(tot))
        .groupBy("t")
        .agg(
            F.round(
                -F.sum(
                    (F.col("n") * 1.0 / F.col("t"))
                    * F.log(F.col("n") * 1.0 / F.col("n1"))
                ),
                6,
            ).alias("cond_entropy_nats")
        )
        .crossJoin(F.broadcast(distinct_bi))
        .select(
            F.col("t").alias("n_bigrams"),
            F.col("d").alias("distinct_bigrams"),
            "cond_entropy_nats",
        )
    )


# ---------------------------------------------------------------------------
# R126: Lorenz curve decile points
# ---------------------------------------------------------------------------

LORENZ_POINTS = 10


@register(
    "lorenz_curve_spend",
    sql=f"""
    WITH spend AS (
      SELECT o_custkey AS c, round(sum(o_totalprice), 2) AS s
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT s, row_number() OVER (ORDER BY s, c) AS rnk,
             sum(s) OVER (ORDER BY s, c ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM spend
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(s) AS t FROM spend)
    SELECT CAST(p.p AS INTEGER) AS decile,
           round(max(r.cum) / any_value(t.t), 6) AS spend_share
    FROM ranked r
    CROSS JOIN tot t
    JOIN (SELECT unnest(generate_series(1, {LORENZ_POINTS})) AS p) p
      ON r.rnk <= CAST(floor(p.p * t.n / {LORENZ_POINTS}.0) AS BIGINT)
    GROUP BY p.p
    """,
)
def lorenz_curve_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend at decile points: the share of
    total revenue held by the poorest 10%, 20%, … of customers — the
    distribution-shape companion to the scalar Gini (R61), read
    whenever a mixture/quota decision needs the WHOLE inequality
    curve, not one number. Customers collapse to one aggregate
    (2dp-rounded pre-rank, the repo idiom); rank and running mass
    come from the two-phase distributed row-number + prefix-sum (no
    single-task window); each decile point is a bounded conditional
    aggregate against the 1-row broadcast total. The tiny
    decile-membership join fans each customer into at most
    {LORENZ_POINTS} rows — constant factor, not quadratic."""
    from zoom_spark.operators.prefix import global_row_number, prefix_sum

    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("s")
    )
    ranked = global_row_number(spend, ["s", "c"], "rnk")
    # prefix_sum requires a bigint value: scale cents to integers
    ranked = ranked.withColumn(
        "s_cents", F.round(F.col("s") * 100).cast("bigint")
    )
    ranked = prefix_sum(ranked, "rnk", "s_cents", out_col="cum_cents")
    tot = spend.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("s").alias("t")
    )
    points = spark.range(1, LORENZ_POINTS + 1).withColumnRenamed("id", "p")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(points),
            F.col("rnk")
            <= F.floor(F.col("p") * F.col("n") / float(LORENZ_POINTS)).cast(
                "bigint"
            ),
        )
        .groupBy(F.col("p").cast("int").alias("decile"))
        .agg(
            F.round(
                F.max("cum_cents") / 100.0 / F.first("t"), 6
            ).alias("spend_share")
        )
    )


# ---------------------------------------------------------------------------
# R127: precision / recall / F1 at thresholds
# ---------------------------------------------------------------------------

PRF_THRESHOLDS = (30.0, 50.0, 70.0)


@register(
    "prf_at_thresholds",
    sql=f"""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    th AS (SELECT unnest(ARRAY[{", ".join(str(t) for t in PRF_THRESHOLDS)}])
             AS thr),
    cm AS (
      SELECT th.thr,
             CAST(sum(CASE WHEN s.v >= th.thr AND s.y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.v >= th.thr AND s.y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.v < th.thr AND s.y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM s CROSS JOIN th GROUP BY th.thr
    )
    SELECT thr, tp, fp, fn,
           round(tp * 1.0 / nullif(tp + fp, 0), 6) AS precision,
           round(tp * 1.0 / nullif(tp + fn, 0), 6) AS recall,
           round(2.0 * tp / nullif(2 * tp + fp + fn, 0), 6) AS f1
    FROM cm
    """,
)
def prf_at_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 of `value >= threshold` as a purchase
    classifier, at {len(PRF_THRESHOLDS)} operating points — the
    thresholded companion to the AUC/MRR/NDCG rank metrics (what you
    report once a cutoff is CHOSEN). The threshold list is a tiny
    broadcast fan-out (|thresholds| rows per event, folded by
    map-side partials into one confusion row per threshold); exact
    integer confusion counts make the ratios bit-identical across
    engines. F1 uses the 2TP/(2TP+FP+FN) form, which never divides
    by a rounded intermediate."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    th = local_frame(
        spark,
        [(float(t),) for t in PRF_THRESHOLDS], "thr double"
    )
    cm = (
        s.crossJoin(F.broadcast(th))
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("v") >= F.col("thr")) & (F.col("y") == 1), 1)
                  .otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when((F.col("v") >= F.col("thr")) & (F.col("y") == 0), 1)
                  .otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when((F.col("v") < F.col("thr")) & (F.col("y") == 1), 1)
                  .otherwise(0)).cast("bigint").alias("fn"),
        )
    )
    return cm.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp") * 1.0 / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp") * 1.0 / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("recall"),
        F.round(
            2.0
            * F.col("tp")
            / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# R128: Cramér's V association strength
# ---------------------------------------------------------------------------


@register(
    "cramers_v_type_weekday",
    sql="""
    WITH cells AS (
      SELECT event_type AS et,
             CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7 AS BIGINT) AS wd,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS n_tot FROM cells),
    rowt AS (SELECT et, sum(n) AS rn FROM cells GROUP BY et),
    colt AS (SELECT wd, sum(n) AS cn FROM cells GROUP BY wd),
    chi AS (
      -- observed-cell sum + structural-zero correction: missing cells
      -- contribute their full expectation; sum(e) over ALL cells is
      -- n_tot, so the missing mass is n_tot - sum(e over observed)
      SELECT sum(pow(c.n - r.rn * co.cn / t.n_tot, 2)
                 / (r.rn * co.cn / t.n_tot))
             + (any_value(t.n_tot) - sum(r.rn * co.cn / t.n_tot)) AS chi2,
             any_value(t.n_tot) AS n_tot,
             count(DISTINCT c.et) AS r_cnt,
             count(DISTINCT c.wd) AS c_cnt
      FROM cells c JOIN rowt r USING (et) JOIN colt co USING (wd)
      CROSS JOIN tot t
    )
    SELECT round(chi2, 6) AS chi2,
           CAST(n_tot AS BIGINT) AS n,
           round(sqrt(chi2 / (n_tot * (least(r_cnt, c_cnt) - 1))), 6)
             AS cramers_v
    FROM chi
    """,
)
def cramers_v_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event-type × weekday
    association: √(χ²/(N·(min(r,c)−1))) — the bounded-[0,1] companion
    the chi-square test (R69) needs, since χ² grows with N and says
    nothing about STRENGTH at warehouse scale. Same one-pass
    contingency reduction (category-count-sized) with broadcast
    marginals; the V arithmetic runs on the 1-row chi frame."""
    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        % 7
    ).cast("bigint")
    cells = (
        ev.select(F.col("event_type").alias("et"), wd.alias("wd"))
        .groupBy("et", "wd")
        .agg(F.count("*").cast("double").alias("n"))
    )
    rowt = cells.groupBy("et").agg(F.sum("n").alias("rn"))
    colt = cells.groupBy("wd").agg(F.sum("n").alias("cn"))
    tot = cells.agg(F.sum("n").alias("n_tot"))
    e = F.col("rn") * F.col("cn") / F.col("n_tot")
    chi = (
        cells.join(F.broadcast(rowt), "et")
        .join(F.broadcast(colt), "wd")
        .crossJoin(F.broadcast(tot))
        .agg(
            # observed-cell sum + structural-zero correction (see SQL)
            (
                F.sum(F.pow(F.col("n") - e, 2) / e)
                + (F.first("n_tot") - F.sum(e))
            ).alias("chi2"),
            F.first("n_tot").alias("n_tot"),
            F.countDistinct("et").alias("r_cnt"),
            F.countDistinct("wd").alias("c_cnt"),
        )
    )
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        F.col("n_tot").cast("bigint").alias("n"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n_tot") * (F.least("r_cnt", "c_cnt") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# R129: McNemar's paired-classifier test
# ---------------------------------------------------------------------------

MCN_T1, MCN_T2 = 30.0, 70.0


@register(
    "mcnemar_paired_classifiers",
    sql=f"""
    WITH s AS (
      SELECT CASE WHEN value >= {MCN_T1} THEN 1 ELSE 0 END AS a,
             CASE WHEN value >= {MCN_T2} THEN 1 ELSE 0 END AS b,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    cm AS (
      SELECT CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_c,
             CAST(count(*) AS BIGINT) AS n
      FROM s
    )
    SELECT n, n_b, n_c,
           round(pow(abs(n_b - n_c) - 1, 2) * 1.0
                 / nullif(n_b + n_c, 0), 6) AS mcnemar_chi2
    FROM cm
    """,
)
def mcnemar_paired_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test comparing two thresholded classifiers (cutoffs
    {MCN_T1} and {MCN_T2}) on the SAME events — the paired test that
    must replace a two-proportion z-test when both models score
    identical examples (their errors are correlated). Only the
    DISCORDANT counts matter: b = A right where B wrong, c = the
    reverse; the statistic is the continuity-corrected
    (|b−c|−1)²/(b+c). One scan to a 1-row confusion reduce — exact
    integers, bit-identical ratios across engines."""
    ev = load_table(spark, sf_dir, "events")
    a = F.when(F.col("value") >= MCN_T1, 1).otherwise(0)
    b = F.when(F.col("value") >= MCN_T2, 1).otherwise(0)
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    s = ev.select(a.alias("a"), b.alias("b"), y.alias("y"))
    cm = s.agg(
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1)
              .otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1)
              .otherwise(0)).cast("bigint").alias("n_c"),
        F.count("*").cast("bigint").alias("n"),
    )
    return cm.select(
        "n",
        "n_b",
        "n_c",
        F.round(
            F.pow(F.abs(F.col("n_b") - F.col("n_c")) - 1, 2)
            * 1.0
            / F.nullif(F.col("n_b") + F.col("n_c"), F.lit(0)),
            6,
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# R130: Spearman rank correlation
# ---------------------------------------------------------------------------


@register(
    "spearman_spend_recency",
    sql="""
    WITH spend AS (
      SELECT o_custkey AS c, round(sum(o_totalprice), 2) AS spend,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY spend DESC, c) AS r1,
             row_number() OVER (ORDER BY last_order DESC, c) AS r2
      FROM spend
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(r1, r2), 6) AS spearman_rho
    FROM ranked
    """,
)
def spearman_spend_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer spend and recency:
    Pearson correlation of the two rank permutations — the
    whole-population companion to the top-k Kendall tau (R123),
    robust to the heavy-tailed spend distribution that would distort
    a raw Pearson. Both ranks are TOTAL orders (metric desc, key asc
    tie-breaks) from the two-phase distributed row-number — no
    single-task window — and corr() is a decomposable moment
    aggregate, so after the customer rollup nothing is data-sized."""
    from zoom_spark.operators.prefix import global_row_number

    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
        F.max("o_orderdate").alias("last_order"),
    ).withColumn("neg_spend", -F.col("spend")).withColumn(
        "neg_days",
        -F.datediff(F.col("last_order"), F.lit("1970-01-01").cast("date")),
    )
    ranked = global_row_number(spend, ["neg_spend", "c"], "r1")
    ranked = global_row_number(ranked, ["neg_days", "c"], "r2")
    return ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.corr("r1", "r2"), 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# R131: Wilson score intervals for conversion rates
# ---------------------------------------------------------------------------

WILSON_Z = 1.959964  # 95% two-sided


@register(
    "wilson_conversion_intervals",
    sql=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 4 AS cohort,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(cohort AS INTEGER) AS cohort,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM per_user GROUP BY cohort
    )
    SELECT cohort, n, k,
           round(k * 1.0 / n, 6) AS rate,
           round((k * 1.0 / n + {WILSON_Z} * {WILSON_Z} / (2 * n)
                  - {WILSON_Z} * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                      + {WILSON_Z} * {WILSON_Z}
                                        / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS ci_lo,
           round((k * 1.0 / n + {WILSON_Z} * {WILSON_Z} / (2 * n)
                  + {WILSON_Z} * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                      + {WILSON_Z} * {WILSON_Z}
                                        / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS ci_hi
    FROM agg
    """,
)
def wilson_conversion_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score intervals for per-cohort conversion rates —
    the binomial CI that stays valid at small n and extreme rates
    where the naive normal interval breaks (never exits [0,1], never
    collapses to a point at k=0 or k=n). One per-user conversion
    collapse, one cohort rollup, then closed-form arithmetic on exact
    BIGINT (n, k) — identical on both engines. The standard interval
    for dashboarding rates from A/B cohorts."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).withColumn("cohort", (F.col("user_id") % 4).cast("int"))
    agg = per_user.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    p = F.col("k") * 1.0 / F.col("n")
    z2 = WILSON_Z * WILSON_Z
    center = p + z2 / (2 * F.col("n"))
    half = WILSON_Z * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return agg.select(
        "cohort",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# R132: Mann-Kendall trend test
# ---------------------------------------------------------------------------


@register(
    "mann_kendall_revenue_trend",
    sql="""
    WITH daily AS (
      SELECT o_orderdate AS day, round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY o_orderdate
    ),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                 CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
    SELECT nd.n AS n_days, s.s_stat,
           round((CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                       WHEN s.s_stat < 0 THEN s.s_stat + 1
                       ELSE 0 END)
                 / sqrt(nd.n * (nd.n - 1) * (2 * nd.n + 5) / 18.0), 6)
             AS z_stat
    FROM s CROSS JOIN nd
    """,
)
def mann_kendall_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test on daily revenue:
    S = Σ sign(xⱼ − xᵢ) over all day pairs i<j, with the
    continuity-corrected z against Var(S) = n(n−1)(2n+5)/18 — the
    monotone-trend detector that needs no distributional assumption
    (the hypothesis-test companion of the CUSUM change-point). The
    quadratic pair join is CONFINED to the calendar-bounded day-level
    pre-aggregate (~2.4k rows at any SF ⇒ ≤ ~3M sign pairs,
    constant in corpus size); daily revenue is 2dp-rounded before
    comparison on both engines so the sign pattern is identical."""
    from zoom_spark.io import spread_rows

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    # spread the calendar-bounded day frame so the O(days^2) sign-pair
    # generation runs on every core (AQE coalesces the tiny day
    # aggregate to one partition, serializing the quadratic stage)
    ds = spread_rows(daily)
    a, b = ds.alias("a"), ds.alias("b")
    sgn = (
        F.when(F.col("b.rev") > F.col("a.rev"), 1)
        .when(F.col("b.rev") < F.col("a.rev"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .select(sgn.alias("sgn"))
        .agg(F.sum("sgn").cast("bigint").alias("s_stat"))
    )
    nd = daily.agg(F.count("*").cast("bigint").alias("n"))
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    var = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0
    return (
        s.crossJoin(F.broadcast(nd))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            F.round(corrected / F.sqrt(var), 6).alias("z_stat"),
        )
    )


# ---------------------------------------------------------------------------
# R133/R134: co-purchase graph statistics (power-law alpha, assortativity)
# ---------------------------------------------------------------------------

PL_DMIN = 5  # degrees >= dmin enter the power-law MLE


@register(
    "degree_powerlaw_alpha",
    sql=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node
    ),
    tail AS (SELECT d FROM deg WHERE d >= {PL_DMIN})
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_tail,
           round(1.0 + count(*) / sum(ln(d * 1.0 / ({PL_DMIN} - 0.5))), 6)
             AS alpha
    FROM tail
    """,
)
def degree_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the co-purchase degree distribution via
    the continuous Clauset-Shalizi-Newman MLE α = 1 + n/Σ ln(d/(dmin−½))
    over the tail d ≥ {PL_DMIN} — the scale-free-ness check that
    decides whether degree-oriented tricks (wedge orientation, skew
    salting) are WORTH their cost on this graph. The edge self-join
    is the repo's standard co-purchase construction; degrees reduce
    to one aggregate and the MLE is one more decomposable pass over
    the node-sized tail frame."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    # ONE aggregate pass: n_nodes and the tail MLE were two separate
    # aggregates over `deg`, each recomputing the basket self-join from
    # the scans (the before-plan read lineitem.parquet 16x). Conditional
    # aggregates see the identical term multiset the tail filter did.
    tail_pred = F.col("d") >= PL_DMIN
    n_tail = F.sum(F.when(tail_pred, 1).otherwise(0)).cast("bigint")
    return deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        n_tail.alias("n_tail"),
        F.round(
            1.0
            + n_tail.cast("double")
            / F.sum(
                F.when(
                    tail_pred,
                    F.log(F.col("d") * 1.0 / (PL_DMIN - 0.5)),
                )
            ),
            6,
        ).alias("alpha"),
    ).select("n_nodes", "n_tail", "alpha")


@register(
    "degree_assortativity",
    sql="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node
    ),
    ends AS (
      SELECT du.d AS du, dv.d AS dv
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    sym AS (
      SELECT du, dv FROM ends UNION ALL SELECT dv AS du, du AS dv FROM ends
    )
    SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
           round(corr(du, dv), 6) AS assortativity
    FROM sym
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over the SYMMETRIZED edge list
    (Newman 2002) — positive means hubs link to hubs (social-like),
    negative means hub-leaf structure (dependency-like), which
    predicts how badly a skewed join key will behave. Degrees join
    back onto edges equi on node (degree side is node-sized,
    broadcast-eligible); the symmetrization is a union, and corr()
    is one decomposable moment pass. Nothing quadratic anywhere —
    the edge list itself is the largest frame."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Checkpoint + counted gate: without them the basket self-join ran
    # once per consumer (deg + two degree joins), and the node-sized
    # degree table sort-merge-joined the edge frame twice. |deg| <=
    # 2 * |e|; fails closed past the sizing budget. The count
    # materializes the checkpoint the deg aggregate reads anyway.
    from zoom_spark.operators.sizing import broadcaster

    bc = broadcaster(2 * e.count(), 16)  # (node, d)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    ends = (
        e.join(bc(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")), "u")
        .join(bc(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")), "v")
        .select("du", "dv")
    )
    sym = ends.unionAll(
        ends.select(F.col("dv").alias("du"), F.col("du").alias("dv"))
    )
    return sym.agg(
        (F.count("*") / 2).cast("bigint").alias("n_edges"),
        F.round(F.corr("du", "dv"), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# R135: Theil inequality index
# ---------------------------------------------------------------------------


@register(
    "theil_index_spend",
    sql="""
    WITH spend AS (
      SELECT o_custkey AS c, round(sum(o_totalprice), 2) AS s
      FROM orders GROUP BY o_custkey
    ),
    m AS (SELECT avg(s) AS mu, CAST(count(*) AS BIGINT) AS n FROM spend)
    SELECT m.n AS n_customers,
           round(sum((sp.s / (m.mu * m.n)) * ln(sp.s / m.mu)), 6)
             AS theil_t
    FROM spend sp CROSS JOIN m
    GROUP BY m.n
    """,
)
def theil_index_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend:
    T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) — 0 at perfect equality, ln(n) at
    total concentration, and (unlike Gini) exactly DECOMPOSABLE into
    within-group + between-group terms, which is why mixture audits
    prefer it. One customer aggregate, a 1-row broadcast mean, one
    decomposable reduce — no rank, no sort, no prefix scan at all,
    making it the cheapest of the repo's three inequality lenses
    (scalar Gini R61, Lorenz curve R126, Theil here)."""
    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("s")
    )
    m = spend.agg(
        F.avg("s").alias("mu"), F.count("*").cast("bigint").alias("n")
    )
    return (
        spend.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            F.round(
                F.sum(
                    (F.col("s") / (F.col("mu") * F.col("n")))
                    * F.log(F.col("s") / F.col("mu"))
                ),
                6,
            ).alias("theil_t")
        )
        .select(F.col("n").alias("n_customers"), "theil_t")
    )


# ---------------------------------------------------------------------------
# R136: daily-revenue autocorrelation
# ---------------------------------------------------------------------------

ACF_LAGS = (1, 7)


@register(
    "revenue_autocorrelation",
    sql=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT l.lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(a.rev, b.rev), 6) AS acf
    FROM daily a
    JOIN (SELECT unnest(ARRAY[{", ".join(str(k) for k in ACF_LAGS)}]) AS lag) l
      ON true
    JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
    GROUP BY l.lag
    """,
)
def revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags {ACF_LAGS}: the
    seasonality detector (a high lag-7 value means a weekly cycle the
    forecasting and anomaly operators must model — it is what makes
    seasonal-naive R78 the right baseline). The lagged pairing is an
    EQUI-join on (day + lag) over the calendar-bounded daily
    pre-aggregate — no window, no sort — and corr() per lag is a
    decomposable moment pass. Daily revenue is 2dp-rounded before
    pairing on both engines. Note this is the Pearson-of-pairs ACF
    estimator (each lag uses its own overlapping-sample means), the
    form that is exactly a corr() aggregate."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    lags = local_frame(spark, [(k,) for k in ACF_LAGS], "lag int")
    a = daily.alias("a")
    b = daily.alias("b")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.day") == F.expr("date_add(a.day, lag)"),
        )
        .select("lag", F.col("a.rev").alias("x"), F.col("b.rev").alias("y"))
    )
    return paired.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.corr("x", "y"), 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# R137: cohort LTV curve
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv_curve",
    sql="""
    WITH firsts AS (
      SELECT o_custkey AS c, min(CAST(o_orderdate AS DATE)) AS first_day
      FROM orders GROUP BY o_custkey
    ),
    tagged AS (
      SELECT f.c,
             CAST(strftime(f.first_day, '%Y-%m') AS VARCHAR) AS cohort,
             CAST((date_part('year', CAST(o.o_orderdate AS DATE)) * 12
                   + date_part('month', CAST(o.o_orderdate AS DATE)))
                  - (date_part('year', f.first_day) * 12
                     + date_part('month', f.first_day)) AS INTEGER)
               AS month_age,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS rev_cents
      FROM orders o JOIN firsts f ON o.o_custkey = f.c
    ),
    cm AS (
      SELECT cohort, month_age,
             CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
             CAST(count(DISTINCT c) AS BIGINT) AS active
      FROM tagged GROUP BY cohort, month_age
    ),
    sizes AS (
      SELECT CAST(strftime(first_day, '%Y-%m') AS VARCHAR) AS cohort,
             CAST(count(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY 1
    )
    SELECT cm.cohort, cm.month_age, cm.active, s.cohort_size,
           floor(sum(cm.rev_cents) OVER (PARTITION BY cm.cohort
                                         ORDER BY cm.month_age
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
                 / 100.0 / s.cohort_size * 10000 + 0.5) / 10000.0
             AS cum_ltv_per_user
    FROM cm JOIN sizes s USING (cohort)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative revenue per original
    cohort member by months since first order — the money companion
    to cohort retention (R30): retention says who comes back, LTV
    says what they are worth. First-order tagging is one customer
    aggregate joined back equi on custkey; the cumulative runs in a
    COHORT-PARTITIONED window over the (cohort, month) pre-aggregate
    (months are calendar-bounded, so each partition is tiny);
    prices are converted to EXACT integer cents PER ROW (source
    prices are 2dp, so this is lossless), making every downstream sum
    order-independent integer arithmetic — quantizing the double SUM
    instead still flipped cents at half-way boundaries at sf0.1."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    firsts = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_day")
    )
    tagged = od.join(firsts, od.o_custkey == firsts.c).select(
        "c",
        F.date_format("first_day", "yyyy-MM").alias("cohort"),
        (
            (
                F.year(F.col("o_orderdate").cast("date")) * 12
                + F.month(F.col("o_orderdate").cast("date"))
            )
            - (F.year("first_day") * 12 + F.month("first_day"))
        ).cast("int").alias("month_age"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "rev_cents"
        ),
    )
    cm = tagged.groupBy("cohort", "month_age").agg(
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        F.countDistinct("c").cast("bigint").alias("active"),
    )
    sizes = firsts.groupBy(
        F.date_format("first_day", "yyyy-MM").alias("cohort")
    ).agg(F.count("*").cast("bigint").alias("cohort_size"))
    w = Window.partitionBy("cohort").orderBy("month_age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        cm.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "month_age",
            "active",
            "cohort_size",
            # floor(x*1e4+0.5)/1e4 (the TWAP idiom): identical float
            # arithmetic on both engines — round(x, 4) diverges at
            # exact half-way doubles (Spark rounds the decimal string,
            # DuckDB the binary double)
            (
                F.floor(
                    F.sum("rev_cents").over(w)
                    / 100.0
                    / F.col("cohort_size")
                    * 10000
                    + 0.5
                )
                / 10000.0
            ).alias("cum_ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# R138: weekday seasonal index
# ---------------------------------------------------------------------------


@register(
    "weekday_seasonal_index",
    sql="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    tagged AS (
      SELECT CAST((day - DATE '1990-01-01') % 7 AS BIGINT) AS wd, rev
      FROM daily
    ),
    overall AS (SELECT avg(rev) AS mu FROM tagged)
    SELECT t.wd,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(t.rev), 2) AS mean_rev,
           round(avg(t.rev) / o.mu, 6) AS seasonal_index
    FROM tagged t CROSS JOIN overall o
    GROUP BY t.wd, o.mu
    """,
)
def weekday_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal indices: each weekday's mean daily revenue
    relative to the overall mean — the multiplicative factors a
    seasonal adjustment divides out (and the direct quantification of
    the cycle the lag-7 autocorrelation detects). Day-level
    pre-aggregate (calendar-bounded), 1-row broadcast overall mean,
    7-row output. Indices average to 1 by construction when day
    counts are balanced."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    # anchor BEFORE the data range (orders are 1992-1998) so the
    # modulo stays non-negative on both engines
    wd = (
        F.datediff(F.col("day"), F.lit("1990-01-01").cast("date")) % 7
    ).cast("bigint")
    tagged = daily.select(wd.alias("wd"), "rev")
    overall = tagged.agg(F.avg("rev").alias("mu"))
    return (
        tagged.crossJoin(F.broadcast(overall))
        .groupBy("wd", "mu")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.avg("rev"), 2).alias("mean_rev"),
            F.round(F.avg("rev") / F.first("mu"), 6).alias("seasonal_index"),
        )
        .select("wd", "n_days", "mean_rev", "seasonal_index")
    )


# ---------------------------------------------------------------------------
# R139: cluster (multistage) sampling
# ---------------------------------------------------------------------------

CLUSTER_SAMPLE_MOD = 10  # keep orders with md5-bucket 0 -> ~10%


@register(
    "cluster_sample_lineitems",
    sql=f"""
    WITH picked AS (
      SELECT o_orderkey FROM orders
      WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS UBIGINT) % {CLUSTER_SAMPLE_MOD} = 0
    ),
    sampled AS (
      SELECT l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN picked p ON l.l_orderkey = p.o_orderkey
    ),
    pop AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pop,
             round(avg(l_quantity), 6) AS mean_qty_pop
      FROM lineitem
    )
    SELECT CAST((SELECT count(*) FROM picked) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_sampled,
           p.n_pop,
           round(count(*) * 1.0 / p.n_pop, 6) AS sample_rate,
           round(avg(s.l_quantity), 6) AS mean_qty_sample,
           p.mean_qty_pop
    FROM sampled s CROSS JOIN pop p
    GROUP BY p.n_pop, p.mean_qty_pop
    """,
)
def cluster_sample_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster (multistage) sampling: deterministically pick ~1/
    {CLUSTER_SAMPLE_MOD} of ORDERS by md5 bucket, then take ALL their
    line items — the survey design used when the unit of collection
    (an order, a crawl host, a user) is cheaper to enumerate than its
    rows, trading some design effect for locality. The stage-2
    expansion is a broadcast-or-shuffle SEMI-style equi-join on the
    picked keys (never a row-level filter re-hash); the audit row
    compares the cluster-sample mean against the population mean so
    the design effect is visible. Same md5 idiom as every sampling
    op, so the pick is reproducible run-to-run."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    picked = od.where(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(CLUSTER_SAMPLE_MOD),
        )
        == 0
    ).select("o_orderkey")
    n_clusters = picked.agg(
        F.count("*").cast("bigint").alias("n_clusters")
    )
    sampled = li.join(picked, li.l_orderkey == picked.o_orderkey).select(
        "l_quantity"
    )
    pop = li.agg(
        F.count("*").cast("bigint").alias("n_pop"),
        F.round(F.avg("l_quantity"), 6).alias("mean_qty_pop"),
    )
    return (
        sampled.crossJoin(F.broadcast(pop))
        .groupBy("n_pop", "mean_qty_pop")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.round(F.count("*") * 1.0 / F.first("n_pop"), 6).alias(
                "sample_rate"
            ),
            F.round(F.avg("l_quantity"), 6).alias("mean_qty_sample"),
        )
        .crossJoin(F.broadcast(n_clusters))
        .select(
            "n_clusters",
            "n_sampled",
            "n_pop",
            "sample_rate",
            "mean_qty_sample",
            "mean_qty_pop",
        )
    )


# ---------------------------------------------------------------------------
# R140: Lincoln-Petersen capture-recapture estimate
# ---------------------------------------------------------------------------

CR_MOD_A, CR_MOD_B = 3, 4  # two independent md5 "captures" (~1/3 and ~1/4)


@register(
    "capture_recapture_customers",
    sql=f"""
    WITH base AS (
      SELECT DISTINCT o_custkey AS c FROM orders
    ),
    marked AS (
      SELECT c,
             CAST(('0x' || substring(md5('A' || CAST(c AS VARCHAR)), 1, 8))
                  AS UBIGINT) % {CR_MOD_A} = 0 AS in_a,
             CAST(('0x' || substring(md5('B' || CAST(c AS VARCHAR)), 1, 8))
                  AS UBIGINT) % {CR_MOD_B} = 0 AS in_b
      FROM base
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS n1,
           CAST(count(*) FILTER (WHERE in_b) AS BIGINT) AS n2,
           CAST(count(*) FILTER (WHERE in_a AND in_b) AS BIGINT) AS m,
           CAST(round(
             (count(*) FILTER (WHERE in_a) + 1.0)
             * (count(*) FILTER (WHERE in_b) + 1.0)
             / (count(*) FILTER (WHERE in_a AND in_b) + 1.0) - 1.0, 0)
             AS BIGINT) AS n_hat
    FROM marked
    """,
)
def capture_recapture_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate (Chapman's
    bias-corrected form N̂ = (n₁+1)(n₂+1)/(m+1) − 1) of the distinct
    customer count from TWO independent deterministic samples — the
    estimator used when the full distinct count is too expensive but
    two cheap independent marks are not (and a teaching-clean referee
    for the HLL sketch family: the output carries the TRUE count
    beside the estimate). Both marks are md5 hashes with different
    salts, so the captures are independent and reproducible; one
    distinct pass + one conditional reduce."""
    od = load_table(spark, sf_dir, "orders")
    base = od.select(F.col("o_custkey").alias("c")).distinct()

    def mark(salt: str, mod: int):
        return (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(salt), F.col("c").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(mod),
            )
            == 0
        )

    marked = base.select(
        mark("A", CR_MOD_A).alias("in_a"), mark("B", CR_MOD_B).alias("in_b")
    )
    n1 = F.sum(F.when(F.col("in_a"), 1).otherwise(0))
    n2 = F.sum(F.when(F.col("in_b"), 1).otherwise(0))
    m = F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
    return marked.agg(
        F.count("*").cast("bigint").alias("n_true"),
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        m.cast("bigint").alias("m"),
        F.round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0, 0)
        .cast("bigint")
        .alias("n_hat"),
    )


# ---------------------------------------------------------------------------
# R143: Kaplan-Meier survival with right-censoring
# ---------------------------------------------------------------------------


@register(
    "kaplan_meier_conversion",
    sql="""
    WITH per_user AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS first_day,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS conv_day
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
    spells AS (
      SELECT CAST(CASE WHEN p.conv_day IS NOT NULL
                           AND p.conv_day >= p.first_day
                       THEN p.conv_day - p.first_day
                       ELSE hz.h - p.first_day END AS BIGINT) AS t,
             CASE WHEN p.conv_day IS NOT NULL
                       AND p.conv_day >= p.first_day
                  THEN 1 ELSE 0 END AS converted
      FROM per_user p CROSS JOIN horizon hz
    ),
    at_t AS (
      SELECT t,
             CAST(sum(converted) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM spells GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(leaving) OVER (ORDER BY t DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM at_t
    ),
    km AS (
      SELECT t, d, n_risk,
             exp(sum(ln(greatest(1.0 - d * 1.0 / n_risk, 1e-300)))
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)) AS s
      FROM risk WHERE d > 0
    )
    SELECT t AS day, d AS n_events, n_risk,
           round(s, 6) AS survival
    FROM km
    """,
)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase with
    RIGHT-CENSORING: users who never convert contribute risk time up
    to the observation horizon instead of being dropped — the
    estimator every naive conversion-latency percentile silently gets
    wrong (R121 conditions on conversion; this does not). Day
    granularity keeps every frame CALENDAR-BOUNDED: spells collapse
    to (day, events, leaving) counts; the at-risk count is a
    reverse-order running sum and S(t) = Π(1−d/n) runs as
    exp(Σ ln(1−d/n)) — both windows over the ≤ |days| frame (the
    cusum-style bounded exception). Ratios d/n are exact integer
    quotients, so both engines feed ln() identical doubles."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts").cast("date")
            )
        ).alias("conv_day"),
    )
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("h"))
    conv_ok = F.col("conv_day").isNotNull() & (
        F.col("conv_day") >= F.col("first_day")
    )
    spells = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(conv_ok, F.datediff("conv_day", "first_day"))
        .otherwise(F.datediff("h", "first_day"))
        .cast("bigint")
        .alias("t"),
        F.when(conv_ok, 1).otherwise(0).alias("converted"),
    )
    at_t = spells.groupBy("t").agg(
        F.sum("converted").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = at_t.withColumn(
        "n_risk", F.sum("leaving").over(w_desc).cast("bigint")
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        risk.where(F.col("d") > 0)
        .withColumn(
            "s",
            # greatest(..., 1e-300): the final time point has d == n
            # (everyone remaining leaves), whose factor is 0 — the
            # epsilon floor keeps ln() defined and the product rounds
            # to exactly 0.0 at 6dp on both engines
            F.exp(
                F.sum(
                    F.log(
                        F.greatest(
                            1.0 - F.col("d") * 1.0 / F.col("n_risk"),
                            F.lit(1e-300),
                        )
                    )
                ).over(w_asc)
            ),
        )
    )
    return km.select(
        F.col("t").alias("day"),
        F.col("d").alias("n_events"),
        "n_risk",
        F.round("s", 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# R144: expected calibration error
# ---------------------------------------------------------------------------

ECE_BINS = 10


@register(
    "expected_calibration_error",
    sql=f"""
    WITH s AS (
      SELECT least(greatest(value / 100.0, 0.0), 1.0) AS p,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ),
    binned AS (
      SELECT CAST(least(floor(p * {ECE_BINS}), {ECE_BINS - 1}) AS INTEGER)
               AS bin,
             p, y
      FROM s
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             avg(p) AS conf, avg(y) AS acc
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM per_bin)
    SELECT t.n_tot AS n,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(sum(b.n * abs(b.acc - b.conf)) / t.n_tot, 6) AS ece
    FROM per_bin b CROSS JOIN tot t
    GROUP BY t.n_tot
    """,
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of `value/100` read as a purchase
    probability: bin predictions into {ECE_BINS} equal-width
    confidence buckets and average |accuracy − confidence| weighted
    by bin mass — the scalar the reliability-diagram/isotonic pair
    (R104) is optimizing. One binning pass (arithmetic bucket ids,
    identical both engines), one per-bin aggregate, a 1-row weighted
    reduce. The per-bin means divide exact counts, so cross-engine
    noise stays below the 6dp rounding."""
    ev = load_table(spark, sf_dir, "events")
    p = F.least(F.greatest(F.col("value") / 100.0, F.lit(0.0)), F.lit(1.0))
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    binned = ev.select(
        F.least(
            F.floor(p * ECE_BINS), F.lit(ECE_BINS - 1)
        ).cast("int").alias("bin"),
        p.alias("p"),
        y.alias("y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.avg("p").alias("conf"),
        F.avg("y").alias("acc"),
    )
    tot = per_bin.agg(F.sum("n").cast("bigint").alias("n_tot"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy("n_tot")
        .agg(
            F.count("*").cast("bigint").alias("n_bins"),
            F.round(
                F.sum(F.col("n") * F.abs(F.col("acc") - F.col("conf")))
                / F.first("n_tot"),
                6,
            ).alias("ece"),
        )
        .select(F.col("n_tot").alias("n"), "n_bins", "ece")
    )


# ---------------------------------------------------------------------------
# R145: Dunning G-test collocations
# ---------------------------------------------------------------------------

GTEST_MIN_COUNT = 20  # report bigrams with at least this many occurrences


@register(
    "gtest_collocations",
    sql=rf"""
    WITH ws AS (
      SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    bi AS (
      SELECT w[t.i] AS w1, w[t.i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS n11
      FROM ws CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i
      ) t
      WHERE len(w) >= 2
      GROUP BY w[t.i], w[t.i + 1]
    ),
    left_m AS (SELECT w1, CAST(sum(n11) AS BIGINT) AS c1 FROM bi GROUP BY w1),
    right_m AS (SELECT w2, CAST(sum(n11) AS BIGINT) AS c2 FROM bi GROUP BY w2),
    tot AS (SELECT CAST(sum(n11) AS BIGINT) AS n FROM bi),
    cells AS (
      SELECT b.w1, b.w2, b.n11,
             l.c1 - b.n11 AS n12,
             r.c2 - b.n11 AS n21,
             t.n - l.c1 - r.c2 + b.n11 AS n22,
             l.c1 AS c1, r.c2 AS c2, t.n AS n
      FROM bi b JOIN left_m l USING (w1) JOIN right_m r USING (w2)
      CROSS JOIN tot t
      WHERE b.n11 >= {GTEST_MIN_COUNT}
    )
    SELECT w1, w2, n11,
           round(2 * (
             CASE WHEN n11 > 0 THEN n11 * ln(n11 * 1.0 * n / (c1 * c2))
                  ELSE 0 END
             + CASE WHEN n12 > 0
                    THEN n12 * ln(n12 * 1.0 * n / (c1 * (n - c2)))
                    ELSE 0 END
             + CASE WHEN n21 > 0
                    THEN n21 * ln(n21 * 1.0 * n / ((n - c1) * c2))
                    ELSE 0 END
             + CASE WHEN n22 > 0
                    THEN n22 * ln(n22 * 1.0 * n / ((n - c1) * (n - c2)))
                    ELSE 0 END
           ), 4) AS g2
    FROM cells
    """,
)
def gtest_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio (G²) collocation scores for
    adjacent bigrams — the classic significant-collocation statistic
    (Dunning 1993), which unlike PMI stays calibrated at low counts
    because it tests the full 2×2 contingency (bigram present/absent
    × left-word present/absent). One bigram-count shuffle, two
    marginal rollups joined back equi on the word (model-sized
    sides), a 1-row total; every cell count is exact integer
    arithmetic so ln() sees identical ratios on both engines. The
    min-count floor prunes before the score."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select(ws_tokens(F.lower("text")).alias("w")).where(
        F.size("w") >= 2
    )
    bi = (
        ws.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n11"))
    )
    left_m = bi.groupBy("w1").agg(F.sum("n11").cast("bigint").alias("c1"))
    right_m = bi.groupBy("w2").agg(F.sum("n11").cast("bigint").alias("c2"))
    tot = bi.agg(F.sum("n11").cast("bigint").alias("n"))
    cells = (
        bi.where(F.col("n11") >= GTEST_MIN_COUNT)
        .join(left_m, "w1")
        .join(right_m, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn("n12", F.col("c1") - F.col("n11"))
        .withColumn("n21", F.col("c2") - F.col("n11"))
        .withColumn(
            "n22", F.col("n") - F.col("c1") - F.col("c2") + F.col("n11")
        )
    )

    def term(o, e_num, e_den):
        return F.when(
            o > 0, o * F.log(o * 1.0 * F.col("n") / (e_num * e_den))
        ).otherwise(0.0)

    g2 = 2 * (
        term(F.col("n11"), F.col("c1"), F.col("c2"))
        + term(F.col("n12"), F.col("c1"), F.col("n") - F.col("c2"))
        + term(F.col("n21"), F.col("n") - F.col("c1"), F.col("c2"))
        + term(
            F.col("n22"), F.col("n") - F.col("c1"), F.col("n") - F.col("c2")
        )
    )
    return cells.select("w1", "w2", "n11", F.round(g2, 4).alias("g2"))


# ---------------------------------------------------------------------------
# R146: Davies-Bouldin cluster-quality index
# ---------------------------------------------------------------------------


@register(
    "davies_bouldin_embeddings",
    sql="""
    WITH dims AS (
      SELECT e.label, e.vec_id, d.dim,
             CAST(e.embedding[d.dim + 1] AS DOUBLE) AS val
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
    ),
    cent AS (
      SELECT label, dim, round(avg(val), 6) AS m
      FROM dims GROUP BY label, dim
    ),
    spread AS (
      SELECT d.label,
             round(sqrt(avg(pow(d.val - c.m, 2) * 64)), 6) AS s
      FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
      GROUP BY d.label
    ),
    cdist AS (
      SELECT a.label AS l1, b.label AS l2,
             sqrt(sum(pow(a.m - b.m, 2))) AS dist
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
      GROUP BY a.label, b.label
    ),
    ratios AS (
      SELECT c.l1, max((sa.s + sb.s) / c.dist) AS r
      FROM cdist c
      JOIN spread sa ON c.l1 = sa.label
      JOIN spread sb ON c.l2 = sb.label
      GROUP BY c.l1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           round(avg(r), 6) AS davies_bouldin
    FROM ratios
    """,
)
def davies_bouldin_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index of the labeled embedding clusters: mean
    over clusters of max_j (sᵢ+sⱼ)/d(cᵢ,cⱼ) — lower = tighter, more
    separated clusters. The clustering-quality scalar read before
    trusting SemDeDup cells or the centroid-cosine matrix, computable
    WITHOUT any point-to-point pairing: per-cluster centroids and
    RMS spreads are aggregates over the (label, dim) expansion, and
    the pairwise step is |labels|² over MODEL-sized centroid rows
    (dim equi-join). Centroids are rounded per-dim on both engines
    before every downstream distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "val"),
    )
    cent = dims.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("m")
    )
    spread = (
        dims.join(cent, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.avg(F.pow(F.col("val") - F.col("m"), 2) * 64)), 6
            ).alias("s")
        )
    )
    a, b = cent.alias("a"), cent.alias("b")
    cdist = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("l1"), F.col("b.label").alias("l2"))
        .agg(F.sqrt(F.sum(F.pow(F.col("a.m") - F.col("b.m"), 2))).alias("dist"))
    )
    ratios = (
        cdist.join(
            spread.withColumnRenamed("label", "l1").withColumnRenamed("s", "sa"),
            "l1",
        )
        .join(
            spread.withColumnRenamed("label", "l2").withColumnRenamed("s", "sb"),
            "l2",
        )
        .groupBy("l1")
        .agg(F.max((F.col("sa") + F.col("sb")) / F.col("dist")).alias("r"))
    )
    return ratios.agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.round(F.avg("r"), 6).alias("davies_bouldin"),
    )


# ---------------------------------------------------------------------------
# R147: sparse TF-IDF cosine document pairs
# ---------------------------------------------------------------------------

TFIDF_COS_MIN = 0.9  # high-similarity tier; the synthetic corpus's tiny shared vocabulary makes lower thresholds emit millions of pairs


@register(
    "tfidf_cosine_pairs",
    sql=f"""
    WITH tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY doc_id, w
    ),
    n_docs AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    idf AS (
      SELECT w, ln(nd.n * 1.0 / count(DISTINCT t.doc_id)) AS idf
      FROM tf t CROSS JOIN n_docs nd GROUP BY w, nd.n
    ),
    vec AS (
      SELECT t.doc_id, t.w, round(t.tf * i.idf, 6) AS x
      FROM tf t JOIN idf i USING (w)
    ),
    norms AS (
      SELECT doc_id, sqrt(sum(x * x)) AS nrm FROM vec GROUP BY doc_id
    ),
    dots AS (
      -- round 9: the pair space is a deterministic md5 QUERY BATCH
      -- (~1/16 of docs) against the corpus — the production shape of
      -- a similarity lookup (the round-6 adamic-adar re-scope): with
      -- the fixture's fixed 31-token vocabulary the all-pairs posting
      -- join is inherently quadratic in SF, and no exact algorithm
      -- beats the candidate set the data itself defines
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.x * b.x) AS dot
      FROM vec a JOIN vec b ON a.w = b.w AND a.doc_id <> b.doc_id
      WHERE CAST(('0x' || substring(md5(CAST(a.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 16 = 0
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.id_a, d.id_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON d.id_a = na.doc_id
    JOIN norms nb ON d.id_b = nb.doc_id
    WHERE d.dot / (na.nrm * nb.nrm) >= {TFIDF_COS_MIN}
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs — the classic IR
    document-similarity join, complementing the hashed (MinHash/
    SimHash) and dense (embedding) near-dup families with the exact
    lexical one. The pair space comes from the INVERTED INDEX (a
    posting self-equi-join on the token), so only docs sharing a
    token ever pair, and IDF down-weighting means stopword-heavy
    postings contribute near-zero mass; norms join back on doc_id.
    Since round 9 the pair space is a deterministic md5 QUERY BATCH
    (~1/16 of docs, both directions kept) against the corpus — the
    production similarity-lookup contract; all-pairs over a
    fixed-vocabulary corpus is quadratic in SF by construction
    (109 s at sf0.1 when first benched; 15.1 s re-scoped in the
    r9 driver bench).
    Per-token weights are rounded on both engines BEFORE the dot
    products. Threshold applied on the unrounded cosine consistently
    on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: the TF/vec subtrees fan out (tf -> n_docs/idf/vec; vec ->
    # norms/a/b) and nothing reuses them — the before-plan scanned the
    # documents parquet 24 times, re-tokenizing each time. Materialize
    # each shared frame once; every leg below reads the checkpoint.
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    idf = (
        tf.crossJoin(F.broadcast(n_docs))
        .groupBy("w", "n")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "w", F.log(F.col("n") * 1.0 / F.col("df")).alias("idf")
        )
    )
    vec = (
        tf.join(idf, "w")
        .select(
            "doc_id", "w", F.round(F.col("tf") * F.col("idf"), 6).alias("x")
        )
        .localCheckpoint(eager=False)
    )
    norms = vec.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm")
    ).localCheckpoint(eager=False)
    # norms holds one row per doc — the collected scalar (one cheap agg
    # over the checkpointed tf) gates a broadcast hint for the two
    # norm lookups against the pair-space frame; checkpointed frames
    # carry unknown stats, so the planner would sort-merge-join them.
    # Fails closed to the shuffle join past the sizing budget.
    from zoom_spark.operators.sizing import broadcaster, fits

    bc = broadcaster(n_docs.collect()[0]["n"], 16)  # (doc_id, nrm)
    # round 9: deterministic md5 query batch (~1/16) vs corpus — the
    # production similarity-lookup shape; the fixture's fixed 31-token
    # vocabulary makes the all-pairs posting join inherently quadratic
    # in SF (same class as the excluded quadratic-oracle gram joins)
    qsel = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 16
        == 0
    )
    # r14: the query batch's sparse vectors are MODEL-SIZED (~n/16 docs
    # x ~vocab terms), so collect them (the int-Lloyd centroid idiom)
    # and fold the dot products map-side over per-doc corpus vectors
    # with ONE numpy matmul per Arrow chunk (guide §3.1 broadcast-the-
    # side-that-fits, §4.2 whole-batch native compute) — the posting
    # self-join shuffled ~26M joined rows into a ~1.6M-group aggregate
    # at sf0.1. Pair set identical: the join emitted only pairs
    # sharing >= 1 token; products are non-negative (tf > 0,
    # idf >= 0), so dot == 0 exactly iff the pair shares no token or
    # only idf = 0 tokens — pairs the cos >= TFIDF_COS_MIN (> 0)
    # filter drops on BOTH paths, which is why the numpy nonzero()
    # pre-filter is exact (no cancellation can zero a true pair).
    # Per-pair dot terms are the same rounded x products; summation-
    # order drift (hash-agg order vs BLAS) is ~1e-16 and both engines
    # already rely on the 6dp output grid absorbing it. Gated on the
    # COUNTED batch posting size, the query-vocabulary width and the
    # dense query matrix; past any of them the r13 posting join runs
    # unchanged — fails closed at 100 TB.
    batch_rows = vec.where(qsel).count()
    dots = None
    # dense-axis cap: the fold materializes (chunk rows) x |q_vocab|
    # doubles per Arrow chunk — past this width the dense layout stops
    # making sense and the posting join is the right shape anyway
    QV_CAP = 4096
    if fits(batch_rows, 32):  # (doc_id, x) plus a short token w
        # Model-sized: collect the batch's postings through Arrow (same
        # idiom as the int-Lloyd collects) and run the corpus-side
        # fold as ONE numpy matmul per Arrow batch (guide §4.2 —
        # whole-batch native compute; only the two needed columns
        # cross the boundary). Tokens outside the query vocabulary
        # contribute 0 to every dot, so the dense axis is the QUERY
        # vocabulary only.
        import numpy as np

        q = vec.where(qsel).select("doc_id", "w", "x").toArrow()
        qid_arr, q_row = np.unique(
            q.column("doc_id").to_numpy(), return_inverse=True
        )
        q_vocab, q_col = np.unique(
            q.column("w").to_numpy(), return_inverse=True
        )
        n_v = len(q_vocab)
        # the dense query matrix ships to every worker: gate its
        # len(qids) x |q_vocab| doubles BEFORE allocating it
        if n_v <= QV_CAP and fits(len(qid_arr) * n_v, 8):
            tid = {w: i for i, w in enumerate(q_vocab.tolist())}
            qmat = np.zeros((len(qid_arr), n_v), dtype=np.float64)
            qmat[q_row, q_col] = q.column("x").to_numpy()
            chunk = max(1, 2_000_000 // max(1, n_v))

            corpus = vec.groupBy("doc_id").agg(
                F.collect_list(F.struct("w", "x")).alias("entries")
            )

            def _dots(batches):
                import pandas as pd

                for pdf in batches:
                    for lo in range(0, len(pdf), chunk):
                        part = pdf.iloc[lo : lo + chunk]
                        ids = part["doc_id"].to_numpy(dtype=np.int64)
                        dense = np.zeros(
                            (len(part), n_v), dtype=np.float64
                        )
                        for ri, ents in enumerate(part["entries"]):
                            for e in ents:
                                j = tid.get(e["w"])
                                if j is not None:
                                    dense[ri, j] = e["x"]
                        # one BLAS matmul per chunk: corpus x queries
                        scores = dense @ qmat.T
                        bi, qi = np.nonzero(scores)
                        id_a = qid_arr[qi]
                        id_b = ids[bi]
                        keep = id_a != id_b
                        yield pd.DataFrame(
                            {
                                "id_a": id_a[keep],
                                "id_b": id_b[keep],
                                "dot": scores[bi[keep], qi[keep]],
                            }
                        )

            dots = corpus.mapInPandas(
                _dots, "id_a long, id_b long, dot double"
            )
    if dots is None:
        a, b = vec.where(qsel).alias("a"), vec.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.w") == F.col("b.w"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("dot"))
        )
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(
            bc(
                norms.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                    "nrm", "na"
                )
            ),
            "id_a",
        )
        .join(
            bc(
                norms.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                    "nrm", "nb"
                )
            ),
            "id_b",
        )
        .where(cos >= TFIDF_COS_MIN)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# R148: deterministic permutation test
# ---------------------------------------------------------------------------

PERM_K = 40


@register(
    "permutation_test_weekend",
    sql=f"""
    WITH s AS (
      SELECT event_id, value AS v,
             CASE WHEN CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    obs AS (
      SELECT avg(CASE WHEN grp = 1 THEN v END)
             - avg(CASE WHEN grp = 0 THEN v END) AS d
      FROM s
    ),
    perms AS (
      SELECT p.p, s.v,
             CAST(('0x' || substring(md5(CAST(s.event_id AS VARCHAR) || ':'
                                         || CAST(p.p AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 2 AS g
      FROM s CROSS JOIN (SELECT unnest(generate_series(1, {PERM_K})) AS p) p
    ),
    perm_d AS (
      SELECT p,
             avg(CASE WHEN g = 1 THEN v END)
             - avg(CASE WHEN g = 0 THEN v END) AS d
      FROM perms GROUP BY p
    )
    SELECT round(o.d, 6) AS observed_diff,
           CAST({PERM_K} AS BIGINT) AS n_perms,
           CAST(sum(CASE WHEN abs(pd.d) >= abs(o.d) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           round((sum(CASE WHEN abs(pd.d) >= abs(o.d) THEN 1 ELSE 0 END)
                  + 1.0) / ({PERM_K} + 1.0), 6) AS p_value
    FROM perm_d pd CROSS JOIN obs o
    GROUP BY o.d
    """,
)
def permutation_test_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the weekend-vs-weekday mean value
    difference: {PERM_K} deterministic md5 relabelings build the null
    distribution, and the p-value is the (add-one smoothed) fraction
    of permuted |diffs| at least as extreme as the observed — the
    assumption-free companion to the parametric z-test (R74), and the
    null-resampling sibling of the Poisson bootstrap (which resamples
    the DATA, not the LABELS). The explode is map-only; each
    permutation reduces via map-side partials to one row, so the
    shuffle is K-rows-per-partition. Identical hash labels on both
    engines make the null distribution bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        % 7
    ).cast("bigint")
    s = ev.select(
        "event_id",
        F.col("value").alias("v"),
        F.when(wd.isin(5, 6), 1).otherwise(0).alias("grp"),
    )
    obs = s.agg(
        (
            F.avg(F.when(F.col("grp") == 1, F.col("v")))
            - F.avg(F.when(F.col("grp") == 0, F.col("v")))
        ).alias("d")
    )
    # r13: spread before the xK permutation explode (md5 label draw per
    # (event, perm) would otherwise run on the single-split scan task).
    from zoom_spark.io import spread_scan

    perms = spread_scan(s).select(
        "event_id",
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(PERM_K))).alias("p"),
    ).withColumn(
        "g",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit(":"),
                            F.col("p").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        ),
    )
    perm_d = perms.groupBy("p").agg(
        (
            F.avg(F.when(F.col("g") == 1, F.col("v")))
            - F.avg(F.when(F.col("g") == 0, F.col("v")))
        ).alias("d")
    )
    extreme = F.sum(
        F.when(F.abs(F.col("d")) >= F.abs(F.col("od")), 1).otherwise(0)
    )
    return (
        perm_d.crossJoin(F.broadcast(obs.withColumnRenamed("d", "od")))
        .groupBy("od")
        .agg(
            F.count("*").cast("bigint").alias("n_perms"),
            extreme.cast("bigint").alias("n_extreme"),
            F.round((extreme + 1.0) / (PERM_K + 1.0), 6).alias("p_value"),
        )
        .select(
            F.round("od", 6).alias("observed_diff"),
            "n_perms",
            "n_extreme",
            "p_value",
        )
    )
