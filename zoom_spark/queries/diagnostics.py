"""Model/distribution diagnostics (R211+): normality, variance
homogeneity, autocorrelation portmanteau, binary-classifier summary.

Engine-parity discipline (see tests/oracle_harness.py and the repo
memory rules): every moment that feeds a closed-form statistic is
computed on a 1e-5-scaled copy of the price column (keeps magnitudes
O(1) so double noise sits ~1e-15 below the rounding grid), and is
ROUNDED on both engines before any transcendental (ln, sqrt, ratio)
touches it. Means are rounded before centering so both engines center
on bit-identical values.

No analog in the reference connector (/root/reference/main.py — a
pandas/requests ETL); these are SURVEY.md §2.11 extension-family
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

# ---------------------------------------------------------------------------
# R211: Jarque-Bera normality test on order values
# ---------------------------------------------------------------------------

_JB_SCALE = 1.0e-5  # puts o_totalprice moments on an O(1) grid


@register(
    "jarque_bera_order_value",
    sql=f"""
    WITH x AS (SELECT o_totalprice * {_JB_SCALE!r} AS v FROM orders),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n, round(avg(v), 6) AS mu
          FROM x),
    d AS (SELECT v - m.mu AS d, m.n FROM x CROSS JOIN m),
    mom AS (
      SELECT any_value(n) AS n,
             round(avg(d * d), 10) AS m2,
             round(avg(d * d * d), 10) AS m3,
             round(avg(d * d * d * d), 10) AS m4
      FROM d
    )
    SELECT n,
           round(m3 / (m2 ^ 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           round(n / 6.0 * ((m3 / (m2 ^ 1.5)) ^ 2
                 + (m4 / (m2 * m2) - 3) ^ 2 / 4), 4) AS jb_stat
    FROM mom
    """,
)
def jarque_bera_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R211 Jarque-Bera normality test: JB = n/6·(S² + K²/4) from the
    2nd/3rd/4th central moments of the (1e-5-scaled) order values.
    One full scan → one 1-row moment aggregate → pure-expression
    closed form; the mean and each moment are rounded before the
    ratio/power steps so both engines solve from identical inputs."""
    x = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") * _JB_SCALE).alias("v")
    )
    m = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("v"), 6).alias("mu"),
    )
    d = x.crossJoin(F.broadcast(m)).select(
        (F.col("v") - F.col("mu")).alias("d"), "n"
    )
    mom = d.agg(
        F.any_value("n").alias("n"),
        F.round(F.avg(F.col("d") * F.col("d")), 10).alias("m2"),
        F.round(F.avg(F.col("d") * F.col("d") * F.col("d")), 10).alias(
            "m3"
        ),
        F.round(
            F.avg(F.col("d") * F.col("d") * F.col("d") * F.col("d")), 10
        ).alias("m4"),
    )
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    kurt = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    return mom.select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            F.col("n") / 6.0 * (skew * skew + kurt * kurt / 4), 4
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# R212: Bartlett's test for homogeneity of variances across priorities
# ---------------------------------------------------------------------------


@register(
    "bartlett_variance_priorities",
    sql=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS ni,
             round(var_samp(o_totalprice * {_JB_SCALE!r}), 8) AS vi
      FROM orders GROUP BY 1
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ni) AS BIGINT) AS n,
             round(sum((ni - 1) * vi) / sum(ni - 1), 8) AS sp2,
             sum((ni - 1) * ln(vi)) AS sum_ln,
             sum(1.0 / (ni - 1)) AS sum_inv
      FROM g
    )
    SELECT k, n,
           round(sp2, 6) AS pooled_var_scaled,
           round(((n - k) * ln(sp2) - sum_ln)
                 / (1 + (sum_inv - 1.0 / (n - k)) / (3 * (k - 1))), 6)
             AS bartlett_chi2
    FROM agg
    """,
)
def bartlett_variance_priorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R212 Bartlett's χ² for variance homogeneity of order value
    across the 5 priority classes: per-group sample variances (one
    hash aggregate), then the closed form
    χ² = [(N−k)·ln S_p² − Σ(n_i−1)·ln S_i²] / C. Variances are
    computed on the 1e-5-scaled column and rounded to 8dp BEFORE ln
    (round-inputs-to-transcendentals rule), so both engines feed ln
    bit-identical arguments. Levene/Brown-Forsythe (R*) is the robust
    sibling; Bartlett is the normal-theory exact form."""
    g = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count("*").cast("bigint").alias("ni"),
            F.round(
                F.var_samp(F.col("o_totalprice") * _JB_SCALE), 8
            ).alias("vi"),
        )
    )
    agg = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("ni").cast("bigint").alias("n"),
        F.round(
            F.sum((F.col("ni") - 1) * F.col("vi"))
            / F.sum(F.col("ni") - 1),
            8,
        ).alias("sp2"),
        F.sum((F.col("ni") - 1) * F.log(F.col("vi"))).alias("sum_ln"),
        F.sum(1.0 / (F.col("ni") - 1)).alias("sum_inv"),
    )
    c = 1 + (F.col("sum_inv") - 1.0 / (F.col("n") - F.col("k"))) / (
        3 * (F.col("k") - 1)
    )
    stat = (
        (F.col("n") - F.col("k")) * F.log(F.col("sp2"))
        - F.col("sum_ln")
    ) / c
    return agg.select(
        "k",
        "n",
        F.round(F.col("sp2"), 6).alias("pooled_var_scaled"),
        F.round(stat, 6).alias("bartlett_chi2"),
    )


# ---------------------------------------------------------------------------
# R213: Ljung-Box portmanteau test on the daily-revenue series
# ---------------------------------------------------------------------------

LB_LAGS = 7


@register(
    "ljung_box_daily_revenue",
    sql=f"""
    WITH day AS (
      SELECT o_orderdate AS d,
             round(CAST(sum(o_totalprice) AS DOUBLE) * {_JB_SCALE!r}, 6)
               AS rev
      FROM orders GROUP BY 1
    ),
    rn AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, rev
      FROM day
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n, round(avg(rev), 6) AS mu
          FROM rn),
    dev AS (SELECT rn.rn, rn.rev - m.mu AS dv FROM rn CROSS JOIN m),
    den AS (SELECT round(sum(dv * dv), 8) AS s0 FROM dev),
    lag_num AS (
      SELECT l.k, round(sum(a.dv * b.dv), 8) AS sk
      FROM (SELECT unnest(range(1, {LB_LAGS} + 1)) AS k) l
      JOIN dev a ON TRUE
      JOIN dev b ON b.rn = a.rn + l.k
      GROUP BY l.k
    ),
    r AS (
      SELECT k, round(sk / (SELECT s0 FROM den), 8) AS rk
      FROM lag_num
    ),
    q AS (
      SELECT round((SELECT n FROM m) * ((SELECT n FROM m) + 2)
                   * sum(rk * rk / ((SELECT n FROM m) - k)), 6) AS q_stat
      FROM r
    )
    SELECT r.k AS lag, round(r.rk, 6) AS autocorr, q.q_stat
    FROM r CROSS JOIN q
    """,
)
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R213 Ljung-Box Q test for autocorrelation in daily revenue at
    lags 1..7: Q = n(n+2)·Σ r_k²/(n−k). The lag products come from a
    lags×days EQUI-JOIN on (rn + k) — no single-task global window,
    no per-lag passes: one join computes all 7 numerators. Daily
    sums are cent-exact; the series is scaled/rounded before
    centering so both engines difference identical values. The
    denominator and each numerator are rounded before the ratio."""
    o = load_table(spark, sf_dir, "orders")
    day = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice") * _JB_SCALE, 6).alias("rev")
    )
    from pyspark.sql import Window

    # |days| <= ~2.5k: a single-partition row_number over the daily
    # pre-aggregate is the correct bound (calendar-bounded frame).
    w = Window.orderBy("d")
    rn = day.select(
        F.row_number().over(w).cast("bigint").alias("rn"), "rev"
    )
    m = rn.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("rev"), 6).alias("mu"),
    )
    dev = rn.crossJoin(F.broadcast(m)).select(
        "rn", (F.col("rev") - F.col("mu")).alias("dv")
    )
    den = dev.agg(F.round(F.sum(F.col("dv") * F.col("dv")), 8).alias("s0"))
    lags = local_frame(spark, [(k,) for k in range(1, LB_LAGS + 1)], "k bigint")
    a = dev.select(F.col("rn").alias("arn"), F.col("dv").alias("adv"))
    b = dev.select(F.col("rn").alias("brn"), F.col("dv").alias("bdv"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("target", F.col("arn") + F.col("k"))
        .join(b, F.col("brn") == F.col("target"))
        .groupBy("k")
        .agg(F.round(F.sum(F.col("adv") * F.col("bdv")), 8).alias("sk"))
    )
    r = num.crossJoin(F.broadcast(den)).select(
        "k", F.round(F.col("sk") / F.col("s0"), 8).alias("rk")
    )
    q = (
        r.crossJoin(F.broadcast(m))
        .agg(
            F.round(
                F.any_value(F.col("n"))
                * (F.any_value(F.col("n")) + 2)
                * F.sum(
                    F.col("rk") * F.col("rk") / (F.col("n") - F.col("k"))
                ),
                6,
            ).alias("q_stat")
        )
    )
    return r.crossJoin(F.broadcast(q)).select(
        F.col("k").alias("lag"),
        F.round(F.col("rk"), 6).alias("autocorr"),
        "q_stat",
    )


# ---------------------------------------------------------------------------
# R214: Matthews correlation + balanced accuracy for a value classifier
# ---------------------------------------------------------------------------

MCC_THRESHOLD = 150000.0


@register(
    "mcc_value_classifier",
    sql=f"""
    WITH c AS (
      SELECT CASE WHEN o_totalprice > {MCC_THRESHOLD!r} THEN 1 ELSE 0 END
               AS pred,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS label
      FROM orders
    ),
    m AS (
      SELECT CAST(sum(pred * label) AS BIGINT) AS tp,
             CAST(sum(pred * (1 - label)) AS BIGINT) AS fp,
             CAST(sum((1 - pred) * label) AS BIGINT) AS fn,
             CAST(sum((1 - pred) * (1 - label)) AS BIGINT) AS tn
      FROM c
    )
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc,
           round((CAST(tp AS DOUBLE) / (tp + fn)
                  + CAST(tn AS DOUBLE) / (tn + fp)) / 2, 6)
             AS balanced_accuracy,
           round(CAST(tp AS DOUBLE) / (tp + fn)
                 + CAST(tn AS DOUBLE) / (tn + fp) - 1, 6) AS youden_j
    FROM m
    """,
)
def mcc_value_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R214 Matthews correlation coefficient (plus balanced accuracy
    and Youden's J) for the fixed-threshold value→urgency classifier:
    the 2×2 confusion matrix is one integer aggregate over a single
    scan; MCC's numerator stays exact-integer until the final double
    divide. Complements prf_at_thresholds (precision/recall/F1) with
    the prevalence-robust summary statistics."""
    c = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_totalprice") > MCC_THRESHOLD, 1)
        .otherwise(0)
        .alias("pred"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("label"),
    )
    m = c.agg(
        F.sum(F.col("pred") * F.col("label")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label")))
        .cast("bigint")
        .alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label"))
        .cast("bigint")
        .alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label")))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    sens = tp / (tp + fn)
    spec = tn / (tn + fp)
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            (tp * tn - fp * fn)
            / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
            6,
        ).alias("mcc"),
        F.round((sens + spec) / 2, 6).alias("balanced_accuracy"),
        F.round(sens + spec - 1, 6).alias("youden_j"),
    )


# ---------------------------------------------------------------------------
# R216: Granger causality (lag-1), daily order count -> daily revenue
# ---------------------------------------------------------------------------


@register(
    "granger_count_to_revenue",
    sql=f"""
    WITH day AS (
      SELECT o_orderdate AS d,
             round(CAST(sum(o_totalprice) AS DOUBLE) * {_JB_SCALE!r}, 6)
               AS rev,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM orders GROUP BY 1
    ),
    rn AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, rev, cnt
      FROM day
    ),
    pair AS (
      SELECT a.rev AS y, b.rev AS y1, b.cnt AS x1
      FROM rn a JOIN rn b ON a.rn = b.rn + 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(avg(y), 6) AS my,
             round(avg(y1), 6) AS m1, round(avg(x1), 6) AS m2
      FROM pair
    ),
    s AS (
      SELECT any_value(m.n) AS n,
             round(sum((y - my) * (y - my)), 8) AS syy,
             round(sum((y1 - m1) * (y1 - m1)), 8) AS s11,
             round(sum((x1 - m2) * (x1 - m2)), 8) AS s22,
             round(sum((y1 - m1) * (x1 - m2)), 8) AS s12,
             round(sum((y1 - m1) * (y - my)), 8) AS s1y,
             round(sum((x1 - m2) * (y - my)), 8) AS s2y
      FROM pair CROSS JOIN m
    ),
    fit AS (
      SELECT n, syy, s1y, s11, s2y,
             (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
             (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2
      FROM s
    ),
    rss AS (
      SELECT n,
             round(syy - b1 * s1y - b2 * s2y, 8) AS rss_u,
             round(syy - s1y * s1y / s11, 8) AS rss_r,
             b1, b2
      FROM fit
    )
    SELECT n AS n_pairs, round(b1, 6) AS beta_revlag,
           round(b2, 6) AS beta_cntlag,
           round((rss_r - rss_u) * (n - 3) / rss_u, 6) AS f_stat
    FROM rss
    """,
)
def granger_count_to_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R216 Granger causality (lag 1): does yesterday's ORDER COUNT
    predict today's revenue beyond yesterday's revenue? F-test of the
    restricted (AR(1)) vs unrestricted (AR(1)+x_{{t-1}}) OLS fits,
    both solved in closed form from SIX centered cross-moments — one
    aggregate over the lag-paired day series (rn = rn+1 equi-join on
    the calendar-bounded pre-aggregate, no global window over raw
    rows). Moments and RSS are rounded before every divide so both
    engines solve identical systems."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    day = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice") * _JB_SCALE, 6).alias("rev"),
        F.count("*").cast("double").alias("cnt"),
    )
    rn = day.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        "rev",
        "cnt",
    )
    a = rn.select(F.col("rn").alias("arn"), F.col("rev").alias("y"))
    b = rn.select(
        (F.col("rn") + 1).alias("brn"),
        F.col("rev").alias("y1"),
        F.col("cnt").alias("x1"),
    )
    pair = a.join(b, F.col("arn") == F.col("brn")).select("y", "y1", "x1")
    m = pair.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.avg("y1"), 6).alias("m1"),
        F.round(F.avg("x1"), 6).alias("m2"),
    )
    s = pair.crossJoin(F.broadcast(m)).agg(
        F.any_value("n").alias("n"),
        F.round(
            F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))),
            8,
        ).alias("syy"),
        F.round(
            F.sum(
                (F.col("y1") - F.col("m1")) * (F.col("y1") - F.col("m1"))
            ),
            8,
        ).alias("s11"),
        F.round(
            F.sum(
                (F.col("x1") - F.col("m2")) * (F.col("x1") - F.col("m2"))
            ),
            8,
        ).alias("s22"),
        F.round(
            F.sum(
                (F.col("y1") - F.col("m1")) * (F.col("x1") - F.col("m2"))
            ),
            8,
        ).alias("s12"),
        F.round(
            F.sum((F.col("y1") - F.col("m1")) * (F.col("y") - F.col("my"))),
            8,
        ).alias("s1y"),
        F.round(
            F.sum((F.col("x1") - F.col("m2")) * (F.col("y") - F.col("my"))),
            8,
        ).alias("s2y"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    fit = s.select(
        "n",
        "syy",
        "s1y",
        "s11",
        "s2y",
        b1.alias("b1"),
        b2.alias("b2"),
    )
    rss = fit.select(
        "n",
        F.round(
            F.col("syy")
            - F.col("b1") * F.col("s1y")
            - F.col("b2") * F.col("s2y"),
            8,
        ).alias("rss_u"),
        F.round(
            F.col("syy") - F.col("s1y") * F.col("s1y") / F.col("s11"), 8
        ).alias("rss_r"),
        "b1",
        "b2",
    )
    return rss.select(
        F.col("n").alias("n_pairs"),
        F.round(F.col("b1"), 6).alias("beta_revlag"),
        F.round(F.col("b2"), 6).alias("beta_cntlag"),
        F.round(
            (F.col("rss_r") - F.col("rss_u"))
            * (F.col("n") - 3)
            / F.col("rss_u"),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# R217: ridge regression (closed form) vs OLS on lineitem
# ---------------------------------------------------------------------------

RIDGE_LAMBDA = 10.0
_RIDGE_YSCALE = 1.0e-4


@register(
    "ridge_lineitem_price_model",
    sql=f"""
    WITH x AS (
      SELECT l_extendedprice * {_RIDGE_YSCALE!r} AS y,
             CAST(l_quantity AS DOUBLE) AS x1, l_discount AS x2
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(avg(y), 6) AS my,
             round(avg(x1), 6) AS m1, round(avg(x2), 6) AS m2
      FROM x
    ),
    s AS (
      SELECT any_value(m.n) AS n, any_value(my) AS my,
             any_value(m1) AS m1, any_value(m2) AS m2,
             round(sum((x1 - m1) * (x1 - m1)), 8) AS s11,
             round(sum((x2 - m2) * (x2 - m2)), 8) AS s22,
             round(sum((x1 - m1) * (x2 - m2)), 8) AS s12,
             round(sum((x1 - m1) * (y - my)), 8) AS s1y,
             round(sum((x2 - m2) * (y - my)), 8) AS s2y
      FROM x CROSS JOIN m
    )
    SELECT n,
           round((s1y * (s22 + {RIDGE_LAMBDA!r})
                  - s2y * s12)
                 / ((s11 + {RIDGE_LAMBDA!r}) * (s22 + {RIDGE_LAMBDA!r})
                    - s12 * s12), 6) AS b_qty_ridge,
           round((s2y * (s11 + {RIDGE_LAMBDA!r})
                  - s1y * s12)
                 / ((s11 + {RIDGE_LAMBDA!r}) * (s22 + {RIDGE_LAMBDA!r})
                    - s12 * s12), 6) AS b_disc_ridge,
           round((s1y * s22 - s2y * s12)
                 / (s11 * s22 - s12 * s12), 6) AS b_qty_ols,
           round((s2y * s11 - s1y * s12)
                 / (s11 * s22 - s12 * s12), 6) AS b_disc_ols,
           round(my - (s1y * (s22 + {RIDGE_LAMBDA!r}) - s2y * s12)
                       / ((s11 + {RIDGE_LAMBDA!r})
                          * (s22 + {RIDGE_LAMBDA!r}) - s12 * s12) * m1
                    - (s2y * (s11 + {RIDGE_LAMBDA!r}) - s1y * s12)
                       / ((s11 + {RIDGE_LAMBDA!r})
                          * (s22 + {RIDGE_LAMBDA!r}) - s12 * s12) * m2,
                 6) AS intercept_ridge
    FROM s
    """,
)
def ridge_lineitem_price_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R217 closed-form RIDGE regression (λ on the centered Gram,
    intercept unpenalized — the textbook formulation) of scaled
    extended price on quantity and discount, with the OLS solution
    from the same five cross-moments for shrinkage comparison. One
    scan → one 1-row moment aggregate → pure-expression 2×2 solve;
    moments rounded before the solve (engine parity). The
    regularized twin of ols_normal_equations."""
    x = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice") * _RIDGE_YSCALE).alias("y"),
        F.col("l_quantity").cast("double").alias("x1"),
        F.col("l_discount").alias("x2"),
    )
    m = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.avg("x1"), 6).alias("m1"),
        F.round(F.avg("x2"), 6).alias("m2"),
    )
    s = x.crossJoin(F.broadcast(m)).agg(
        F.any_value("n").alias("n"),
        F.any_value("my").alias("my"),
        F.any_value("m1").alias("m1"),
        F.any_value("m2").alias("m2"),
        F.round(
            F.sum((F.col("x1") - F.col("m1")) * (F.col("x1") - F.col("m1"))),
            8,
        ).alias("s11"),
        F.round(
            F.sum((F.col("x2") - F.col("m2")) * (F.col("x2") - F.col("m2"))),
            8,
        ).alias("s22"),
        F.round(
            F.sum((F.col("x1") - F.col("m1")) * (F.col("x2") - F.col("m2"))),
            8,
        ).alias("s12"),
        F.round(
            F.sum((F.col("x1") - F.col("m1")) * (F.col("y") - F.col("my"))),
            8,
        ).alias("s1y"),
        F.round(
            F.sum((F.col("x2") - F.col("m2")) * (F.col("y") - F.col("my"))),
            8,
        ).alias("s2y"),
    )
    lam = F.lit(RIDGE_LAMBDA)
    det_r = (F.col("s11") + lam) * (F.col("s22") + lam) - F.col("s12") * F.col("s12")
    det_o = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1r = (F.col("s1y") * (F.col("s22") + lam) - F.col("s2y") * F.col("s12")) / det_r
    b2r = (F.col("s2y") * (F.col("s11") + lam) - F.col("s1y") * F.col("s12")) / det_r
    b1o = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det_o
    b2o = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det_o
    return s.select(
        "n",
        F.round(b1r, 6).alias("b_qty_ridge"),
        F.round(b2r, 6).alias("b_disc_ridge"),
        F.round(b1o, 6).alias("b_qty_ols"),
        F.round(b2o, 6).alias("b_disc_ols"),
        F.round(
            F.col("my") - b1r * F.col("m1") - b2r * F.col("m2"), 6
        ).alias("intercept_ridge"),
    )


# ---------------------------------------------------------------------------
# R218: Brier score decomposition on a held-out hour-rate forecaster
# ---------------------------------------------------------------------------


@register(
    "brier_decomposition_purchase",
    sql="""
    WITH e AS (
      SELECT hour(ts) AS hr, event_id % 2 AS fold,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS o
      FROM events
    ),
    f AS (
      SELECT hr, round(avg(o), 6) AS fc
      FROM e WHERE fold = 0 GROUP BY hr
    ),
    t AS (
      SELECT e.hr, e.o, f.fc FROM e JOIN f ON e.hr = f.hr
      WHERE e.fold = 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(avg(o), 6) AS obar,
             round(avg((fc - o) * (fc - o)), 6) AS brier
      FROM t
    ),
    bins AS (
      SELECT hr, any_value(fc) AS fc, CAST(count(*) AS BIGINT) AS nk,
             avg(o) AS ok
      FROM t GROUP BY hr
    )
    SELECT tot.n, tot.obar, tot.brier,
           round(sum(bins.nk * (bins.fc - bins.ok) * (bins.fc - bins.ok))
                 / tot.n, 6) AS reliability,
           round(sum(bins.nk * (bins.ok - tot.obar)
                     * (bins.ok - tot.obar)) / tot.n, 6) AS resolution,
           round(tot.obar * (1 - tot.obar), 6) AS uncertainty
    FROM bins CROSS JOIN tot
    GROUP BY tot.n, tot.obar, tot.brier
    """,
)
def brier_decomposition_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R218 Murphy decomposition of the Brier score
    (brier ≈ reliability − resolution + uncertainty) for an
    hour-of-day purchase-rate forecaster FIT ON THE EVEN-event_id
    fold and EVALUATED on the odd fold — held-out, so reliability is
    genuinely nonzero. Forecast table is 24 rows (broadcast join);
    the bin decomposition groups the test fold by forecast bin. All
    rates rounded to 6dp on both engines before squaring."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.hour("ts").alias("hr"),
        (F.col("event_id") % 2).alias("fold"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("o"),
    )
    f = (
        e.where(F.col("fold") == 0)
        .groupBy("hr")
        .agg(F.round(F.avg("o"), 6).alias("fc"))
    )
    t = (
        e.where(F.col("fold") == 1)
        .join(F.broadcast(f), "hr")
        .select("hr", "o", "fc")
    )
    tot = t.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("o"), 6).alias("obar"),
        F.round(
            F.avg((F.col("fc") - F.col("o")) * (F.col("fc") - F.col("o"))),
            6,
        ).alias("brier"),
    )
    bins = t.groupBy("hr").agg(
        F.any_value("fc").alias("fc"),
        F.count("*").cast("bigint").alias("nk"),
        F.avg("o").alias("ok"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .groupBy("n", "obar", "brier")
        .agg(
            F.round(
                F.sum(
                    F.col("nk")
                    * (F.col("fc") - F.col("ok"))
                    * (F.col("fc") - F.col("ok"))
                )
                / F.any_value("n"),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(
                    F.col("nk")
                    * (F.col("ok") - F.col("obar"))
                    * (F.col("ok") - F.col("obar"))
                )
                / F.any_value("n"),
                6,
            ).alias("resolution"),
            F.round(
                F.any_value("obar") * (1 - F.any_value("obar")), 6
            ).alias("uncertainty"),
        )
        .select(
            "n", "obar", "brier", "reliability", "resolution", "uncertainty"
        )
    )


# ---------------------------------------------------------------------------
# R219: rolling 30-day distinct active users (window COUNT DISTINCT)
# ---------------------------------------------------------------------------

RW_DAYS = 30


@register(
    "rolling_30day_distinct_users",
    sql=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT days.d AS day,
           CAST(count(DISTINCT ud.user_id) AS BIGINT) AS active_30d
    FROM days JOIN ud
      ON ud.d <= days.d AND ud.d > days.d - {RW_DAYS}
    GROUP BY days.d
    ORDER BY days.d
    """,
)
def rolling_30day_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R219 trailing-30-day DISTINCT active users per day — the
    window COUNT(DISTINCT) Spark's window functions cannot express.
    Scale path: distinct (user, day) pairs explode into the ≤30
    trailing report-days each activity covers (sequence + explode,
    map-side, 30× fan-out), then ONE distinct + ONE count aggregate —
    linear in activity, no day×events range join, no global window.
    The oracle is the naive range join (quadratic but fine at gate
    SFs). rolling_7day_active_users is the additive-count sibling;
    this one is the DISTINCT variant where counts can't be added."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    covered = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.date_add(F.col("d"), RW_DAYS - 1),
            )
        ).alias("day"),
    ).distinct()
    return (
        covered.join(days, "day")  # clip to observed days
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("active_30d"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# R228: partial correlation of daily revenue and distinct customers,
# controlling for daily order count
# ---------------------------------------------------------------------------


@register(
    "partial_correlation_daily",
    sql=f"""
    WITH day AS (
      SELECT o_orderdate AS d,
             round(CAST(sum(o_totalprice) AS DOUBLE) * {_JB_SCALE!r}, 6)
               AS x,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS y,
             CAST(count(*) AS DOUBLE) AS z
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(avg(x), 6) AS mx,
             round(avg(y), 6) AS my, round(avg(z), 6) AS mz
      FROM day
    ),
    s AS (
      SELECT any_value(m.n) AS n,
             round(sum((x - mx) * (x - mx)), 8) AS sxx,
             round(sum((y - my) * (y - my)), 8) AS syy,
             round(sum((z - mz) * (z - mz)), 8) AS szz,
             round(sum((x - mx) * (y - my)), 8) AS sxy,
             round(sum((x - mx) * (z - mz)), 8) AS sxz,
             round(sum((y - my) * (z - mz)), 8) AS syz
      FROM day CROSS JOIN m
    ),
    r AS (
      SELECT n,
             round(sxy / sqrt(sxx * syy), 8) AS rxy,
             round(sxz / sqrt(sxx * szz), 8) AS rxz,
             round(syz / sqrt(syy * szz), 8) AS ryz
      FROM s
    )
    SELECT n AS n_days, round(rxy, 6) AS r_rev_cust,
           round(rxz, 6) AS r_rev_orders,
           round(ryz, 6) AS r_cust_orders,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS partial_rev_cust_given_orders
    FROM r
    """,
)
def partial_correlation_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R228 first-order PARTIAL correlation: does daily revenue
    correlate with distinct-customer count once daily order volume is
    controlled for? r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    from one moment aggregate over the day pre-aggregate; the three
    pairwise correlations are rounded before the composition
    (round-before-closed-form rule). The confounder-adjusted sibling
    of stats_aggregates' raw corr()."""
    o = load_table(spark, sf_dir, "orders")
    day = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice") * _JB_SCALE, 6).alias("x"),
        F.countDistinct("o_custkey").cast("double").alias("y"),
        F.count("*").cast("double").alias("z"),
    )
    m = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("x"), 6).alias("mx"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.avg("z"), 6).alias("mz"),
    )
    dx, dy, dz = (
        F.col("x") - F.col("mx"),
        F.col("y") - F.col("my"),
        F.col("z") - F.col("mz"),
    )
    s = day.crossJoin(F.broadcast(m)).agg(
        F.any_value("n").alias("n"),
        F.round(F.sum(dx * dx), 8).alias("sxx"),
        F.round(F.sum(dy * dy), 8).alias("syy"),
        F.round(F.sum(dz * dz), 8).alias("szz"),
        F.round(F.sum(dx * dy), 8).alias("sxy"),
        F.round(F.sum(dx * dz), 8).alias("sxz"),
        F.round(F.sum(dy * dz), 8).alias("syz"),
    )
    r = s.select(
        "n",
        F.round(F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy")), 8).alias("rxy"),
        F.round(F.col("sxz") / F.sqrt(F.col("sxx") * F.col("szz")), 8).alias("rxz"),
        F.round(F.col("syz") / F.sqrt(F.col("syy") * F.col("szz")), 8).alias("ryz"),
    )
    return r.select(
        F.col("n").alias("n_days"),
        F.round(F.col("rxy"), 6).alias("r_rev_cust"),
        F.round(F.col("rxz"), 6).alias("r_rev_orders"),
        F.round(F.col("ryz"), 6).alias("r_cust_orders"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("partial_rev_cust_given_orders"),
    )


# ---------------------------------------------------------------------------
# R238: Huber robust regression (2 fixed IRLS iterations)
# ---------------------------------------------------------------------------

HUBER_K = 1.345  # the classic 95%-efficiency tuning constant
HUBER_ITERS = 2


@register(
    "huber_regression_revenue_trend",
    sql=f"""
    WITH day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)
               AS t,
             round(CAST(sum(o_totalprice) AS DOUBLE) * {_JB_SCALE!r}, 6)
               AS y
      FROM orders GROUP BY o_orderdate
    ),
    m0 AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(avg(t), 6) AS mt,
             round(avg(y), 6) AS my
      FROM day
    ),
    f0 AS (
      SELECT any_value(n) AS n, any_value(mt) AS mt, any_value(my) AS my,
             round(sum((t - mt) * (y - my)) / sum((t - mt) * (t - mt)), 8)
               AS b1
      FROM day CROSS JOIN m0
    ),
    fit0 AS (SELECT n, round(my - b1 * mt, 6) AS b0, b1 FROM f0),
    s1 AS (
      SELECT round(quantile_cont(abs(d.y - f.b0 - f.b1 * d.t), 0.5)
                   / 0.6745, 6) AS s
      FROM day d CROSS JOIN fit0 f
    ),
    w1 AS (
      SELECT d.t, d.y,
             least(1.0, {HUBER_K!r} * s1.s
                   / greatest(abs(d.y - f.b0 - f.b1 * d.t), 1e-12)) AS w
      FROM day d CROSS JOIN fit0 f CROSS JOIN s1
    ),
    f1 AS (
      SELECT round(sum(w * t) / sum(w), 6) AS mt,
             round(sum(w * y) / sum(w), 6) AS my
      FROM w1
    ),
    b1c AS (
      SELECT round(sum(w.w * (w.t - f.mt) * (w.y - f.my))
                   / sum(w.w * (w.t - f.mt) * (w.t - f.mt)), 8) AS b1,
             any_value(f.mt) AS mt, any_value(f.my) AS my
      FROM w1 w CROSS JOIN f1 f
    ),
    fit1 AS (SELECT round(my - b1 * mt, 6) AS b0, b1 FROM b1c),
    s2 AS (
      SELECT round(quantile_cont(abs(d.y - f.b0 - f.b1 * d.t), 0.5)
                   / 0.6745, 6) AS s
      FROM day d CROSS JOIN fit1 f
    ),
    w2 AS (
      SELECT d.t, d.y,
             least(1.0, {HUBER_K!r} * s2.s
                   / greatest(abs(d.y - f.b0 - f.b1 * d.t), 1e-12)) AS w
      FROM day d CROSS JOIN fit1 f CROSS JOIN s2
    ),
    f2 AS (
      SELECT round(sum(w * t) / sum(w), 6) AS mt,
             round(sum(w * y) / sum(w), 6) AS my
      FROM w2
    ),
    b2c AS (
      SELECT round(sum(w.w * (w.t - f.mt) * (w.y - f.my))
                   / sum(w.w * (w.t - f.mt) * (w.t - f.mt)), 8) AS b1,
             any_value(f.mt) AS mt, any_value(f.my) AS my,
             round(sum(w.w), 6) AS total_weight
      FROM w2 w CROSS JOIN f2 f
    )
    SELECT f0.n AS n_days,
           round(fit0.b1, 6) AS slope_ols,
           round(b2c.b1, 6) AS slope_huber,
           round(b2c.my - b2c.b1 * b2c.mt, 4) AS intercept_huber,
           b2c.total_weight
    FROM b2c CROSS JOIN fit0 CROSS JOIN f0
    """,
)
def huber_regression_revenue_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R238 Huber M-estimator of the daily-revenue trend via TWO fixed
    IRLS iterations (k=1.345, scale = MAD/0.6745 refreshed per
    iteration): start from OLS, downweight residuals beyond k·s,
    refit weighted least squares — each iteration is one aggregate
    over the calendar-bounded day frame, so the whole robust fit is a
    fixed pipeline of scans (no driver loop, no UDF). Every
    intermediate (means, slope, scale) is rounded before reuse so
    both engines iterate identically. The robust sibling of
    theil_sen_revenue_trend (rank-based) and R205's OLS."""
    o = load_table(spark, sf_dir, "orders")
    day = o.groupBy("o_orderdate").agg(
        F.round(F.sum("o_totalprice") * _JB_SCALE, 6).alias("y")
    ).select(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("double")
        .alias("t"),
        "y",
    )
    m0 = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("t"), 6).alias("mt"),
        F.round(F.avg("y"), 6).alias("my"),
    )
    f0 = day.crossJoin(F.broadcast(m0)).agg(
        F.any_value("n").alias("n"),
        F.any_value("mt").alias("mt"),
        F.any_value("my").alias("my"),
        F.round(
            F.sum((F.col("t") - F.col("mt")) * (F.col("y") - F.col("my")))
            / F.sum(
                (F.col("t") - F.col("mt")) * (F.col("t") - F.col("mt"))
            ),
            8,
        ).alias("b1"),
    )
    fit0 = f0.select(
        "n",
        F.round(F.col("my") - F.col("b1") * F.col("mt"), 6).alias("b0"),
        "b1",
    )

    def irls_once(fit):
        resid = F.abs(F.col("y") - F.col("b0") - F.col("b1") * F.col("t"))
        s = day.crossJoin(F.broadcast(fit)).agg(
            F.round(F.expr(
                "percentile(abs(y - b0 - b1 * t), 0.5)"
            ) / 0.6745, 6).alias("s")
        )
        w = (
            day.crossJoin(F.broadcast(fit))
            .crossJoin(F.broadcast(s))
            .select(
                "t",
                "y",
                F.least(
                    F.lit(1.0),
                    HUBER_K * F.col("s") / F.greatest(resid, F.lit(1e-12)),
                ).alias("w"),
            )
        )
        fm = w.agg(
            F.round(F.sum(F.col("w") * F.col("t")) / F.sum("w"), 6).alias(
                "mt"
            ),
            F.round(F.sum(F.col("w") * F.col("y")) / F.sum("w"), 6).alias(
                "my"
            ),
        )
        bc = w.crossJoin(F.broadcast(fm)).agg(
            F.round(
                F.sum(
                    F.col("w")
                    * (F.col("t") - F.col("mt"))
                    * (F.col("y") - F.col("my"))
                )
                / F.sum(
                    F.col("w")
                    * (F.col("t") - F.col("mt"))
                    * (F.col("t") - F.col("mt"))
                ),
                8,
            ).alias("b1"),
            F.any_value("mt").alias("mt"),
            F.any_value("my").alias("my"),
            F.round(F.sum("w"), 6).alias("total_weight"),
        )
        return bc

    b1c = irls_once(fit0.select("b0", "b1"))
    fit1 = b1c.select(
        F.round(F.col("my") - F.col("b1") * F.col("mt"), 6).alias("b0"),
        "b1",
    )
    b2c = irls_once(fit1)
    return (
        b2c.crossJoin(F.broadcast(fit0.select(F.col("b1").alias("ob1"))))
        .crossJoin(F.broadcast(m0.select(F.col("n"))))
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("ob1"), 6).alias("slope_ols"),
            F.round(F.col("b1"), 6).alias("slope_huber"),
            F.round(F.col("my") - F.col("b1") * F.col("mt"), 4).alias(
                "intercept_huber"
            ),
            "total_weight",
        )
    )


# ---------------------------------------------------------------------------
# R239: risk ratio / odds ratio with Katz log CIs (2x2 effect sizes)
# ---------------------------------------------------------------------------

RR_Z = 1.959963984540054  # N(0,1) 97.5% quantile literal, both engines


@register(
    "risk_ratio_weekend_purchase",
    sql=f"""
    WITH s AS (
      SELECT CASE WHEN (CAST(ts AS DATE) - DATE '2024-01-01') % 7 IN (5, 6)
                  THEN 1 ELSE 0 END AS wk,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    cnt AS (
      SELECT CAST(sum(wk * x) AS BIGINT) AS a,
             CAST(sum(wk * (1 - x)) AS BIGINT) AS b,
             CAST(sum((1 - wk) * x) AS BIGINT) AS c,
             CAST(sum((1 - wk) * (1 - x)) AS BIGINT) AS d
      FROM s
    ),
    eff AS (
      SELECT a, b, c, d,
             round(ln((CAST(a AS DOUBLE) / (a + b))
                      / (CAST(c AS DOUBLE) / (c + d))), 8) AS lrr,
             round(sqrt(1.0/a - 1.0/(a + b) + 1.0/c - 1.0/(c + d)), 8)
               AS se_lrr,
             round(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)), 8)
               AS lor,
             round(sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d), 8) AS se_lor
      FROM cnt
    )
    SELECT a AS weekend_purchases, b AS weekend_other,
           c AS weekday_purchases, d AS weekday_other,
           round(exp(lrr), 6) AS risk_ratio,
           round(exp(lrr - {RR_Z!r} * se_lrr), 6) AS rr_ci_lo,
           round(exp(lrr + {RR_Z!r} * se_lrr), 6) AS rr_ci_hi,
           round(exp(lor), 6) AS odds_ratio,
           round(exp(lor - {RR_Z!r} * se_lor), 6) AS or_ci_lo,
           round(exp(lor + {RR_Z!r} * se_lor), 6) AS or_ci_hi
    FROM eff
    """,
)
def risk_ratio_weekend_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R239 epidemiology-style 2×2 effect sizes: risk ratio and odds
    ratio with Katz/Woolf log-scale 95% CIs — the interval companions
    to R215's exact p-value on the same weekend×purchase table. One
    integer aggregate; log effects and their SEs are rounded before
    exponentiation (round-inputs-to-transcendentals rule); the z
    quantile is a shared literal."""
    ev = load_table(spark, sf_dir, "events")
    wk = (
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
    ).isin(5, 6)
    s = ev.select(
        F.when(wk, 1).otherwise(0).alias("wk"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    cnt = s.agg(
        F.sum(F.col("wk") * F.col("x")).cast("bigint").alias("a"),
        F.sum(F.col("wk") * (1 - F.col("x"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("wk")) * F.col("x")).cast("bigint").alias("c"),
        F.sum((1 - F.col("wk")) * (1 - F.col("x")))
        .cast("bigint")
        .alias("d"),
    )
    a, b, c, d = (F.col(n).cast("double") for n in ("a", "b", "c", "d"))
    eff = cnt.select(
        "a",
        "b",
        "c",
        "d",
        F.round(F.log((a / (a + b)) / (c / (c + d))), 8).alias("lrr"),
        F.round(
            F.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d)), 8
        ).alias("se_lrr"),
        F.round(F.log(a * d / (b * c)), 8).alias("lor"),
        F.round(F.sqrt(1 / a + 1 / b + 1 / c + 1 / d), 8).alias("se_lor"),
    )
    return eff.select(
        F.col("a").alias("weekend_purchases"),
        F.col("b").alias("weekend_other"),
        F.col("c").alias("weekday_purchases"),
        F.col("d").alias("weekday_other"),
        F.round(F.exp("lrr"), 6).alias("risk_ratio"),
        F.round(F.exp(F.col("lrr") - RR_Z * F.col("se_lrr")), 6).alias(
            "rr_ci_lo"
        ),
        F.round(F.exp(F.col("lrr") + RR_Z * F.col("se_lrr")), 6).alias(
            "rr_ci_hi"
        ),
        F.round(F.exp("lor"), 6).alias("odds_ratio"),
        F.round(F.exp(F.col("lor") - RR_Z * F.col("se_lor")), 6).alias(
            "or_ci_lo"
        ),
        F.round(F.exp(F.col("lor") + RR_Z * F.col("se_lor")), 6).alias(
            "or_ci_hi"
        ),
    )


# ---------------------------------------------------------------------------
# R240: Spiegelhalter's Z calibration test for the hour-rate forecaster
# ---------------------------------------------------------------------------


@register(
    "spiegelhalter_z_calibration",
    sql="""
    WITH e AS (
      SELECT hour(ts) AS hr, event_id % 2 AS fold,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS o
      FROM events
    ),
    f AS (
      SELECT hr, round(avg(o), 6) AS fc
      FROM e WHERE fold = 0 GROUP BY hr
    ),
    t AS (
      SELECT e.o, f.fc FROM e JOIN f ON e.hr = f.hr WHERE e.fold = 1
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             round(sum((o - fc) * (1 - 2 * fc)), 8) AS num,
             round(sum(fc * (1 - fc) * (1 - 2 * fc) * (1 - 2 * fc)), 8)
               AS var_term
      FROM t
    )
    SELECT n, num AS z_numerator,
           round(sqrt(var_term), 8) AS z_denominator,
           round(num / sqrt(var_term), 6) AS spiegelhalter_z
    FROM agg
    """,
)
def spiegelhalter_z_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R240 Spiegelhalter's Z: is the held-out hour-rate forecaster's
    Brier score consistent with perfect calibration?
    Z = Σ(o−f)(1−2f) / sqrt(Σ f(1−f)(1−2f)²) over the odd test fold
    (the hypothesis-test companion to R218's decomposition — same
    fit/eval folds, same 24-row broadcast forecast join). One scan,
    one 1-row reduce; numerator/variance rounded before the final
    ratio."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.hour("ts").alias("hr"),
        (F.col("event_id") % 2).alias("fold"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("o"),
    )
    f = (
        e.where(F.col("fold") == 0)
        .groupBy("hr")
        .agg(F.round(F.avg("o"), 6).alias("fc"))
    )
    t = (
        e.where(F.col("fold") == 1)
        .join(F.broadcast(f), "hr")
        .select("o", "fc")
    )
    agg = t.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum((F.col("o") - F.col("fc")) * (1 - 2 * F.col("fc"))), 8
        ).alias("num"),
        F.round(
            F.sum(
                F.col("fc")
                * (1 - F.col("fc"))
                * (1 - 2 * F.col("fc"))
                * (1 - 2 * F.col("fc"))
            ),
            8,
        ).alias("var_term"),
    )
    return agg.select(
        "n",
        F.col("num").alias("z_numerator"),
        F.round(F.sqrt("var_term"), 8).alias("z_denominator"),
        F.round(F.col("num") / F.sqrt("var_term"), 6).alias(
            "spiegelhalter_z"
        ),
    )
