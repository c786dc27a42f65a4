"""Round-10 operator additions (R345+, SURVEY.md §2.19).

Families, chosen to fill the change-point / errors-in-variables /
multi-rater-agreement / distribution-distance / spatial-autocorrelation
gaps left after rounds 2-9 (concept-grepped against the registry
first — the round-7 lesson; pettitt/deming/page/fleiss/krippendorff/
quade/breusch-pagan/chow/hellinger/kendall-W/moran/CCF/dunn/dixon/
siegel-tukey/hosmer-lemeshow/katz had no existing implementations):

- change-point & structural breaks: Pettitt test, Chow test
- errors-in-variables: Deming regression (delta = 1)
- ordered/blocked rank tests: Page's trend, Quade, Siegel-Tukey
- multi-rater agreement: Fleiss' kappa, Krippendorff's alpha,
  Kendall's W
- distribution distances: Hellinger / Bhattacharyya / total variation
- heteroscedasticity: Breusch-Pagan LM
- graph: Moran's I over the co-purchase graph, Katz centrality
- time series: cross-correlation function (orders vs revenue)
- clustering validity: Dunn index over the gated int-Lloyd cells
- calibration: Hosmer-Lemeshow over an empirical-rate model
- outliers: Dixon's Q

Engine-parity discipline (shared with rounds 4-9): integer-exact
arithmetic wherever inputs quantize once (cent/dollar grids, rank 0.5
grids, sign sums); raw INTEGER moments kept in BIGINT and cast to
double only at the closed form (identical cast -> identical doubles);
transcendental inputs are exact-operand doubles; outputs snapped with
the shared floor(x*1e6+0.5) spelling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.queries import register


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, t, cents): calendar-day order revenue on the exact cent
    grid (per-price round-half-up, then exact long sums) with a
    1-based day index t in day order — the shared series frame for the
    round-10 time-series statistics."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("day")
    return daily.withColumn("t", F.row_number().over(w).cast("long"))




# ---------------------------------------------------------------------------
# R345 Pettitt change-point test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "pettitt_daily_revenue",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      FROM d
    ),
    -- difference array: pair (i < j) adds sign(x_i - x_j) to every
    -- U_t with i <= t < j; cumulative-summing (add - sub) yields U_t
    deltas AS MATERIALIZED (
      SELECT a.t AS ti, b.t AS tj,
             CAST(CASE WHEN a.cents > b.cents THEN 1
                       WHEN a.cents < b.cents THEN -1 ELSE 0 END
                  AS BIGINT) AS s
      FROM idx a JOIN idx b ON a.t < b.t
    ),
    adds AS (
      SELECT ti AS t, CAST(sum(s) AS BIGINT) AS v FROM deltas GROUP BY ti
    ),
    subs AS (
      SELECT tj AS t, CAST(sum(s) AS BIGINT) AS v FROM deltas GROUP BY tj
    ),
    u AS (
      SELECT i.t, i.day,
             sum(COALESCE(a.v, 0) - COALESCE(s.v, 0)) OVER (
               ORDER BY i.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS ut
      FROM idx i
      LEFT JOIN adds a ON a.t = i.t
      LEFT JOIN subs s ON s.t = i.t
    ),
    best AS (
      SELECT t, day, abs(ut) AS k FROM u
      WHERE t < (SELECT max(t) FROM idx)
      ORDER BY abs(ut) DESC, day LIMIT 1
    )
    SELECT (SELECT CAST(max(t) AS BIGINT) FROM idx) AS n_days,
           CAST(best.k AS BIGINT) AS k_stat,
           best.day AS change_day,
           round(2 * exp(-6.0 * best.k * best.k /
                 (power(CAST((SELECT max(t) FROM idx) AS DOUBLE), 3)
                  + power(CAST((SELECT max(t) FROM idx) AS DOUBLE), 2))), 6)
             AS p_approx
    FROM best
    """,
)
def pettitt_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R345 Pettitt (1979) nonparametric change-point test on daily
    revenue: U_t = sum over (i <= t < j) of sign(x_i - x_j); the
    change point is argmax |U_t| and the approximate significance is
    2*exp(-6K^2/(T^3+T^2)).  The O(T^2) pairwise sign sum is computed
    as a DIFFERENCE ARRAY (pair (i,j) contributes to a range of t) so
    the per-t statistic is one cumulative window over T rows — the
    pair join is calendar-bounded (T~2400 days at sf0.1, ~2.9M sign
    pairs; the day count does not grow with row volume).  Cents are
    exact longs, so every sign, sum and |U| is integer-exact; the only
    float is the final exp of exact-operand arguments."""
    d = _daily_cents(spark, sf_dir)
    a = d.select(F.col("t").alias("ti"), F.col("cents").alias("xa"))
    b = d.select(F.col("t").alias("tj"), F.col("cents").alias("xb"))
    s = F.when(F.col("xa") > F.col("xb"), 1).when(
        F.col("xa") < F.col("xb"), -1
    ).otherwise(0).cast("long")
    deltas = (
        a.join(b, F.col("ti") < F.col("tj"))
        .select("ti", "tj", s.alias("s"))
        .localCheckpoint(eager=False)
    )
    adds = deltas.groupBy(F.col("ti").alias("t")).agg(
        F.sum("s").cast("long").alias("av")
    )
    subs = deltas.groupBy(F.col("tj").alias("t")).agg(
        F.sum("s").cast("long").alias("sv")
    )
    u = (
        d.join(adds, on="t", how="left")
        .join(subs, on="t", how="left")
        .select(
            "t",
            "day",
            (
                F.coalesce(F.col("av"), F.lit(0))
                - F.coalesce(F.col("sv"), F.lit(0))
            ).alias("dv"),
        )
        .withColumn(
            "ut",
            F.sum("dv").over(
                Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    n = d.agg(F.max("t").cast("long").alias("n_days"))
    best = (
        u.join(F.broadcast(n))
        .where(F.col("t") < F.col("n_days"))
        .orderBy(F.abs(F.col("ut")).desc(), "day")
        .limit(1)
    )
    tt = F.col("n_days").cast("double")
    return best.select(
        "n_days",
        F.abs(F.col("ut")).cast("long").alias("k_stat"),
        F.col("day").alias("change_day"),
        F.round(
            2
            * F.exp(
                -6.0
                * F.abs(F.col("ut"))
                * F.abs(F.col("ut"))
                / (F.pow(tt, 3) + F.pow(tt, 2))
            ),
            6,
        ).alias("p_approx"),
    )


# ---------------------------------------------------------------------------
# R346 Deming regression (errors-in-variables, delta = 1)
# ---------------------------------------------------------------------------


@register(
    "deming_daily_regression",
    sql="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) / 100) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM d
    )
    SELECT n AS n_days,
           round((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                  - (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                  + sqrt(power(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                               - (CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * sx / n), 2)
                         + 4 * power(CAST(sxy AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * sy / n, 2)))
                 / (2 * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)),
                 6) AS slope,
           round(CAST(sy AS DOUBLE) / n
                 - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
                     - (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                     + sqrt(power(CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * sy / n
                                  - (CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * sx / n), 2)
                            + 4 * power(CAST(sxy AS DOUBLE)
                                        - CAST(sx AS DOUBLE) * sy / n, 2)))
                    / (2 * (CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * sy / n)))
                   * (CAST(sx AS DOUBLE) / n), 4) AS intercept
    FROM m
    """,
)
def deming_daily_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R346 Deming regression (errors-in-variables, error-variance
    ratio delta = 1) of daily revenue DOLLARS on daily order count:
    slope = (Syy - Sxx + sqrt((Syy - Sxx)^2 + 4 Sxy^2)) / (2 Sxy) —
    the symmetric fit a measurement-comparison study uses when BOTH
    variables carry noise (OLS, which conditions on x, is already
    gated as ols_daily_revenue-family queries).  Revenue quantizes to
    exact whole DOLLARS (cents are exact longs; the dollar floor keeps
    sum(y^2) ~ 2.4e17 inside BIGINT at sf0.1 and the 10x smoke), all
    raw moments are exact BIGINTs, and the closed form consumes
    identically-cast doubles — bit-deterministic through the correctly
    rounded sqrt.  One hash aggregate to a 1-row moment frame at any
    scale."""
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 100
            )
            .cast("long")
            .alias("y"),
        )
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / nd
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / nd
    slope = (cyy - cxx + F.sqrt(F.pow(cyy - cxx, 2) + 4 * F.pow(cxy, 2))) / (
        2 * cxy
    )
    intercept = F.col("sy").cast("double") / nd - slope * (
        F.col("sx").cast("double") / nd
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# R347 Page's trend test (ordered alternative across weekdays)
# ---------------------------------------------------------------------------


@register(
    "pages_trend_weekday",
    sql="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') // 7
                  AS BIGINT) AS blk,
             CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS dow,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2, 3
    ),
    full_blk AS (
      SELECT blk FROM d GROUP BY blk HAVING count(*) = 7
    ),
    k AS (SELECT d.* FROM d JOIN full_blk USING (blk)),
    r AS (   -- within-block average ranks from the 7x7 self-join
      SELECT a.blk, a.dow,
             sum(CASE WHEN b.cents < a.cents THEN 1.0
                      WHEN b.cents = a.cents THEN 0.5 ELSE 0 END) + 0.5
               AS rnk
      FROM k a JOIN k b ON a.blk = b.blk
      GROUP BY a.blk, a.dow
    ),
    rs AS (
      SELECT dow, sum(rnk) AS rj FROM r GROUP BY dow
    ),
    agg AS (
      SELECT CAST((SELECT count(*) FROM full_blk) AS BIGINT) AS m,
             sum((dow + 1) * rj) AS l
      FROM rs
    )
    SELECT m AS n_blocks, round(l, 1) AS l_stat,
           round((12 * l - 3.0 * m * 7 * (7 + 1) * (7 + 1))
                 / (7.0 * (7 + 1) * sqrt(CAST(m AS DOUBLE) * 7 * (7 - 1))),
                 6) AS z
    FROM agg
    """,
)
def pages_trend_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R347 Page's trend test (Page 1963) for an ORDERED alternative
    across the 7 weekdays, blocked by calendar week: L = sum_j j * R_j
    where R_j is the rank sum of weekday j across complete weeks —
    the monotone-trend-sensitive twin of the gated Friedman test
    (which only detects ANY treatment difference).  Within-block
    average ranks come from the 7x7 self-join (block-bounded, never a
    data window); ranks live on the exact 0.5 grid over exact cents,
    so L is grid-exact and the z approximation consumes exact-operand
    doubles.  Weekday index uses the 1990-01-01 Monday anchor (the
    round-8 dayofweek parity rule)."""
    anchor = F.lit("1990-01-01").cast("date")
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(
                F.datediff(F.col("o_orderdate").cast("date"), anchor) / 7
            )
            .cast("long")
            .alias("blk"),
            (
                F.datediff(F.col("o_orderdate").cast("date"), anchor) % 7
            )
            .cast("long")
            .alias("dow"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    full_blk = d.groupBy("blk").count().where(F.col("count") == 7).select("blk")
    k = d.join(full_blk, on="blk")
    a = k.select("blk", "dow", "cents")
    b = k.select(F.col("blk").alias("blk2"), F.col("cents").alias("c2"))
    r = (
        a.join(b, F.col("blk") == F.col("blk2"))
        .groupBy("blk", "dow")
        .agg(
            (
                F.sum(
                    F.when(F.col("c2") < F.col("cents"), 1.0)
                    .when(F.col("c2") == F.col("cents"), 0.5)
                    .otherwise(0.0)
                )
                + 0.5
            ).alias("rnk")
        )
    )
    rs = r.groupBy("dow").agg(F.sum("rnk").alias("rj"))
    m_ = full_blk.agg(F.count("*").cast("long").alias("m"))
    agg = rs.agg(F.sum((F.col("dow") + 1) * F.col("rj")).alias("l")).crossJoin(
        F.broadcast(m_)
    )
    md = F.col("m").cast("double")
    return agg.select(
        F.col("m").alias("n_blocks"),
        F.round(F.col("l"), 1).alias("l_stat"),
        F.round(
            (12 * F.col("l") - 3.0 * F.col("m") * 7 * 8 * 8)
            / (7.0 * 8 * F.sqrt(md * 7 * 6)),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# R348/R349 multi-rater agreement: Fleiss' kappa, Krippendorff's alpha
# ---------------------------------------------------------------------------

_RATERS_SQL = """
    rated AS MATERIALIZED (
      SELECT o.o_orderkey,
             CASE WHEN o.o_totalprice < 77000 THEN 0
                  WHEN o.o_totalprice < 150000 THEN 1 ELSE 2 END AS c1,
             CASE WHEN l.gross < 7500000 THEN 0
                  WHEN l.gross < 14500000 THEN 1 ELSE 2 END AS c2,
             CASE WHEN l.qty < 60 THEN 0
                  WHEN l.qty < 120 THEN 1 ELSE 2 END AS c3
      FROM orders o
      JOIN (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS gross,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY l_orderkey
      ) l ON l.l_orderkey = o.o_orderkey
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END
                    + CASE WHEN c1 = c3 THEN 1 ELSE 0 END
                    + CASE WHEN c2 = c3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS pairs,
             CAST(sum(CASE WHEN c1 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN c2 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN c3 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n0,
             CAST(sum(CASE WHEN c1 = 1 THEN 1 ELSE 0 END
                    + CASE WHEN c2 = 1 THEN 1 ELSE 0 END
                    + CASE WHEN c3 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c1 = 2 THEN 1 ELSE 0 END
                    + CASE WHEN c2 = 2 THEN 1 ELSE 0 END
                    + CASE WHEN c3 = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM rated
    )
"""


def _rated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, c1, c2, c3): three deterministic order-size
    'raters' — header total price, line gross (exact cents), total
    quantity — each bucketing every order into {small, mid, large}.
    Correlated but not identical, the classic inter-rater shape."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("gross"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
    )
    cat = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, 0).when(c < hi, 1).otherwise(2)
    )
    return o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        "o_orderkey",
        cat(F.col("o_totalprice"), 77000, 150000).alias("c1"),
        cat(F.col("gross"), 7500000, 14500000).alias("c2"),
        cat(F.col("qty"), 60, 120).alias("c3"),
    )


def _rater_counts(rated: DataFrame) -> DataFrame:
    eq = lambda a, b: F.when(F.col(a) == F.col(b), 1).otherwise(0)  # noqa: E731
    isj = lambda c, j: F.when(F.col(c) == j, 1).otherwise(0)  # noqa: E731
    return rated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(eq("c1", "c2") + eq("c1", "c3") + eq("c2", "c3"))
        .cast("long")
        .alias("pairs"),
        F.sum(isj("c1", 0) + isj("c2", 0) + isj("c3", 0))
        .cast("long")
        .alias("n0"),
        F.sum(isj("c1", 1) + isj("c2", 1) + isj("c3", 1))
        .cast("long")
        .alias("n1"),
        F.sum(isj("c1", 2) + isj("c2", 2) + isj("c3", 2))
        .cast("long")
        .alias("n2"),
    )


@register(
    "fleiss_kappa_orders",
    sql=f"""
    WITH {_RATERS_SQL.strip()}
    SELECT n AS n_items,
           round((CAST(3 * n + 2 * pairs AS DOUBLE) - 3.0 * n)
                 / (3.0 * n * 2), 6) AS p_bar,
           round((CAST(n0 AS DOUBLE) * n0 + CAST(n1 AS DOUBLE) * n1
                  + CAST(n2 AS DOUBLE) * n2) / (9.0 * n * n), 6) AS p_e,
           round(((CAST(3 * n + 2 * pairs AS DOUBLE) - 3.0 * n)
                    / (3.0 * n * 2)
                  - (CAST(n0 AS DOUBLE) * n0 + CAST(n1 AS DOUBLE) * n1
                     + CAST(n2 AS DOUBLE) * n2) / (9.0 * n * n))
                 / (1 - (CAST(n0 AS DOUBLE) * n0 + CAST(n1 AS DOUBLE) * n1
                         + CAST(n2 AS DOUBLE) * n2) / (9.0 * n * n)),
                 6) AS kappa
    FROM counts
    """,
)
def fleiss_kappa_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R348 Fleiss' kappa (1971): chance-corrected agreement of m = 3
    raters assigning n items to k = 3 categories — the multi-rater
    generalization of the gated Cohen's kappa (R84, which handles
    exactly 2 raters).  Raters are three deterministic order-size
    signals (header price, exact-cent line gross, total quantity).
    With m = 3, per-item agreement reduces to the EQUAL-PAIR count:
    sum_j n_ij^2 = 3 + 2 * (#equal rater pairs), so P-bar and P-e
    both have INTEGER numerators (no per-item float mean) and kappa
    is an exact-operand double.  One pass over orders + one
    lineitem rollup at any scale."""
    counts = _rater_counts(_rated_orders(spark, sf_dir))
    nd = F.col("n").cast("double")
    s2 = (3 * F.col("n") + 2 * F.col("pairs")).cast("double")
    p_bar = (s2 - 3.0 * F.col("n")) / (3.0 * F.col("n") * 2)
    p_e = (
        F.col("n0").cast("double") * F.col("n0")
        + F.col("n1").cast("double") * F.col("n1")
        + F.col("n2").cast("double") * F.col("n2")
    ) / (9.0 * nd * nd)
    return counts.select(
        F.col("n").alias("n_items"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (1 - p_e), 6).alias("kappa"),
    )


@register(
    "krippendorff_alpha_orders",
    sql=f"""
    WITH {_RATERS_SQL.strip()}
    SELECT n AS n_items,
           round(1 - (CAST(3 * n + 2 * pairs AS DOUBLE) - 3.0 * n)
                     / (3.0 * n * 2), 6) AS d_o,
           round(1 - (CAST(n0 AS DOUBLE) * (n0 - 1)
                      + CAST(n1 AS DOUBLE) * (n1 - 1)
                      + CAST(n2 AS DOUBLE) * (n2 - 1))
                     / (CAST(3 * n AS DOUBLE) * (3 * n - 1)), 6) AS d_e,
           round(1 - (1 - (CAST(3 * n + 2 * pairs AS DOUBLE) - 3.0 * n)
                          / (3.0 * n * 2))
                     / (1 - (CAST(n0 AS DOUBLE) * (n0 - 1)
                             + CAST(n1 AS DOUBLE) * (n1 - 1)
                             + CAST(n2 AS DOUBLE) * (n2 - 1))
                            / (CAST(3 * n AS DOUBLE) * (3 * n - 1))),
                 6) AS alpha
    FROM counts
    """,
)
def krippendorff_alpha_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R349 Krippendorff's alpha (nominal metric, complete data) over
    the same 3-rater order-size matrix as R348: alpha = 1 - Do/De
    where Do is observed within-item disagreement and De the
    disagreement expected from the pooled category margins WITHOUT
    replacement (N_j(N_j - 1)/(N(N-1)) — the small-sample correction
    that distinguishes alpha from Fleiss' kappa; the two converge as
    N grows).  Integer numerators throughout, same single-pass
    shape."""
    counts = _rater_counts(_rated_orders(spark, sf_dir))
    s2 = (3 * F.col("n") + 2 * F.col("pairs")).cast("double")
    d_o = 1 - (s2 - 3.0 * F.col("n")) / (3.0 * F.col("n") * 2)
    nn = (3 * F.col("n")).cast("double")
    d_e = 1 - (
        F.col("n0").cast("double") * (F.col("n0") - 1)
        + F.col("n1").cast("double") * (F.col("n1") - 1)
        + F.col("n2").cast("double") * (F.col("n2") - 1)
    ) / (nn * (nn - 1))
    return counts.select(
        F.col("n").alias("n_items"),
        F.round(d_o, 6).alias("d_o"),
        F.round(d_e, 6).alias("d_e"),
        F.round(1 - d_o / d_e, 6).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# R350 Quade test (weighted rank block test across weekdays)
# ---------------------------------------------------------------------------


@register(
    "quade_weekday_revenue",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') // 7
                  AS BIGINT) AS blk,
             CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS dow,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2, 3
    ),
    full_blk AS (SELECT blk FROM d GROUP BY blk HAVING count(*) = 7),
    k AS MATERIALIZED (SELECT d.* FROM d JOIN full_blk USING (blk)),
    r AS (   -- within-block average ranks (7x7 block-bounded join)
      SELECT a.blk, a.dow,
             sum(CASE WHEN b.cents < a.cents THEN 1.0
                      WHEN b.cents = a.cents THEN 0.5 ELSE 0 END) + 0.5
               AS rnk
      FROM k a JOIN k b ON a.blk = b.blk
      GROUP BY a.blk, a.dow
    ),
    rng AS (   -- block sample ranges, ranked across blocks (avg ties)
      SELECT blk, max(cents) - min(cents) AS rge FROM k GROUP BY blk
    ),
    q AS (
      SELECT a.blk,
             sum(CASE WHEN b.rge < a.rge THEN 1.0
                      WHEN b.rge = a.rge THEN 0.5 ELSE 0 END) + 0.5 AS qb
      FROM rng a JOIN rng b ON true
      GROUP BY a.blk, a.rge
    ),
    s AS (
      SELECT r.blk, r.dow, q.qb * (r.rnk - 4.0) AS sbj
      FROM r JOIN q USING (blk)
    ),
    sj AS (SELECT dow, sum(sbj) AS sj FROM s GROUP BY dow),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM full_blk) AS m,
             (SELECT sum(sbj * sbj) FROM s) AS a_stat,
             sum(sj * sj) AS bsum
      FROM sj
    )
    SELECT m AS n_blocks,
           round(a_stat, 4) AS a_stat,
           round(bsum / m, 4) AS b_stat,
           round((m - 1) * (bsum / m) / (a_stat - bsum / m), 6) AS quade_f
    FROM agg
    """,
)
def quade_weekday_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R350 Quade test (1979): the block-weighted rank test across the
    7 weekdays over complete calendar weeks — Friedman (gated, R?)
    weights every block equally, Quade up-weights blocks with LARGER
    within-block spread (block weight = rank of the block's sample
    range), which is more powerful when effect size scales with block
    variability.  F = (m-1)B/(A-B) with S_bj = Q_b(r_bj - (k+1)/2).
    Within-block ranks come from the 7x7 block-bounded join; block
    range ranks from the m x m block-frame join (m ~ calendar weeks —
    bounded by the date range, not row volume).  Ranks and ranges are
    exact (0.5 grid over exact cents), so A and B are exact 0.25-grid
    sums and F is an exact-operand double."""
    anchor = F.lit("1990-01-01").cast("date")
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.datediff(F.col("o_orderdate").cast("date"), anchor) / 7)
            .cast("long")
            .alias("blk"),
            (F.datediff(F.col("o_orderdate").cast("date"), anchor) % 7)
            .cast("long")
            .alias("dow"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    full_blk = d.groupBy("blk").count().where(F.col("count") == 7).select("blk")
    k = d.join(full_blk, on="blk").localCheckpoint(eager=False)
    b = k.select(F.col("blk").alias("blk2"), F.col("cents").alias("c2"))
    r = (
        k.join(b, F.col("blk") == F.col("blk2"))
        .groupBy("blk", "dow")
        .agg(
            (
                F.sum(
                    F.when(F.col("c2") < F.col("cents"), 1.0)
                    .when(F.col("c2") == F.col("cents"), 0.5)
                    .otherwise(0.0)
                )
                + 0.5
            ).alias("rnk")
        )
    )
    rng = k.groupBy("blk").agg(
        (F.max("cents") - F.min("cents")).alias("rge")
    )
    rng2 = rng.select(F.col("rge").alias("rge2"))
    q = (
        rng.crossJoin(rng2)
        .groupBy("blk", "rge")
        .agg(
            (
                F.sum(
                    F.when(F.col("rge2") < F.col("rge"), 1.0)
                    .when(F.col("rge2") == F.col("rge"), 0.5)
                    .otherwise(0.0)
                )
                + 0.5
            ).alias("qb")
        )
        .select("blk", "qb")
    )
    s = r.join(q, on="blk").select(
        "dow", (F.col("qb") * (F.col("rnk") - 4.0)).alias("sbj")
    ).localCheckpoint(eager=False)
    a_stat = s.agg(F.sum(F.col("sbj") * F.col("sbj")).alias("a_stat"))
    sj = s.groupBy("dow").agg(F.sum("sbj").alias("sj"))
    m_ = full_blk.agg(F.count("*").cast("long").alias("m"))
    agg = (
        sj.agg(F.sum(F.col("sj") * F.col("sj")).alias("bsum"))
        .crossJoin(F.broadcast(a_stat))
        .crossJoin(F.broadcast(m_))
    )
    bm = F.col("bsum") / F.col("m")
    return agg.select(
        F.col("m").alias("n_blocks"),
        F.round(F.col("a_stat"), 4).alias("a_stat"),
        F.round(bm, 4).alias("b_stat"),
        F.round((F.col("m") - 1) * bm / (F.col("a_stat") - bm), 6).alias(
            "quade_f"
        ),
    )


# ---------------------------------------------------------------------------
# R351 Breusch-Pagan heteroscedasticity test (daily revenue trend)
# ---------------------------------------------------------------------------


@register(
    "breusch_pagan_daily",
    sql="""
    WITH daily AS (
      SELECT o_orderdate AS day, round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, rev
      FROM daily
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             round((count(*) * sum(t * rev) - sum(t) * sum(rev))
                   / (count(*) * sum(t * t) - sum(t) * sum(t)), 6) AS b
      FROM idx
    ),
    fit2 AS (
      SELECT f.n, f.b,
             round((sum(i.rev) - f.b * sum(i.t)) / f.n, 4) AS a
      FROM idx i CROSS JOIN fit f GROUP BY f.n, f.b
    ),
    g AS MATERIALIZED (   -- squared residuals of the ROUNDED fit
      SELECT i.t, pow(i.rev - (f.a + f.b * i.t), 2) AS g2
      FROM idx i CROSS JOIN fit2 f
    ),
    aux AS (   -- R^2 of the auxiliary regression g2 ~ t
      SELECT CAST(count(*) AS BIGINT) AS n,
             (count(*) * sum(t * g2) - sum(t) * sum(g2))
               / sqrt((count(*) * sum(t * t) - sum(t) * sum(t))
                      * (count(*) * sum(g2 * g2) - sum(g2) * sum(g2)))
               AS rho
      FROM g
    )
    SELECT n AS n_days,
           round(rho * rho, 6) AS r2_aux,
           round(n * rho * rho, 6) AS lm_stat
    FROM aux
    """,
)
def breusch_pagan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R351 Breusch-Pagan (Koenker studentized form) test for
    heteroscedasticity of the daily-revenue linear trend: regress the
    SQUARED residuals on the regressor; LM = n * R^2_aux is
    chi-square(1) under homoscedasticity — the diagnostic that says
    whether the gated OLS/DW trend's standard errors need robust
    (White) corrections.  Follows the gated Durbin-Watson residual
    discipline exactly: slope/intercept ROUNDED before the residual
    pass so both engines subtract identical fits; the auxiliary
    moments run over the calendar-bounded day frame."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    w_day = Window.orderBy("day")
    idx = daily.select(
        F.row_number().over(w_day).cast("bigint").alias("t"), "rev"
    ).localCheckpoint(eager=False)
    fit = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            (
                F.count("*") * F.sum(F.col("t") * F.col("rev"))
                - F.sum("t") * F.sum("rev")
            )
            / (
                F.count("*") * F.sum(F.col("t") * F.col("t"))
                - F.sum("t") * F.sum("t")
            ),
            6,
        ).alias("b"),
    )
    fit2 = (
        idx.crossJoin(F.broadcast(fit))
        .groupBy("n", "b")
        .agg(
            F.round(
                (F.sum("rev") - F.col("b") * F.sum("t")) / F.col("n"), 4
            ).alias("a")
        )
    )
    g = idx.crossJoin(F.broadcast(fit2)).select(
        "t",
        F.pow(F.col("rev") - (F.col("a") + F.col("b") * F.col("t")), 2).alias(
            "g2"
        ),
    )
    aux = g.agg(
        F.count("*").cast("bigint").alias("n"),
        (
            (
                F.count("*") * F.sum(F.col("t") * F.col("g2"))
                - F.sum("t") * F.sum("g2")
            )
            / F.sqrt(
                (
                    F.count("*") * F.sum(F.col("t") * F.col("t"))
                    - F.sum("t") * F.sum("t")
                )
                * (
                    F.count("*") * F.sum(F.col("g2") * F.col("g2"))
                    - F.sum("g2") * F.sum("g2")
                )
            )
        ).alias("rho"),
    )
    return aux.select(
        F.col("n").alias("n_days"),
        F.round(F.col("rho") * F.col("rho"), 6).alias("r2_aux"),
        F.round(F.col("n") * F.col("rho") * F.col("rho"), 6).alias("lm_stat"),
    )


# ---------------------------------------------------------------------------
# R352 Chow structural-break test on the daily revenue trend
# ---------------------------------------------------------------------------


@register(
    "chow_break_daily",
    sql="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) / 100) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, y
      FROM d
    ),
    lab AS (
      SELECT t, y,
             CASE WHEN t <= (SELECT max(t) FROM idx) // 2
                  THEN 0 ELSE 1 END AS seg
      FROM idx
    ),
    mom AS (   -- raw integer moments per regime and pooled (seg 2)
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(t * y) AS BIGINT) AS sty,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM (SELECT seg, t, y FROM lab
            UNION ALL SELECT 2 AS seg, t, y FROM lab) u
      GROUP BY seg
    ),
    rss AS (
      SELECT seg, n,
             CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n
               - pow(CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n, 2)
                 / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
               AS rss
      FROM mom
    )
    SELECT p.n AS n_days,
           (SELECT n FROM rss WHERE seg = 0) AS n_pre,
           round(((p.rss - a.rss - b.rss) / 2)
                 / ((a.rss + b.rss) / (p.n - 4)), 6) AS chow_f
    FROM (SELECT * FROM rss WHERE seg = 2) p,
         (SELECT * FROM rss WHERE seg = 0) a,
         (SELECT * FROM rss WHERE seg = 1) b
    """,
)
def chow_break_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R352 Chow (1960) structural-break F-test of the daily-revenue
    linear trend at the series midpoint: F = ((RSS_pooled - RSS_1 -
    RSS_2)/k) / ((RSS_1 + RSS_2)/(n - 2k)), k = 2 parameters — the
    classic "did the regime change?" companion to the gated Pettitt
    (which finds WHERE) and CUSUM (which monitors).  Revenue on the
    exact dollar grid; each regime's RSS comes from raw BIGINT
    moments via RSS = Syy - Sxy^2/Sxx (identically-cast doubles), so
    the statistic is bit-deterministic.  One aggregate over the
    calendar-day frame; the union doubles a ~2400-row frame, nothing
    row-scaled."""
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 100
            )
            .cast("long")
            .alias("y")
        )
    )
    w = Window.orderBy("day")
    idx = d.select(
        F.row_number().over(w).cast("long").alias("t"), "y"
    ).localCheckpoint(eager=False)
    half = idx.agg(F.floor(F.max("t") / 2).cast("long").alias("h"))
    lab = idx.crossJoin(F.broadcast(half)).select(
        "t", "y", F.when(F.col("t") <= F.col("h"), 0).otherwise(1).alias("seg")
    )
    u = lab.select("seg", "t", "y").unionAll(
        lab.select(F.lit(2).alias("seg"), "t", "y")
    )
    mom = u.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    rss = mom.select(
        "seg",
        "n",
        (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy") / nd
            - F.pow(
                F.col("sty").cast("double")
                - F.col("st").cast("double") * F.col("sy") / nd,
                2,
            )
            / (
                F.col("stt").cast("double")
                - F.col("st").cast("double") * F.col("st") / nd
            )
        ).alias("rss"),
    )
    p = rss.where(F.col("seg") == 2).select(
        F.col("n").alias("n_days"), F.col("rss").alias("rp")
    )
    a = rss.where(F.col("seg") == 0).select(
        F.col("n").alias("n_pre"), F.col("rss").alias("ra")
    )
    b = rss.where(F.col("seg") == 1).select(F.col("rss").alias("rb"))
    return (
        p.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(b))
        .select(
            "n_days",
            "n_pre",
            F.round(
                ((F.col("rp") - F.col("ra") - F.col("rb")) / 2)
                / ((F.col("ra") + F.col("rb")) / (F.col("n_days") - 4)),
                6,
            ).alias("chow_f"),
        )
    )


# ---------------------------------------------------------------------------
# R353 distribution distances between two sources' token distributions
# ---------------------------------------------------------------------------


@register(
    "dist_distance_sources",
    sql="""
    WITH toks AS (
      SELECT source, t.tok, CAST(count(*) AS BIGINT) AS c
      FROM documents
      CROSS JOIN LATERAL (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS tok
      ) t
      WHERE source IN ('src0', 'src1')
      GROUP BY source, t.tok
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM toks GROUP BY source),
    pq AS (
      SELECT COALESCE(a.tok, b.tok) AS tok,
             COALESCE(CAST(a.c AS DOUBLE), 0)
               / (SELECT n FROM tot WHERE source = 'src0') AS p,
             COALESCE(CAST(b.c AS DOUBLE), 0)
               / (SELECT n FROM tot WHERE source = 'src1') AS q
      FROM (SELECT tok, c FROM toks WHERE source = 'src0') a
      FULL OUTER JOIN (SELECT tok, c FROM toks WHERE source = 'src1') b
        ON a.tok = b.tok
    ),
    terms AS (   -- per-term 12dp snap: grid sums are order-exact
      SELECT floor(sqrt(p * q) * 1e12 + 0.5) / 1e12 AS bc_t,
             floor(abs(p - q) * 1e12 + 0.5) / 1e12 AS tv_t
      FROM pq
    )
    SELECT CAST((SELECT count(*) FROM pq) AS BIGINT) AS n_tokens,
           round(sum(bc_t), 6) AS bhattacharyya,
           round(sqrt(1 - least(sum(bc_t), 1.0)), 6) AS hellinger,
           round(sum(tv_t) / 2, 6) AS total_variation
    FROM terms
    """,
)
def dist_distance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R353 distribution distances between two sources' unigram
    distributions: Bhattacharyya coefficient BC = sum sqrt(p*q),
    Hellinger distance sqrt(1 - BC), and total variation
    (1/2) sum |p - q| — the bounded-metric companions to the gated
    KL/JS divergences (which are unbounded / log-based).  p and q are
    exact-operand ratios of BIGINT counts; each term is snapped to the
    1e-12 grid BEFORE summing so the vocabulary-sized sums are
    order-exact in both engines (sqrt is correctly rounded, so terms
    are bit-identical).  Token explode + one equi full-outer join on
    the token key — scales with vocabulary, not corpus."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1")
    )
    toks = (
        docs.select(
            "source",
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = toks.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = (
        toks.where(F.col("source") == "src0")
        .join(F.broadcast(tot.where(F.col("source") == "src0")), "source")
        .select("tok", (F.col("c").cast("double") / F.col("n")).alias("p"))
    )
    b = (
        toks.where(F.col("source") == "src1")
        .join(F.broadcast(tot.where(F.col("source") == "src1")), "source")
        .select(F.col("tok").alias("tok_b"), (F.col("c").cast("double") / F.col("n")).alias("q"))
    )
    pq = a.join(b, a["tok"] == b["tok_b"], "full_outer").select(
        F.coalesce(F.col("p"), F.lit(0.0)).alias("p"),
        F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
    )
    snap12 = lambda c: F.floor(c * 1e12 + F.lit(0.5)) / 1e12  # noqa: E731
    terms = pq.select(
        snap12(F.sqrt(F.col("p") * F.col("q"))).alias("bc_t"),
        snap12(F.abs(F.col("p") - F.col("q"))).alias("tv_t"),
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.sum("bc_t"), 6).alias("bhattacharyya"),
        F.round(
            F.sqrt(1 - F.least(F.sum("bc_t"), F.lit(1.0))), 6
        ).alias("hellinger"),
        F.round(F.sum("tv_t") / 2, 6).alias("total_variation"),
    )


# ---------------------------------------------------------------------------
# R354 Kendall's W: concordance of weekly weekday-revenue rankings
# ---------------------------------------------------------------------------


@register(
    "kendalls_w_weekday",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') // 7
                  AS BIGINT) AS blk,
             CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS dow,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    full_blk AS (SELECT blk FROM d GROUP BY blk HAVING count(*) = 7),
    k AS MATERIALIZED (SELECT d.* FROM d JOIN full_blk USING (blk)),
    r AS (
      SELECT a.blk, a.dow,
             sum(CASE WHEN b.cents < a.cents THEN 1.0
                      WHEN b.cents = a.cents THEN 0.5 ELSE 0 END) + 0.5
               AS rnk
      FROM k a JOIN k b ON a.blk = b.blk
      GROUP BY a.blk, a.dow
    ),
    rj AS (SELECT dow, sum(rnk) AS rj FROM r GROUP BY dow),
    ties AS (   -- per-block tie correction sum_b sum_groups (t^3 - t)
      SELECT COALESCE(sum(tc), 0) AS tsum FROM (
        SELECT blk, sum(cnt * cnt * cnt - cnt) AS tc FROM (
          SELECT blk, cents, CAST(count(*) AS BIGINT) AS cnt
          FROM k GROUP BY blk, cents
        ) g GROUP BY blk
      ) b
    ),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM full_blk) AS m,
             sum(rj * rj) AS srj2,
             (SELECT tsum FROM ties) AS tsum
      FROM rj
    )
    SELECT m AS n_blocks,
           round((12 * srj2 - 3.0 * m * m * 7 * (7 + 1) * (7 + 1))
                 / (CAST(m AS DOUBLE) * m * 7 * (7 * 7 - 1)
                    - m * tsum), 6) AS kendalls_w
    FROM agg
    """,
)
def kendalls_w_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R354 Kendall's coefficient of concordance W (with the standard
    tie correction): how consistently the m complete calendar weeks
    rank the 7 weekdays by revenue — W = 1 means every week produces
    the same weekday ordering, W = 0 means no shared pattern.  The
    agreement-strength companion to Friedman/Page/Quade (which test
    significance; W = chi2_F/(m(n-1)) measures effect size).  Ranks
    on the exact 0.5 grid from the 7x7 block join; the tie term
    sum(t^3 - t) is integer; the closed form is exact-operand."""
    anchor = F.lit("1990-01-01").cast("date")
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.datediff(F.col("o_orderdate").cast("date"), anchor) / 7)
            .cast("long")
            .alias("blk"),
            (F.datediff(F.col("o_orderdate").cast("date"), anchor) % 7)
            .cast("long")
            .alias("dow"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    full_blk = d.groupBy("blk").count().where(F.col("count") == 7).select("blk")
    k = d.join(full_blk, on="blk").localCheckpoint(eager=False)
    b2 = k.select(F.col("blk").alias("blk2"), F.col("cents").alias("c2"))
    r = (
        k.join(b2, F.col("blk") == F.col("blk2"))
        .groupBy("blk", "dow")
        .agg(
            (
                F.sum(
                    F.when(F.col("c2") < F.col("cents"), 1.0)
                    .when(F.col("c2") == F.col("cents"), 0.5)
                    .otherwise(0.0)
                )
                + 0.5
            ).alias("rnk")
        )
    )
    rj = r.groupBy("dow").agg(F.sum("rnk").alias("rj"))
    ties = (
        k.groupBy("blk", "cents")
        .agg(F.count("*").cast("long").alias("cnt"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
                ),
                F.lit(0),
            ).alias("tsum")
        )
    )
    m_ = full_blk.agg(F.count("*").cast("long").alias("m"))
    agg = (
        rj.agg(F.sum(F.col("rj") * F.col("rj")).alias("srj2"))
        .crossJoin(F.broadcast(m_))
        .crossJoin(F.broadcast(ties))
    )
    md = F.col("m").cast("double")
    return agg.select(
        F.col("m").alias("n_blocks"),
        F.round(
            (12 * F.col("srj2") - 3.0 * F.col("m") * F.col("m") * 7 * 8 * 8)
            / (md * F.col("m") * 7 * 48 - F.col("m") * F.col("tsum")),
            6,
        ).alias("kendalls_w"),
    )


# ---------------------------------------------------------------------------
# R355 Moran's I spatial autocorrelation over the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "morans_i_copurchase",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS MATERIALIZED (   -- unordered distinct co-purchase edges
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    x AS MATERIALIZED (   -- attribute: retail price cents, graph nodes only
      SELECT p.p_partkey AS node,
             CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS x
      FROM part p
      WHERE p.p_partkey IN (SELECT u FROM e UNION SELECT v FROM e)
    ),
    nodes AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM x
    ),
    edges AS (
      SELECT CAST(count(*) AS BIGINT) AS ne,
             CAST(sum(xu.x * xv.x) AS BIGINT) AS sexy,
             CAST(sum(xu.x + xv.x) AS BIGINT) AS sesum
      FROM e
      JOIN x xu ON xu.node = e.u
      JOIN x xv ON xv.node = e.v
    )
    SELECT n.n AS n_nodes, ed.ne AS n_edges,
           round((CAST(n.n AS DOUBLE) / (2 * ed.ne))
                 * (2 * (CAST(ed.sexy AS DOUBLE)
                         - (CAST(n.sx AS DOUBLE) / n.n) * ed.sesum
                         + (CAST(n.sx AS DOUBLE) / n.n)
                           * (CAST(n.sx AS DOUBLE) / n.n) * ed.ne))
                 / (CAST(n.sxx AS DOUBLE)
                    - CAST(n.sx AS DOUBLE) * n.sx / n.n), 6) AS morans_i
    FROM nodes n CROSS JOIN edges ed
    """,
)
def morans_i_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R355 Moran's I autocorrelation of part retail price over the
    co-purchase graph (w_uv = 1 per undirected edge): do co-purchased
    parts have correlated prices?  I = (N/W) * sum_ij w_ij (x_i -
    xbar)(x_j - xbar) / sum_i (x_i - xbar)^2 — Moran's I over a GRAPH
    adjacency is the network analog of spatial autocorrelation, the
    homophily diagnostic the gated degree-assortativity gives for
    degrees (Newman 2002) applied to an external attribute.
    Expanding the centered edge sum into RAW integer edge moments
    (sum x_u x_v, sum (x_u + x_v)) keeps everything BIGINT-exact
    (price cents ~2e5 -> edge products ~4e10 * 1.2M edges ~ 5e16 <
    2^63 with 100x headroom); the closed form is exact-operand.  Edge
    build is the standard basket self-join; attribute joins are equi
    on the node key."""
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
    nodes_in_graph = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
    )
    x = (
        load_table(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").alias("node"),
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x"),
        )
        .join(nodes_in_graph, on="node")
        .localCheckpoint(eager=False)
    )
    nodes = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # Gated broadcast of the node-sized attribute table into the edge-
    # moment join: x is checkpointed (unknown stats), so the planner
    # sort-merge-joined the full edge frame against it twice. The count
    # materializes the checkpoint the nodes agg reads anyway; BIGINT
    # moments are summation-order exact, so the plan change cannot move
    # the result. Fails closed past the sizing budget.
    from zoom_spark.operators.sizing import broadcaster

    bc = broadcaster(x.count(), 16)  # (node, x)
    xu = x.select(F.col("node").alias("u"), F.col("x").alias("xu"))
    xv = x.select(F.col("node").alias("v"), F.col("x").alias("xv"))
    edges = (
        e.join(bc(xu), on="u")
        .join(bc(xv), on="v")
        .agg(
            F.count("*").cast("long").alias("ne"),
            F.sum(F.col("xu") * F.col("xv")).cast("long").alias("sexy"),
            F.sum(F.col("xu") + F.col("xv")).cast("long").alias("sesum"),
        )
    )
    z = nodes.crossJoin(F.broadcast(edges))
    xbar = F.col("sx").cast("double") / F.col("n")
    num = 2 * (
        F.col("sexy").cast("double")
        - xbar * F.col("sesum")
        + xbar * xbar * F.col("ne")
    )
    den = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / F.col("n")
    return z.select(
        F.col("n").alias("n_nodes"),
        F.col("ne").alias("n_edges"),
        F.round(
            (F.col("n").cast("double") / (2 * F.col("ne"))) * num / den, 6
        ).alias("morans_i"),
    )


# ---------------------------------------------------------------------------
# R356 cross-correlation function: daily order count vs daily revenue
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 7


@register(
    "ccf_orders_revenue",
    sql=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, x, y
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                   AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY 1
      )
    ),
    lags AS (SELECT unnest(range(-{CCF_MAX_LAG}, {CCF_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN d a ON true
      JOIN d b ON b.t = a.t + l.lag
    ),
    mom AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_overlap,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)), 6) AS ccf
    FROM mom ORDER BY lag
    """,
)
def ccf_orders_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R356 cross-correlation function between daily order COUNT and
    daily revenue (dollar grid) at lags -7..+7: ccf(L) = corr(x_t,
    y_{t+L}) over the overlapping window — the lead/lag diagnostic
    that says whether volume LEADS revenue (pure volume effect shows
    a symmetric peak at 0; basket-size dynamics skew it).  Each lag
    is one equi-join on the shifted day index plus raw BIGINT
    moments; 15 bounded lags over the calendar frame."""
    d0 = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 100
            )
            .cast("long")
            .alias("y"),
        )
    )
    w = Window.orderBy("day")
    d = d0.select(
        F.row_number().over(w).cast("long").alias("t"), "x", "y"
    ).localCheckpoint(eager=False)
    lagged = d.select(
        "t",
        "x",
        F.explode(
            F.sequence(F.lit(-CCF_MAX_LAG), F.lit(CCF_MAX_LAG))
        ).alias("lag"),
    ).select("lag", "x", (F.col("t") + F.col("lag")).alias("tj"))
    pairs = lagged.join(
        d.select(F.col("t").alias("tj"), "y"), on="tj"
    )
    mom = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_overlap"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n_overlap")
    return mom.select(
        F.col("lag").cast("long").alias("lag"),
        "n_overlap",
        F.round(
            (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
                * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("ccf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# R357 Dunn index over the gated integer-Lloyd cells
# ---------------------------------------------------------------------------


def _dunn_oracle_sql() -> str:
    from zoom_spark.queries.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_QSCALE,
        int_lloyd_cte_sql,
    )

    it = KMEANS_ITERS
    return (
        int_lloyd_cte_sql(KMEANS_K, it, KMEANS_QSCALE)
        + f""",
    pn AS (
      SELECT vec_id, CAST(list_inner_product(qv, qv) AS BIGINT) AS n2
      FROM vecs
    ),
    cn AS (SELECT cell, sum(cv * cv) AS cn2 FROM cent{it} GROUP BY cell),
    dt AS (
      SELECT a.vec_id, a.cell, sum(e.x * c.cv) AS dot
      FROM assign{it} a
      JOIN edim e USING (vec_id)
      JOIN cent{it} c ON c.cell = a.cell AND c.d = e.d
      GROUP BY a.vec_id, a.cell
    ),
    intra AS (
      SELECT CAST(max(p.n2 - 2 * d.dot + cn.cn2) AS BIGINT) AS max_intra2
      FROM dt d JOIN pn p USING (vec_id) JOIN cn ON cn.cell = d.cell
    ),
    inter AS (
      SELECT CAST(min(s) AS BIGINT) AS min_inter2,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM (
        SELECT a.cell, b.cell AS cell2,
               sum((a.cv - b.cv) * (a.cv - b.cv)) AS s
        FROM cent{it} a JOIN cent{it} b
          ON a.d = b.d AND a.cell < b.cell
        GROUP BY a.cell, b.cell
      )
    )
    SELECT (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM cent{it})
             AS n_cells,
           inter.min_inter2, intra.max_intra2,
           round(sqrt(CAST(inter.min_inter2 AS DOUBLE)
                      / intra.max_intra2), 6) AS dunn
    FROM intra CROSS JOIN inter
    """
    )


@register("dunn_index_int_cells", sql=_dunn_oracle_sql())
def dunn_index_int_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R357 Dunn validity index over the FITTED integer-Lloyd cells
    (centroid-linkage form): dunn = sqrt(min inter-centroid distance^2
    / max point-to-own-centroid distance^2) — large when clusters are
    compact and well separated; the companion to the gated
    Calinski-Harabasz (variance-ratio) and silhouette (label-based)
    indices, computed on the SAME coarse quantizer the kmeans/
    semdedup/IVF family shares (and memoized with it).  Every
    distance^2 is an exact 64-term integer sum, so min/max/ratio are
    bit-deterministic; the centroid-pair scan is model-sized."""
    from zoom_spark.queries.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_QSCALE,
    )
    from zoom_spark.similarity.kmeans import (
        int_assign,
        int_centroid_stats,
        int_dot,
        int_lloyd_fit,
        int_quantize,
        lloyd_cache_key,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = int_quantize(
        emb, "embedding", "vec_id", KMEANS_QSCALE
    ).localCheckpoint(eager=False)
    cents = int_lloyd_fit(
        base, k=KMEANS_K, iters=KMEANS_ITERS,
        cache_key=lloyd_cache_key(sf_dir, "embeddings", "embedding", KMEANS_QSCALE),
    )
    # model-sized driver math: exact integer min inter-centroid dist^2
    min_inter2 = min(
        sum((a - b) * (a - b) for a, b in zip(c1, c2))
        for i, (_, c1) in enumerate(cents)
        for (_, c2) in cents[i + 1 :]
    )
    cstats = int_centroid_stats(spark, cents)
    assigned = int_assign(base, cents)
    idx = F.array_position(
        F.col("cid"), F.col("cell")
    ).cast("int")
    dist2 = (
        int_dot(F.col("vec"), F.col("vec"))
        - 2 * int_dot(F.col("vec"), F.element_at(F.col("cmat"), idx))
        + F.element_at(F.col("cn2"), idx)
    )
    intra = assigned.crossJoin(cstats).agg(
        F.max(dist2).cast("long").alias("max_intra2")
    )
    return intra.select(
        F.lit(len(cents)).cast("long").alias("n_cells"),
        F.lit(int(min_inter2)).cast("long").alias("min_inter2"),
        "max_intra2",
        F.round(
            F.sqrt(F.lit(float(min_inter2)) / F.col("max_intra2")), 6
        ).alias("dunn"),
    )


# ---------------------------------------------------------------------------
# R358 Dixon's Q outlier test on per-nation mean balances
# ---------------------------------------------------------------------------


@register(
    "dixon_q_nations",
    sql="""
    WITH m AS (
      SELECT c_nationkey AS nation,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey
    ),
    v AS (
      SELECT nation, CAST(cents AS DOUBLE) / n AS mu,
             CAST(row_number() OVER (
               ORDER BY CAST(cents AS DOUBLE) / n, nation) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS ng
      FROM m
    )
    SELECT lo.ng AS n_groups,
           lo.nation AS low_nation, hi.nation AS high_nation,
           round((lo2.mu - lo.mu) / (hi.mu - lo.mu), 6) AS q_min,
           round((hi.mu - hi2.mu) / (hi.mu - lo.mu), 6) AS q_max
    FROM (SELECT * FROM v WHERE rn = 1) lo,
         (SELECT * FROM v WHERE rn = 2) lo2,
         (SELECT v.* FROM v WHERE rn = ng) hi,
         (SELECT v.* FROM v WHERE rn = ng - 1) hi2
    """,
)
def dixon_q_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R358 Dixon's Q test (r10 form) for a single outlier among the
    per-nation mean account balances: Q = gap / range, evaluated at
    both extremes — the small-n outlier screen (n = 25 nations) that
    complements the gated Grubbs/gESD (which assume larger normal
    samples).  Group means are exact-operand cent ratios; the rank
    window runs over the NATION frame (25 rows, dimension-bounded);
    ties order by nation key."""
    m = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents"),
            F.count("*").cast("long").alias("n"),
        )
    )
    v = m.select(
        "nation", (F.col("cents").cast("double") / F.col("n")).alias("mu")
    )
    w = Window.orderBy("mu", "nation")
    ranked = v.select(
        "nation",
        "mu",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("ng"),
    ).localCheckpoint(eager=False)
    lo = ranked.where(F.col("rn") == 1).select(
        F.col("ng").alias("n_groups"),
        F.col("nation").alias("low_nation"),
        F.col("mu").alias("mu_lo"),
    )
    lo2 = ranked.where(F.col("rn") == 2).select(F.col("mu").alias("mu_lo2"))
    hi = ranked.where(F.col("rn") == F.col("ng")).select(
        F.col("nation").alias("high_nation"), F.col("mu").alias("mu_hi")
    )
    hi2 = ranked.where(F.col("rn") == F.col("ng") - 1).select(
        F.col("mu").alias("mu_hi2")
    )
    z = (
        lo.crossJoin(F.broadcast(lo2))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(hi2))
    )
    rng = F.col("mu_hi") - F.col("mu_lo")
    return z.select(
        "n_groups",
        "low_nation",
        "high_nation",
        F.round((F.col("mu_lo2") - F.col("mu_lo")) / rng, 6).alias("q_min"),
        F.round((F.col("mu_hi") - F.col("mu_hi2")) / rng, 6).alias("q_max"),
    )


# ---------------------------------------------------------------------------
# R359 Siegel-Tukey scale test, weekend vs weekday event values
# ---------------------------------------------------------------------------


@register(
    "siegel_tukey_weekend",
    sql="""
    WITH s AS (
      SELECT value AS v, event_id,
             CASE WHEN CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    pos AS (
      SELECT grp,
             CAST(row_number() OVER (ORDER BY v, event_id) AS BIGINT) AS p,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM s
    ),
    st AS (   -- alternating extreme ranks from the closed form
      SELECT grp, n,
             CASE
               WHEN 2 * p - 1 = n THEN n   -- odd-n middle element
               WHEN p <= n / 2 THEN
                 CASE WHEN p % 2 = 1 THEN 2 * p - 1 ELSE 2 * p END
               ELSE
                 CASE WHEN (n + 1 - p) % 2 = 1 THEN 2 * (n + 1 - p)
                      ELSE 2 * (n + 1 - p) - 1 END
             END AS r
      FROM pos
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
             CAST(sum(CASE WHEN grp = 1 THEN r ELSE 0 END) AS BIGINT) AS w
      FROM st
    )
    SELECT m AS n_weekend, nn AS n_weekday, w AS w_stat,
           round((w - m * (m + nn + 1) / 2.0)
                 / sqrt(CAST(m AS DOUBLE) * nn * (m + nn + 1) / 12.0),
                 6) AS z
    FROM agg
    """,
)
def siegel_tukey_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R359 Siegel-Tukey test for scale (dispersion) differences
    between weekend and weekday event values: sort the pooled sample
    and assign ranks ALTERNATING from the extremes (lowest gets 1,
    the two highest 2-3, the two next-lowest 4-5, ...) so a
    higher-dispersion group accumulates LOW ranks; the rank sum then
    feeds the standard Wilcoxon normal approximation.  Complements
    the gated Ansari-Bradley (distance-from-median ranks) with the
    classic extreme-alternation formulation.  Positions come from the
    two-phase global_row_number (never a single-task window); ties
    break deterministically by event_id (documented variant — the
    alternation makes average-rank tie handling ill-defined).  The
    position -> ST-rank map is a closed form, so ranks are exact
    integers."""
    from zoom_spark.operators.prefix import global_row_number

    anchor = F.lit("2024-01-01").cast("date")
    s = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        "event_id",
        F.when(
            (F.datediff(F.col("ts").cast("date"), anchor) % 7).isin(5, 6), 1
        )
        .otherwise(0)
        .alias("grp"),
    )
    pos = global_row_number(s, ["v", "event_id"], out_col="p")
    n_ = pos.agg(F.count("*").cast("long").alias("n"))
    pos = pos.crossJoin(F.broadcast(n_))
    p, nn = F.col("p").cast("long"), F.col("n")
    top = nn + 1 - p
    r = (
        F.when(2 * p - 1 == nn, nn)
        .when(
            p <= nn / 2,
            F.when(p % 2 == 1, 2 * p - 1).otherwise(2 * p),
        )
        .otherwise(
            F.when(top % 2 == 1, 2 * top).otherwise(2 * top - 1)
        )
    )
    st = pos.select("grp", r.alias("r"))
    agg = st.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_weekend"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_weekday"),
        F.sum(F.when(F.col("grp") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("w_stat"),
    )
    m, k = F.col("n_weekend"), F.col("n_weekday")
    return agg.select(
        "n_weekend",
        "n_weekday",
        "w_stat",
        F.round(
            (F.col("w_stat") - m * (m + k + 1) / 2.0)
            / F.sqrt(m.cast("double") * k * (m + k + 1) / 12.0),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# R360 Hosmer-Lemeshow calibration test of an empirical-rate model
# ---------------------------------------------------------------------------

HL_BINS = 10


@register(
    "hosmer_lemeshow_purchase",
    sql=f"""
    WITH ev AS MATERIALIZED (
      SELECT event_id,
             CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7 AS BIGINT)
               AS dow,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    cell AS (   -- the fitted model: empirical purchase rate per cell
      SELECT dow, hr, CAST(count(*) AS BIGINT) AS nc,
             CAST(sum(y) AS BIGINT) AS kc
      FROM ev GROUP BY dow, hr
    ),
    scored AS MATERIALIZED (
      SELECT e.event_id, e.y,
             CAST(c.kc AS DOUBLE) / c.nc AS phat
      FROM ev e JOIN cell c ON c.dow = e.dow AND c.hr = e.hr
    ),
    pos AS (
      SELECT y, phat,
             CAST(row_number() OVER (ORDER BY phat, event_id) AS BIGINT)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM scored
    ),
    binned AS (
      SELECT CAST((rn - 1) * {HL_BINS} // n AS BIGINT) AS bin, y, phat, n
      FROM pos
    ),
    -- group by (bin, phat) first: E is then a sum over <= 168 exact
    -- count*rate products per bin, not a data-sized float sum
    g AS (
      SELECT bin, phat, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(y) AS BIGINT) AS o
      FROM binned GROUP BY bin, phat
    ),
    bins AS (
      SELECT bin, CAST(sum(m) AS BIGINT) AS n_g,
             CAST(sum(o) AS BIGINT) AS o_g,
             sum(m * phat) AS e_g
      FROM g GROUP BY bin
    )
    SELECT bin, n_g, o_g, round(e_g, 4) AS e_g,
           CASE WHEN e_g > 0 AND e_g < n_g
                THEN round(pow(o_g - e_g, 2) / (e_g * (1 - e_g / n_g)), 6)
           END AS hl_contrib
    FROM bins ORDER BY bin
    """,
)
def hosmer_lemeshow_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R360 Hosmer-Lemeshow goodness-of-calibration over an
    empirical-rate model: predict P(purchase) for every event from
    its (weekday, hour) cell rate, split events into {HL_BINS} risk
    deciles, and emit each decile's observed count, expected count
    and chi-square contribution — the calibration table a scoring
    pipeline reviews before shipping a model (complements the gated
    reliability/Brier and isotonic queries).  Rates are exact count
    ratios; deciles come from the two-phase global_row_number with a
    unique (phat, event_id) key; E_g sums <= 168 exact count*rate
    products per bin (never a data-sized float sum).  In-sample by
    design — the gate pins the TABLE, the referee checks the
    formula."""
    from zoom_spark.operators.prefix import global_row_number

    anchor = F.lit("2024-01-01").cast("date")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.datediff(F.col("ts").cast("date"), anchor) % 7)
        .cast("long")
        .alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    cell = ev.groupBy("dow", "hr").agg(
        F.count("*").cast("long").alias("nc"),
        F.sum("y").cast("long").alias("kc"),
    )
    scored = ev.join(F.broadcast(cell), on=["dow", "hr"]).select(
        "event_id",
        "y",
        (F.col("kc").cast("double") / F.col("nc")).alias("phat"),
    )
    pos = global_row_number(scored, ["phat", "event_id"], out_col="rn")
    n_ = pos.agg(F.count("*").cast("long").alias("n"))
    binned = pos.crossJoin(F.broadcast(n_)).select(
        F.floor((F.col("rn") - 1) * HL_BINS / F.col("n"))
        .cast("long")
        .alias("bin"),
        "y",
        "phat",
    )
    g = binned.groupBy("bin", "phat").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("y").cast("long").alias("o"),
    )
    bins = g.groupBy("bin").agg(
        F.sum("m").cast("long").alias("n_g"),
        F.sum("o").cast("long").alias("o_g"),
        F.sum(F.col("m") * F.col("phat")).alias("e_g_raw"),
    )
    return bins.select(
        "bin",
        "n_g",
        "o_g",
        F.round(F.col("e_g_raw"), 4).alias("e_g"),
        # degenerate deciles (E = 0 or E = n, possible at tiny SFs where
        # whole rate cells are all-0/all-1) get NULL on BOTH sides
        F.when(
            (F.col("e_g_raw") > 0) & (F.col("e_g_raw") < F.col("n_g")),
            F.round(
                F.pow(F.col("o_g") - F.col("e_g_raw"), 2)
                / (F.col("e_g_raw") * (1 - F.col("e_g_raw") / F.col("n_g"))),
                6,
            ),
        ).alias("hl_contrib"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# R361 truncated Katz centrality (integer path counts) on co-purchases
# ---------------------------------------------------------------------------

KATZ_ALPHA = 0.01
KATZ_DEPTH = 4
KATZ_TOPK = 20


def _katz_oracle_sql() -> str:
    parts = [
        """li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS MATERIALIZED (   -- symmetrized distinct co-purchase edges
      SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
      ) GROUP BY u, v
    ),
    p0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, CAST(1 AS BIGINT) AS p FROM e
    )"""
    ]
    for r in range(1, KATZ_DEPTH + 1):
        parts.append(f""",
    p{r} AS MATERIALIZED (
      SELECT e.u AS node, CAST(sum(p.p) AS BIGINT) AS p
      FROM e JOIN p{r - 1} p ON p.node = e.v
      GROUP BY e.u
    )""")
    katz = " + ".join(
        f"{KATZ_ALPHA}" + f" * COALESCE(p{r}.p, 0)"
        if r == 1
        else f"power({KATZ_ALPHA}, {r}) * COALESCE(p{r}.p, 0)"
        for r in range(1, KATZ_DEPTH + 1)
    )
    joins = "".join(
        f"\n      LEFT JOIN p{r} ON p{r}.node = n.node"
        for r in range(1, KATZ_DEPTH + 1)
    )
    return (
        "WITH "
        + "".join(parts)
        + f"""
    SELECT node AS part, katz, paths_1
    FROM (
      SELECT n.node, round({katz}, 6) AS katz,
             CAST(COALESCE(p1.p, 0) AS BIGINT) AS paths_1
      FROM p0 n{joins}
    )
    ORDER BY katz DESC, part LIMIT {KATZ_TOPK}
    """
    )


@register("katz_centrality_parts", sql=_katz_oracle_sql())
def katz_centrality_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R361 truncated Katz centrality on the co-purchase graph:
    katz(v) = sum_{{k<=4}} alpha^k * walks_k(v) with alpha = 0.01 —
    the attenuated-walk influence measure between degree (k = 1) and
    eigenvector centrality (k -> inf), complementing the gated
    PageRank (random-walk) and harmonic (distance) centralities.
    walk counts (A^k 1) are EXACT BIGINTs (4 rounds of one equi-join
    + sum each — the same per-round shape as the gated label
    propagation; max-degree^4 ~ 1.6e13 stays in long with 100x
    headroom), so the attenuated combination is an exact-operand
    double and the top-{KATZ_TOPK} is a TakeOrderedAndProject with a
    part-key tie-break."""
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
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # The per-round walk-count frame p holds one row per node
    # (<= counted edge rows) — broadcast it into the edge join so each
    # round stays map-side over the checkpointed edge frame instead of
    # re-shuffling it for a sort-merge join (checkpointed scans carry
    # unknown stats, so the planner never does this itself; r13 A/B at
    # sf0.1: 4.4 s shuffle vs 3.1 s broadcast, identical results).
    # Past the row budget the gate fails closed to today's shuffle
    # join; p must stay checkpointed — each round's frame fans out to
    # the next join AND its path_cols leg.
    from zoom_spark.operators.sizing import broadcaster

    bcast = broadcaster(e.count(), 16)  # (v, p)
    p = e.select(F.col("u").alias("node")).distinct().withColumn(
        "p", F.lit(1).cast("long")
    )
    nodes = p.select("node")
    path_cols = []
    for r in range(1, KATZ_DEPTH + 1):
        p = (
            e.join(
                bcast(p.select(F.col("node").alias("v"), "p")), on="v"
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("p").cast("long").alias("p"))
            .localCheckpoint(eager=False)
        )
        path_cols.append(
            p.select("node", F.col("p").alias(f"p{r}"))
        )
    out = nodes
    for r, pc in enumerate(path_cols, start=1):
        out = out.join(pc, on="node", how="left")
    katz = sum(
        (KATZ_ALPHA**r) * F.coalesce(F.col(f"p{r}"), F.lit(0))
        for r in range(1, KATZ_DEPTH + 1)
    )
    return (
        out.select(
            F.col("node").alias("part"),
            F.round(katz, 6).alias("katz"),
            F.coalesce(F.col("p1"), F.lit(0)).cast("long").alias("paths_1"),
        )
        .orderBy(F.col("katz").desc(), "part")
        .limit(KATZ_TOPK)
    )


# ---------------------------------------------------------------------------
# R362 Geary's C over the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "gearys_c_copurchase",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    x AS MATERIALIZED (
      SELECT p.p_partkey AS node,
             CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS x
      FROM part p
      WHERE p.p_partkey IN (SELECT u FROM e UNION SELECT v FROM e)
    ),
    nodes AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM x
    ),
    edges AS (
      SELECT CAST(count(*) AS BIGINT) AS ne,
             CAST(sum((xu.x - xv.x) * (xu.x - xv.x)) AS BIGINT) AS sediff
      FROM e
      JOIN x xu ON xu.node = e.u
      JOIN x xv ON xv.node = e.v
    )
    SELECT n.n AS n_nodes, ed.ne AS n_edges,
           round((CAST(n.n - 1 AS DOUBLE) / (2 * (2 * ed.ne)))
                 * (2 * CAST(ed.sediff AS DOUBLE))
                 / (CAST(n.sxx AS DOUBLE)
                    - CAST(n.sx AS DOUBLE) * n.sx / n.n), 6) AS gearys_c
    FROM nodes n CROSS JOIN edges ed
    """,
)
def gearys_c_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R362 Geary's C over the co-purchase graph (same attribute and
    weights as R355 Moran's I): C = ((N-1)/(2W)) * sum w_ij (x_i -
    x_j)^2 / sum (x_i - xbar)^2 — the PAIR-DIFFERENCE twin of Moran's
    I (C < 1 = positive autocorrelation; C is more sensitive to local
    structure, I to global).  Even cleaner integer-exactness than
    Moran: the edge term sum (x_u - x_v)^2 is a pure BIGINT sum (no
    mean in it at all); only the denominator touches xbar, via raw
    moments.  Emitting both I and C is the standard spatial-stats
    report pair."""
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
    nodes_in_graph = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
    )
    x = (
        load_table(spark, sf_dir, "part")
        .select(
            F.col("p_partkey").alias("node"),
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x"),
        )
        .join(nodes_in_graph, on="node")
        .localCheckpoint(eager=False)
    )
    nodes = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # Same gated broadcast as morans_i_copurchase: node-sized attribute
    # table vs the full edge frame, BIGINT-exact sums, fails closed.
    from zoom_spark.operators.sizing import broadcaster

    bc = broadcaster(x.count(), 16)  # (node, x)
    xu = x.select(F.col("node").alias("u"), F.col("x").alias("xu"))
    xv = x.select(F.col("node").alias("v"), F.col("x").alias("xv"))
    edges = (
        e.join(bc(xu), on="u")
        .join(bc(xv), on="v")
        .agg(
            F.count("*").cast("long").alias("ne"),
            F.sum(
                (F.col("xu") - F.col("xv")) * (F.col("xu") - F.col("xv"))
            )
            .cast("long")
            .alias("sediff"),
        )
    )
    z = nodes.crossJoin(F.broadcast(edges))
    den = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / F.col("n")
    return z.select(
        F.col("n").alias("n_nodes"),
        F.col("ne").alias("n_edges"),
        F.round(
            ((F.col("n") - 1).cast("double") / (2 * (2 * F.col("ne"))))
            * (2 * F.col("sediff").cast("double"))
            / den,
            6,
        ).alias("gearys_c"),
    )


# ---------------------------------------------------------------------------
# R363 weighted Cohen's kappa (linear + quadratic) between two raters
# ---------------------------------------------------------------------------


@register(
    "weighted_kappa_orders",
    sql=f"""
    WITH {_RATERS_SQL.strip()},
    conf AS (
      SELECT c1, c2, CAST(count(*) AS BIGINT) AS o FROM rated GROUP BY c1, c2
    ),
    marg AS (
      SELECT r.c1, r.c2, r.o,
             (SELECT CAST(sum(o) AS BIGINT) FROM conf x WHERE x.c1 = r.c1)
               AS ri,
             (SELECT CAST(sum(o) AS BIGINT) FROM conf x WHERE x.c2 = r.c2)
               AS cj
      FROM conf r
    ),
    agg AS (
      SELECT (SELECT CAST(sum(o) AS BIGINT) FROM conf) AS n,
             CAST(sum(abs(c1 - c2) * o) AS BIGINT) AS dl_o,
             CAST(sum((c1 - c2) * (c1 - c2) * o) AS BIGINT) AS dq_o,
             sum(abs(c1 - c2) * CAST(ri AS DOUBLE) * cj) AS dl_e,
             sum((c1 - c2) * (c1 - c2) * CAST(ri AS DOUBLE) * cj) AS dq_e
      FROM marg
    )
    SELECT n AS n_items,
           round(1 - CAST(dl_o AS DOUBLE) * n / dl_e, 6) AS kappa_linear,
           round(1 - CAST(dq_o AS DOUBLE) * n / dq_e, 6) AS kappa_quadratic
    FROM agg
    """,
)
def weighted_kappa_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R363 weighted Cohen's kappa between the header-price and
    line-gross raters of the R348 matrix, in the disagreement form
    kappa_w = 1 - sum(w_ij O_ij) / sum(w_ij E_ij) with linear
    (w = |i-j|) and quadratic (w = (i-j)^2) penalty weights — the
    ORDINAL agreement measure (the gated unweighted Cohen's kappa
    treats a 1-category miss the same as a 2-category miss; quadratic
    weighting makes kappa equivalent to an ICC).  The confusion
    matrix is 3x3 (model-sized); O terms are exact BIGINTs, E terms
    exact count products — everything is exact-operand."""
    rated = _rated_orders(spark, sf_dir)
    conf = rated.groupBy("c1", "c2").agg(F.count("*").cast("long").alias("o"))
    ri = conf.groupBy("c1").agg(F.sum("o").cast("long").alias("ri"))
    cj = conf.groupBy("c2").agg(F.sum("o").cast("long").alias("cj"))
    marg = conf.join(F.broadcast(ri), on="c1").join(F.broadcast(cj), on="c2")
    dl = F.abs(F.col("c1") - F.col("c2"))
    dq = (F.col("c1") - F.col("c2")) * (F.col("c1") - F.col("c2"))
    agg = marg.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(dl * F.col("o")).cast("long").alias("dl_o"),
        F.sum(dq * F.col("o")).cast("long").alias("dq_o"),
        F.sum(dl * F.col("ri").cast("double") * F.col("cj")).alias("dl_e"),
        F.sum(dq * F.col("ri").cast("double") * F.col("cj")).alias("dq_e"),
    )
    return agg.select(
        F.col("n").alias("n_items"),
        F.round(
            1 - F.col("dl_o").cast("double") * F.col("n") / F.col("dl_e"), 6
        ).alias("kappa_linear"),
        F.round(
            1 - F.col("dq_o").cast("double") * F.col("n") / F.col("dq_e"), 6
        ).alias("kappa_quadratic"),
    )


# ---------------------------------------------------------------------------
# R364 L-moments of daily revenue (lambda1, lambda2, L-skew, L-kurtosis)
# ---------------------------------------------------------------------------


@register(
    "lmoments_daily_revenue",
    sql="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) / 100000) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    r AS MATERIALIZED (   -- order-statistic ranks (value ties: any
                          -- consistent order gives identical weighted
                          -- sums since tied values are equal)
      SELECT CAST(row_number() OVER (ORDER BY y, day) AS BIGINT) AS i, y
      FROM d
    ),
    b AS (   -- probability-weighted moments with INTEGER numerators
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s0,
             CAST(sum((i - 1) * y) AS BIGINT) AS s1,
             CAST(sum((i - 1) * (i - 2) * y) AS BIGINT) AS s2,
             CAST(sum((i - 1) * (i - 2) * (i - 3) * y) AS BIGINT) AS s3
      FROM r
    ),
    pwm AS (
      SELECT n,
             CAST(s0 AS DOUBLE) / n AS b0,
             CAST(s1 AS DOUBLE) / n / (n - 1) AS b1,
             CAST(s2 AS DOUBLE) / n / (n - 1) / (n - 2) AS b2,
             CAST(s3 AS DOUBLE) / n / (n - 1) / (n - 2) / (n - 3) AS b3
      FROM b
    )
    SELECT n AS n_days,
           round(b0, 6) AS l1,
           round(2 * b1 - b0, 6) AS l2,
           round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skew,
           round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6)
             AS l_kurtosis
    FROM pwm
    """,
)
def lmoments_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R364 first four L-moments of daily revenue (Hosking 1990):
    lambda1 (location), lambda2 (L-scale), tau3 = L-skewness, tau4 =
    L-kurtosis — the order-statistic moment family hydrology/risk
    pipelines prefer because every L-moment exists whenever the mean
    does and is far more outlier-robust than conventional skew/
    kurtosis (both gated).  Probability-weighted moments b_r have
    INTEGER numerators: sum (i-1)..(i-r) * y_i over the day ranks
    (y on the 1000-dollar grid keeps the cubic-weight sum ~8e16
    inside BIGINT at the 10x smoke), so the L-moment combinations
    are exact-operand.  Ranks from the day-frame window; tied values
    contribute identically under any tie order."""
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 100000
            )
            .cast("long")
            .alias("y")
        )
    )
    w = Window.orderBy("y", "day")
    r = d.select(
        F.row_number().over(w).cast("long").alias("i"), "y"
    )
    i, y = F.col("i"), F.col("y")
    b = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(y).cast("long").alias("s0"),
        F.sum((i - 1) * y).cast("long").alias("s1"),
        F.sum((i - 1) * (i - 2) * y).cast("long").alias("s2"),
        F.sum((i - 1) * (i - 2) * (i - 3) * y).cast("long").alias("s3"),
    )
    n = F.col("n")
    b0 = F.col("s0").cast("double") / n
    b1 = F.col("s1").cast("double") / n / (n - 1)
    b2 = F.col("s2").cast("double") / n / (n - 1) / (n - 2)
    b3 = F.col("s3").cast("double") / n / (n - 1) / (n - 2) / (n - 3)
    l2 = 2 * b1 - b0
    return b.select(
        n.alias("n_days"),
        F.round(b0, 6).alias("l1"),
        F.round(l2, 6).alias("l2"),
        F.round((6 * b2 - 6 * b1 + b0) / l2, 6).alias("l_skew"),
        F.round((20 * b3 - 30 * b2 + 12 * b1 - b0) / l2, 6).alias(
            "l_kurtosis"
        ),
    )


# ---------------------------------------------------------------------------
# R365 rank stability of nation revenue between date-range halves
# ---------------------------------------------------------------------------


@register(
    "nation_rank_stability",
    sql="""
    WITH bounds AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS lo,
             max(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    rev AS (
      SELECT c.c_nationkey AS nation,
             CASE WHEN (CAST(o.o_orderdate AS DATE) - b.lo)
                       <= (b.hi - b.lo) // 2
                  THEN 0 ELSE 1 END AS half,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      CROSS JOIN bounds b
    ),
    tot AS (
      SELECT nation, half, CAST(sum(cents) AS BIGINT) AS cents
      FROM rev GROUP BY nation, half
    ),
    rk AS (
      SELECT nation, half,
             CAST(row_number() OVER (
               PARTITION BY half ORDER BY cents DESC, nation) AS BIGINT)
               AS rnk
      FROM tot
    ),
    pairs AS (
      SELECT a.nation, a.rnk AS r1, b.rnk AS r2
      FROM (SELECT * FROM rk WHERE half = 0) a
      JOIN (SELECT * FROM rk WHERE half = 1) b USING (nation)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(abs(r1 - r2)) AS BIGINT) AS footrule,
           CAST(max(abs(r1 - r2)) AS BIGINT) AS max_shift,
           round(1 - 6.0 * sum((r1 - r2) * (r1 - r2))
                     / (count(*) * (count(*) * count(*) - 1)), 6)
             AS spearman_rho
    FROM pairs
    """,
)
def nation_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R365 rank-stability diagnostics: rank the 25 nations by total
    revenue in the first and second halves of the date range, then
    report Spearman's footrule (sum |r1 - r2|), the max rank shift,
    and Spearman's rho between the two rankings — the leaderboard-
    churn measure a reporting pipeline watches (complements the
    gated Kendall tau, which counts pairwise inversions).  Revenue is
    exact cents; per-half ranks are dense integers over the 25-row
    nation frame (tie-break by nation key), so every output is
    integer-exact up to the final rho ratio."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation"),
    )
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    rev = (
        o.join(c, on="o_custkey")
        .crossJoin(F.broadcast(bounds))
        .select(
            "nation",
            F.when(
                F.datediff(F.col("o_orderdate").cast("date"), F.col("lo"))
                <= F.floor(
                    F.datediff(F.col("hi"), F.col("lo")) / 2
                ),
                0,
            )
            .otherwise(1)
            .alias("half"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    tot = rev.groupBy("nation", "half").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    w = Window.partitionBy("half").orderBy(F.col("cents").desc(), "nation")
    rk = tot.select(
        "nation", "half", F.row_number().over(w).cast("long").alias("rnk")
    )
    pairs = (
        rk.where(F.col("half") == 0)
        .select("nation", F.col("rnk").alias("r1"))
        .join(
            rk.where(F.col("half") == 1).select(
                "nation", F.col("rnk").alias("r2")
            ),
            on="nation",
        )
    )
    n = F.count("*")
    return pairs.agg(
        n.cast("long").alias("n_nations"),
        F.sum(F.abs(F.col("r1") - F.col("r2"))).cast("long").alias("footrule"),
        F.max(F.abs(F.col("r1") - F.col("r2"))).cast("long").alias("max_shift"),
        F.round(
            1
            - 6.0
            * F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
            / (n * (n * n - 1)),
            6,
        ).alias("spearman_rho"),
    )
