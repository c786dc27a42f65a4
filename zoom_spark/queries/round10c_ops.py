"""Round-10 third-wave operator additions (R412+, SURVEY.md §2.19).

Families, concept-grepped against the 520-query registry first (the
round-7 lesson — mann_kendall exists but its Hirsch-Slack SEASONAL
variant does not; pearson chi-square and cramers_v exist but the
likelihood-ratio G-test does not; gk_gamma exists but Goodman-Kruskal
LAMBDA does not; js_divergence exists but the contingency
mutual-information / Theil's-U panel does not):

- seasonal trend: Hirsch-Slack seasonal Mann-Kendall
- contingency: likelihood-ratio G-test, Goodman-Kruskal lambda,
  mutual information + uncertainty coefficients
- evidence pooling: Fisher/Stouffer p-value combination,
  DerSimonian-Laird meta-analysis, Egger funnel asymmetry
- survival: Harrell's concordance index
- forecasting: Croston / SBA intermittent demand
- effect size: Vargha-Delaney A
- robust screening: Hampel rolling median/MAD filter
- normality: probability-plot correlation (PPCC, Blom positions)
- variance homogeneity: Hartley F-max + Cochran's C panel
- sequence mining: first-occurrence event-type 2-sequences
- sketches: count-min (portable md5), AMS F2 median-of-means
- graph: bounded BFS eccentricity panel

Engine-parity discipline (shared with rounds 4-10b): integer-exact
arithmetic wherever inputs quantize once (cent/dollar grids,
indicator sums); raw INTEGER moments kept in BIGINT and cast to
double only at the closed form; per-term 1e-9 snaps (floor(x*1e9+0.5)
-> BIGINT) before cross-row double sums so the reduction is order-free;
outputs snapped with the shared round(x, 6) spelling.

Reference parity note: the reference (kippnorcal/zoom, main.py:1-537)
is an API-ingest ETL with no statistics surface; these operators are
part of the mandated north-star analytics extension (SURVEY.md §2.11+).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

# Abramowitz-Stegun 7.1.26 erf polynomial (repo-shared constants,
# survival._ERF_P_SQL) — spelled identically on both engines.
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _phi_sql(z: str) -> str:
    """Standard normal CDF via the A-S erf polynomial (SQL)."""
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = " + ".join(
        f"({a}) * power({t}, {i + 1})" for i, a in enumerate(_AS_A)
    )
    erf = f"(1.0 - ({poly}) * exp(-({x}) * ({x})))"
    return (
        f"(0.5 * (1.0 + (CASE WHEN {z} >= 0 THEN 1.0 ELSE -1.0 END)"
        f" * {erf}))"
    )


def _phi_col(z):
    """Standard normal CDF via the A-S erf polynomial (Spark column,
    same expression tree as _phi_sql)."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + _AS_P * x)
    poly = None
    for i, a in enumerate(_AS_A):
        term = F.lit(a) * F.pow(t, float(i + 1))
        poly = term if poly is None else poly + term
    erf = 1.0 - poly * F.exp(-x * x)
    return 0.5 * (
        1.0 + F.when(z >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)) * erf
    )


# ---------------------------------------------------------------------------
# R412 Hirsch-Slack seasonal Mann-Kendall trend test (weekday seasons)
# ---------------------------------------------------------------------------


@register(
    "seasonal_mann_kendall_revenue",
    sql=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS dow,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN a.y < b.y THEN 1
                           WHEN a.y > b.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_total
      FROM d a JOIN d b ON a.dow = b.dow AND a.day < b.day
    ),
    nk AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY dow
    ),
    ties AS (
      SELECT dow,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (
        SELECT dow, CAST(count(*) AS BIGINT) AS t
        FROM d GROUP BY dow, y
      ) GROUP BY dow
    ),
    v AS (
      SELECT CAST(sum(nk.n * (nk.n - 1) * (2 * nk.n + 5)
                      - coalesce(ties.tie_term, 0)) AS BIGINT) AS var18,
             CAST(sum(nk.n) AS BIGINT) AS n_days
      FROM nk LEFT JOIN ties ON nk.dow = ties.dow
    )
    SELECT n_days, s_total, var18,
           round((CAST(s_total AS DOUBLE)
                  - (CASE WHEN s_total > 0 THEN 1.0
                          WHEN s_total < 0 THEN -1.0 ELSE 0.0 END))
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) AS z_stat,
           round(2.0 * (1.0 - {_phi_sql('''
                 abs((CAST(s_total AS DOUBLE)
                      - (CASE WHEN s_total > 0 THEN 1.0
                              WHEN s_total < 0 THEN -1.0 ELSE 0.0 END))
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0))''')}), 6)
             AS p_value
    FROM s, v
    """,
)
def seasonal_mann_kendall_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R412 Hirsch-Slack (1984) seasonal Mann-Kendall trend test on
    daily revenue with weekday seasons: the MK pairwise sign sum S_k
    is computed WITHIN each of the 7 weekday series (so the weekly
    cycle that the registry's plain mann_kendall_revenue_trend must
    absorb into its variance never enters the statistic), then S and
    the tie-corrected variances are summed across seasons.  S is a
    pure BIGINT (pairwise signs over whole-dollar daily revenue), and
    18*Var is a BIGINT too — z and the two-sided normal p (shared A-S
    erf spelling) are closed forms of exact operands.  The pair join
    is calendar-bounded: days x days within a weekday is ~(T/7)^2 * 7
    pairs, fixed by the date span, NOT by row volume — the fact table
    collapses to days first, so 100 TB of orders still produces the
    same ~2.4k-row day frame."""
    day = F.col("o_orderdate").cast("date")
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(day.alias("day"))
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
        .select(
            "day",
            "y",
            (
                F.datediff(F.col("day"), F.lit("1990-01-01").cast("date"))
                % 7
            )
            .cast("long")
            .alias("dow"),
        )
        .localCheckpoint(eager=False)
    )
    a = d.select(
        F.col("dow").alias("dow_a"),
        F.col("day").alias("day_a"),
        F.col("y").alias("ya"),
    )
    b = d.select(
        F.col("dow").alias("dow_b"),
        F.col("day").alias("day_b"),
        F.col("y").alias("yb"),
    )
    s = (
        a.join(
            b,
            (F.col("dow_a") == F.col("dow_b"))
            & (F.col("day_a") < F.col("day_b")),
        )
        .agg(
            F.sum(
                F.when(F.col("ya") < F.col("yb"), 1)
                .when(F.col("ya") > F.col("yb"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_total")
        )
    )
    nk = d.groupBy("dow").agg(F.count("*").cast("long").alias("n"))
    ties = (
        d.groupBy("dow", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("dow")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = (
        nk.join(ties, on="dow", how="left")
        .agg(
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            )
            .cast("long")
            .alias("var18"),
            F.sum("n").cast("long").alias("n_days"),
        )
    )
    out = s.crossJoin(v)
    s_d = F.col("s_total").cast("double")
    corr = (
        F.when(F.col("s_total") > 0, F.lit(1.0))
        .when(F.col("s_total") < 0, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    z = (s_d - corr) / F.sqrt(F.col("var18").cast("double") / 18.0)
    return out.select(
        "n_days",
        "s_total",
        "var18",
        F.round(z, 6).alias("z_stat"),
        F.round(2.0 * (1.0 - _phi_col(F.abs(z))), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R413 likelihood-ratio G-test on the priority x market-segment table
# ---------------------------------------------------------------------------


@register(
    "g_test_priority_segment",
    sql="""
    WITH cells AS MATERIALIZED (
      SELECT o.o_orderpriority AS pri, c.c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS o_cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_orderpriority, c.c_mktsegment
    ),
    marg AS (
      SELECT cells.*,
             CAST(sum(o_cnt) OVER (PARTITION BY pri) AS BIGINT) AS r_tot,
             CAST(sum(o_cnt) OVER (PARTITION BY seg) AS BIGINT) AS c_tot,
             CAST(sum(o_cnt) OVER () AS BIGINT) AS n
      FROM cells
    ),
    terms AS (
      SELECT n,
             CAST(count(*) OVER () AS BIGINT) AS n_cells,
             CAST(floor(CAST(o_cnt AS DOUBLE)
                        * ln(CAST(o_cnt AS DOUBLE) * n
                             / (CAST(r_tot AS DOUBLE) * c_tot))
                        * 1e9 + 0.5) AS BIGINT) AS g_term,
             CAST(floor(
               power(CAST(o_cnt AS DOUBLE)
                     - CAST(r_tot AS DOUBLE) * c_tot / n, 2)
               / (CAST(r_tot AS DOUBLE) * c_tot / n) * 1e9 + 0.5)
               AS BIGINT) AS x_term
      FROM marg
    )
    SELECT CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(n_cells) AS BIGINT) AS n_cells,
           CAST(16 AS BIGINT) AS df,
           round(2.0 * sum(g_term) / 1e9, 6) AS g_stat,
           round(sum(x_term) / 1e9, 6) AS chi2_stat
    FROM terms
    """,
)
def g_test_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R413 likelihood-ratio G-test of independence on the 5x5 order
    priority x customer market-segment contingency table: G = 2 Σ O_ij
    ln(O_ij N / (R_i C_j)) — the LR twin of the registry's Pearson
    chi-square / Cramer's V family (G is additive under table
    partitions, which Pearson is not).  Cell counts and margins are
    BIGINTs from one fact-dim join + groupBy (the dim side is
    customer, joined on the shuffle key — at 100 TB this is the
    standard hash join + 25-cell aggregate, no driver state); the
    25 per-cell ln terms are 1e-9-snapped to BIGINTs so the
    reduction is order-free, and Pearson chi-square is emitted from
    the same frame as a cross-check column.  df = (5-1)(5-1) = 16."""
    cells = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderpriority").alias("pri"))
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_mktsegment").alias("seg")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("pri", "seg")
        .agg(F.count("*").cast("long").alias("o_cnt"))
    )
    marg = cells.select(
        "pri",
        "seg",
        "o_cnt",
        F.sum("o_cnt").over(Window.partitionBy("pri")).cast("long").alias(
            "r_tot"
        ),
        F.sum("o_cnt").over(Window.partitionBy("seg")).cast("long").alias(
            "c_tot"
        ),
        F.sum("o_cnt")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("n"),
    )
    o_d = F.col("o_cnt").cast("double")
    e_d = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    terms = marg.select(
        "n",
        F.count("*")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("n_cells"),
        F.floor(
            o_d
            * F.log(
                o_d * F.col("n") / (F.col("r_tot").cast("double") * F.col("c_tot"))
            )
            * 1e9
            + F.lit(0.5)
        )
        .cast("long")
        .alias("g_term"),
        F.floor(F.pow(o_d - e_d, 2) / e_d * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("x_term"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max("n_cells").cast("long").alias("n_cells"),
        F.lit(16).cast("long").alias("df"),
        F.round(2.0 * F.sum("g_term") / 1e9, 6).alias("g_stat"),
        F.round(F.sum("x_term") / 1e9, 6).alias("chi2_stat"),
    )


# ---------------------------------------------------------------------------
# R414 Goodman-Kruskal lambda (proportional reduction in error)
# ---------------------------------------------------------------------------


@register(
    "gk_lambda_priority_segment",
    sql="""
    WITH cells AS MATERIALIZED (
      SELECT o.o_orderpriority AS pri, c.c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS o_cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_orderpriority, c.c_mktsegment
    ),
    rowmax AS (
      SELECT CAST(sum(mx) AS BIGINT) AS sum_rowmax
      FROM (SELECT max(o_cnt) AS mx FROM cells GROUP BY pri)
    ),
    colmax AS (
      SELECT CAST(sum(mx) AS BIGINT) AS sum_colmax
      FROM (SELECT max(o_cnt) AS mx FROM cells GROUP BY seg)
    ),
    marg AS (
      SELECT CAST(sum(o_cnt) AS BIGINT) AS n,
             CAST(max(r_tot) AS BIGINT) AS max_rtot,
             CAST(max(c_tot) AS BIGINT) AS max_ctot
      FROM (
        SELECT o_cnt,
               sum(o_cnt) OVER (PARTITION BY pri) AS r_tot,
               sum(o_cnt) OVER (PARTITION BY seg) AS c_tot
        FROM cells
      )
    )
    SELECT n AS n_orders, sum_rowmax, sum_colmax, max_rtot, max_ctot,
           round(CAST(sum_rowmax - max_ctot AS DOUBLE)
                 / CAST(n - max_ctot AS DOUBLE), 6) AS lambda_seg_given_pri,
           round(CAST(sum_colmax - max_rtot AS DOUBLE)
                 / CAST(n - max_rtot AS DOUBLE), 6) AS lambda_pri_given_seg,
           round(CAST(sum_rowmax + sum_colmax - max_ctot - max_rtot
                      AS DOUBLE)
                 / CAST(2 * n - max_ctot - max_rtot AS DOUBLE), 6)
             AS lambda_symmetric
    FROM marg, rowmax, colmax
    """,
)
def gk_lambda_priority_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R414 Goodman-Kruskal lambda (1954) on the priority x segment
    table: the proportional-reduction-in-error association measure —
    lambda(Y|X) = (Σ_x max_y O_xy - max_y C_y) / (N - max_y C_y) —
    the modal-prediction twin of the registry's gk_gamma (which is
    ordinal; lambda is nominal).  Every numerator and denominator is
    a pure BIGINT from the 25-cell contingency frame (cell maxima per
    row/column plus the modal margins), so the three lambdas
    (Y|X, X|Y, symmetric) are single exact-operand ratios.  Wrong-
    prediction asymmetry note: lambda is 0 whenever the modal column
    is the same in every row — a documented property, not a bug."""
    cells = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderpriority").alias("pri"))
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_mktsegment").alias("seg")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("pri", "seg")
        .agg(F.count("*").cast("long").alias("o_cnt"))
        .localCheckpoint(eager=False)
    )
    rowmax = (
        cells.groupBy("pri")
        .agg(F.max("o_cnt").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("sum_rowmax"))
    )
    colmax = (
        cells.groupBy("seg")
        .agg(F.max("o_cnt").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("sum_colmax"))
    )
    marg = (
        cells.select(
            "o_cnt",
            F.sum("o_cnt")
            .over(Window.partitionBy("pri"))
            .alias("r_tot"),
            F.sum("o_cnt")
            .over(Window.partitionBy("seg"))
            .alias("c_tot"),
        )
        .agg(
            F.sum("o_cnt").cast("long").alias("n"),
            F.max("r_tot").cast("long").alias("max_rtot"),
            F.max("c_tot").cast("long").alias("max_ctot"),
        )
    )
    out = marg.crossJoin(rowmax).crossJoin(colmax)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return out.select(
        F.col("n").alias("n_orders"),
        "sum_rowmax",
        "sum_colmax",
        "max_rtot",
        "max_ctot",
        F.round(
            (d("sum_rowmax") - d("max_ctot")) / (d("n") - d("max_ctot")), 6
        ).alias("lambda_seg_given_pri"),
        F.round(
            (d("sum_colmax") - d("max_rtot")) / (d("n") - d("max_rtot")), 6
        ).alias("lambda_pri_given_seg"),
        F.round(
            (d("sum_rowmax") + d("sum_colmax") - d("max_ctot") - d("max_rtot"))
            / (2 * d("n") - d("max_ctot") - d("max_rtot")),
            6,
        ).alias("lambda_symmetric"),
    )


# ---------------------------------------------------------------------------
# R415 mutual information + Theil's uncertainty coefficients
# ---------------------------------------------------------------------------


@register(
    "uncertainty_coefficient_panel",
    sql="""
    WITH cells AS MATERIALIZED (
      SELECT o.o_orderpriority AS pri, c.c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS o_cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY o.o_orderpriority, c.c_mktsegment
    ),
    n_t AS (SELECT CAST(sum(o_cnt) AS BIGINT) AS n FROM cells),
    hx AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(r AS DOUBLE) / n) * ln(CAST(r AS DOUBLE) / n)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM (SELECT pri, CAST(sum(o_cnt) AS BIGINT) AS r
            FROM cells GROUP BY pri), n_t
    ),
    hy AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM (SELECT seg, CAST(sum(o_cnt) AS BIGINT) AS c
            FROM cells GROUP BY seg), n_t
    ),
    hxy AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(o_cnt AS DOUBLE) / n) * ln(CAST(o_cnt AS DOUBLE) / n)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM cells, n_t
    )
    SELECT n_t.n AS n_orders,
           round(hx.h9 / 1e9, 6) AS h_pri,
           round(hy.h9 / 1e9, 6) AS h_seg,
           round(hxy.h9 / 1e9, 6) AS h_joint,
           round((hx.h9 + hy.h9 - hxy.h9) / 1e9, 6) AS mutual_info,
           round(CAST(hx.h9 + hy.h9 - hxy.h9 AS DOUBLE) / hy.h9, 6)
             AS u_seg_given_pri,
           round(CAST(hx.h9 + hy.h9 - hxy.h9 AS DOUBLE) / hx.h9, 6)
             AS u_pri_given_seg,
           round(2.0 * (hx.h9 + hy.h9 - hxy.h9) / (hx.h9 + hy.h9), 6)
             AS u_symmetric
    FROM n_t, hx, hy, hxy
    """,
)
def uncertainty_coefficient_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R415 mutual information and Theil's uncertainty coefficients on
    the priority x segment table: MI = H(X) + H(Y) - H(X,Y), U(Y|X) =
    MI / H(Y) — the entropy-based association panel that complements
    the registry's chi-square family (U is margin-normalized to [0,1]
    and asymmetric, which Cramer's V is not) and its G-test twin
    (G = 2N * MI in nats).  Each entropy is a sum of per-cell
    -p ln p terms, 1e-9-snapped to BIGINTs before the reduction
    (order-free; ≤ 35 terms across the three entropies), so the
    coefficient ratios are exact-BIGINT ratios.  One fact-dim join +
    25-cell aggregate — a single shuffle at any scale."""
    cells = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", F.col("o_orderpriority").alias("pri"))
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_mktsegment").alias("seg")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("pri", "seg")
        .agg(F.count("*").cast("long").alias("o_cnt"))
        .localCheckpoint(eager=False)
    )
    n_t = cells.agg(F.sum("o_cnt").cast("long").alias("n"))

    def _h9(df: DataFrame, cnt: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n")
        return (
            df.crossJoin(F.broadcast(n_t))
            .select(
                F.floor(-p * F.log(p) * 1e9 + F.lit(0.5))
                .cast("long")
                .alias("t9")
            )
            .agg(F.sum("t9").cast("long").alias("h9"))
        )

    hx = _h9(cells.groupBy("pri").agg(F.sum("o_cnt").alias("r")), "r")
    hy = _h9(cells.groupBy("seg").agg(F.sum("o_cnt").alias("c")), "c")
    hxy = _h9(cells, "o_cnt")
    out = (
        n_t.crossJoin(hx.withColumnRenamed("h9", "hx9"))
        .crossJoin(hy.withColumnRenamed("h9", "hy9"))
        .crossJoin(hxy.withColumnRenamed("h9", "hxy9"))
    )
    mi9 = F.col("hx9") + F.col("hy9") - F.col("hxy9")
    return out.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("hx9") / 1e9, 6).alias("h_pri"),
        F.round(F.col("hy9") / 1e9, 6).alias("h_seg"),
        F.round(F.col("hxy9") / 1e9, 6).alias("h_joint"),
        F.round(mi9 / 1e9, 6).alias("mutual_info"),
        F.round(mi9.cast("double") / F.col("hy9"), 6).alias(
            "u_seg_given_pri"
        ),
        F.round(mi9.cast("double") / F.col("hx9"), 6).alias(
            "u_pri_given_seg"
        ),
        F.round(
            2.0 * mi9 / (F.col("hx9") + F.col("hy9")), 6
        ).alias("u_symmetric"),
    )


# ---------------------------------------------------------------------------
# R416-R418 shared frame: per-nation weekend-vs-weekday effect panel
# ---------------------------------------------------------------------------

# Per-nation weekend-minus-weekday mean order value (whole-dollar grid;
# S1^2 stays under BIGINT at sf0.1 where n*S2 would not — the
# james_stein overflow lesson), with the two-sample z variance
# v = s2_we/n_we + s2_wd/n_wd.  s2 uses the (S2 - S1^2/n)/(n-1)
# spelling: S2 and S1^2 are exact BIGINTs, the division is one IEEE op,
# so both engines produce the identical double.  Nations need >= 2
# orders on each side (deterministic filter, same both engines).
_EFFECTS_SQL = """
    eff AS MATERIALIZED (
      SELECT nation,
             CAST(sum(wk) AS BIGINT) AS n_we,
             CAST(sum(1 - wk) AS BIGINT) AS n_wd,
             CAST(sum(CASE WHEN wk = 1 THEN x ELSE 0 END) AS BIGINT) AS s1_we,
             CAST(sum(CASE WHEN wk = 0 THEN x ELSE 0 END) AS BIGINT) AS s1_wd,
             CAST(sum(CASE WHEN wk = 1 THEN x * x ELSE 0 END) AS BIGINT)
               AS s2_we,
             CAST(sum(CASE WHEN wk = 0 THEN x * x ELSE 0 END) AS BIGINT)
               AS s2_wd
      FROM (
        SELECT c.c_nationkey AS nation,
               CAST(floor(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                          / 100) AS BIGINT) AS x,
               CASE WHEN CAST((CAST(o.o_orderdate AS DATE)
                               - DATE '1990-01-01') % 7 AS BIGINT) IN (5, 6)
                    THEN 1 ELSE 0 END AS wk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      )
      GROUP BY nation
      HAVING sum(wk) >= 2 AND sum(1 - wk) >= 2
    ),
    ev AS MATERIALIZED (
      SELECT nation,
             CAST(s1_we AS DOUBLE) / n_we - CAST(s1_wd AS DOUBLE) / n_wd
               AS theta,
             (CAST(s2_we AS DOUBLE) - CAST(s1_we * s1_we AS DOUBLE) / n_we)
               / (n_we - 1) / n_we
             + (CAST(s2_wd AS DOUBLE) - CAST(s1_wd * s1_wd AS DOUBLE) / n_wd)
               / (n_wd - 1) / n_wd AS v
      FROM eff
    )
"""


def _effects_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _EFFECTS_SQL: per-nation (theta, v) effect panel."""
    wk = (
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        % 7
    )
    rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.floor(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
                / 100
            )
            .cast("long")
            .alias("x"),
            F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk"),
        )
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_nationkey").alias("nation")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    eff = (
        rows.groupBy("nation")
        .agg(
            F.sum("wk").cast("long").alias("n_we"),
            F.sum(1 - F.col("wk")).cast("long").alias("n_wd"),
            F.sum(F.when(F.col("wk") == 1, F.col("x")).otherwise(0))
            .cast("long")
            .alias("s1_we"),
            F.sum(F.when(F.col("wk") == 0, F.col("x")).otherwise(0))
            .cast("long")
            .alias("s1_wd"),
            F.sum(
                F.when(F.col("wk") == 1, F.col("x") * F.col("x")).otherwise(0)
            )
            .cast("long")
            .alias("s2_we"),
            F.sum(
                F.when(F.col("wk") == 0, F.col("x") * F.col("x")).otherwise(0)
            )
            .cast("long")
            .alias("s2_wd"),
        )
        .where((F.col("n_we") >= 2) & (F.col("n_wd") >= 2))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return eff.select(
        "nation",
        (d("s1_we") / F.col("n_we") - d("s1_wd") / F.col("n_wd")).alias(
            "theta"
        ),
        (
            (d("s2_we") - (F.col("s1_we") * F.col("s1_we")).cast("double") / F.col("n_we"))
            / (F.col("n_we") - 1)
            / F.col("n_we")
            + (d("s2_wd") - (F.col("s1_wd") * F.col("s1_wd")).cast("double") / F.col("n_wd"))
            / (F.col("n_wd") - 1)
            / F.col("n_wd")
        ).alias("v"),
    )


# ---------------------------------------------------------------------------
# R416 Fisher / Stouffer combined p-values over the nation panel
# ---------------------------------------------------------------------------


@register(
    "combined_pvalues_nations",
    sql=f"""
    WITH {_EFFECTS_SQL},
    zp AS (
      SELECT nation,
             CAST(floor(theta / sqrt(v) * 1e9 + 0.5) AS BIGINT) AS z9,
             CAST(floor(-2.0 * ln(greatest(
               2.0 * (1.0 - {_phi_sql('abs(theta / sqrt(v))')}), 1e-12))
               * 1e9 + 0.5) AS BIGINT) AS f9
      FROM ev
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(z9) AS BIGINT) AS sz9,
             CAST(sum(f9) AS BIGINT) AS sf9
      FROM zp
    )
    SELECT k,
           round(sf9 / 1e9, 6) AS fisher_stat,
           CAST(2 * k AS BIGINT) AS fisher_df,
           round(sz9 / 1e9 / sqrt(CAST(k AS DOUBLE)), 6) AS stouffer_z,
           round(2.0 * (1.0 - {_phi_sql(
               'abs(sz9 / 1e9 / sqrt(CAST(k AS DOUBLE)))')}), 6)
             AS stouffer_p
    FROM agg
    """,
)
def combined_pvalues_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R416 combined evidence over the 25 per-nation weekend-effect
    z-tests: Fisher's method X² = -2 Σ ln p_i (df = 2k) and Stouffer's
    Z = Σ z_i / sqrt(k) — the two classical p-value poolers (Fisher
    weights small p's harder; Stouffer preserves direction).  Each
    nation's two-sample z uses exact whole-dollar BIGINT moments
    (the s² spelling S2 - S1²/n keeps every operand exact at sf0.1);
    per-nation z and -2 ln p terms are 1e-9-snapped to BIGINTs so the
    k-term reductions are order-free, and p_i is floored at 1e-12
    before the log (the A-S erf tail underflows to exactly 0 beyond
    |z| ≈ 6 — documented guard, shared spelling both engines).  One
    fact-dim join + 25-group aggregate: a single shuffle at 100 TB."""
    ev = _effects_df(spark, sf_dir)
    z = F.col("theta") / F.sqrt(F.col("v"))
    p = F.greatest(2.0 * (1.0 - _phi_col(F.abs(z))), F.lit(1e-12))
    zp = ev.select(
        F.floor(z * 1e9 + F.lit(0.5)).cast("long").alias("z9"),
        F.floor(-2.0 * F.log(p) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("f9"),
    )
    agg = zp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("z9").cast("long").alias("sz9"),
        F.sum("f9").cast("long").alias("sf9"),
    )
    sz = F.col("sz9") / 1e9 / F.sqrt(F.col("k").cast("double"))
    return agg.select(
        "k",
        F.round(F.col("sf9") / 1e9, 6).alias("fisher_stat"),
        (2 * F.col("k")).cast("long").alias("fisher_df"),
        F.round(sz, 6).alias("stouffer_z"),
        F.round(2.0 * (1.0 - _phi_col(F.abs(sz))), 6).alias("stouffer_p"),
    )


# ---------------------------------------------------------------------------
# R417 DerSimonian-Laird random-effects meta-analysis
# ---------------------------------------------------------------------------


@register(
    "meta_analysis_weekend_effect",
    sql=f"""
    WITH {_EFFECTS_SQL},
    evk AS MATERIALIZED (
      SELECT nation, theta / 1000.0 AS tk, v / 1e6 AS vk FROM ev
    ),
    t1 AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(floor(1.0 / vk * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS w9,
             CAST(sum(CAST(floor(tk / vk * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS wt9,
             CAST(sum(CAST(floor(1.0 / (vk * vk) * 1e12 + 0.5) AS BIGINT))
                  AS BIGINT) AS w212
      FROM evk
    ),
    t2 AS (
      SELECT t1.*, CAST(wt9 AS DOUBLE) / w9 AS theta_fk FROM t1
    ),
    q AS (
      SELECT t2.*,
             (SELECT CAST(sum(CAST(floor(
                 (tk - t2.theta_fk) * (tk - t2.theta_fk) / vk
                 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) FROM evk) AS q9
      FROM t2
    ),
    tau AS (
      SELECT q.*,
             greatest(0.0, (q9 / 1e9 - (k - 1))
                          / (w9 / 1e9 - (w212 / 1e12) / (w9 / 1e9)))
               AS tau2k
      FROM q
    ),
    re AS (
      SELECT tau.*,
             (SELECT CAST(sum(CAST(floor(1.0 / (vk + tau.tau2k) * 1e9 + 0.5)
                      AS BIGINT)) AS BIGINT) FROM evk) AS ws9,
             (SELECT CAST(sum(CAST(floor(tk / (vk + tau.tau2k) * 1e9 + 0.5)
                      AS BIGINT)) AS BIGINT) FROM evk) AS wts9
      FROM tau
    )
    SELECT k,
           round(theta_fk * 1000.0, 6) AS theta_fixed,
           round(1000.0 / sqrt(w9 / 1e9), 6) AS se_fixed,
           round(q9 / 1e9, 6) AS q_stat,
           round(greatest(0.0, (q9 / 1e9 - (k - 1)) / (q9 / 1e9)), 6)
             AS i_squared,
           round(tau2k * 1e6, 6) AS tau2,
           round(CAST(wts9 AS DOUBLE) / ws9 * 1000.0, 6) AS theta_random,
           round(1000.0 / sqrt(ws9 / 1e9), 6) AS se_random
    FROM re
    """,
)
def meta_analysis_weekend_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R417 DerSimonian-Laird (1986) random-effects meta-analysis of
    the per-nation weekend effect: inverse-variance fixed effect
    theta_F = sum(w theta)/sum(w), Cochran heterogeneity Q, between-
    study variance tau2 = max(0, (Q-(k-1)) / (sum w - sum w^2/sum w)),
    then the re-weighted pooled theta_R with w*_i = 1/(v_i+tau2), plus
    I^2 — the standard evidence-synthesis stack over the same
    exact-BIGINT effect panel as combined_pvalues_nations (which pools
    SIGNIFICANCE; this pools MAGNITUDE).  All panel terms are computed
    on the KILODOLLAR grid (tk = theta/1000, vk = v/1e6) so the
    inverse-variance weights are O(1e-4), NOT O(1e-10) — the 1e-9
    per-term snap then preserves ~5 significant digits (the dollar-
    grid spelling collapsed w to 0/1 units; referee-caught), and Q,
    I^2 are scale-invariant while theta/se/tau2 convert back by
    1e3/1e6 at the end.  Three sequential 25-term snapped BIGINT
    reductions over a nation-bounded panel: free at 100 TB."""
    ev = _effects_df(spark, sf_dir).localCheckpoint(eager=False)
    evk = ev.select(
        "nation",
        (F.col("theta") / 1000.0).alias("tk"),
        (F.col("v") / 1e6).alias("vk"),
    ).localCheckpoint(eager=False)
    t1 = evk.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.floor(1.0 / F.col("vk") * 1e9 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("w9"),
        F.sum(
            F.floor(F.col("tk") / F.col("vk") * 1e9 + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("wt9"),
        F.sum(
            F.floor(
                1.0 / (F.col("vk") * F.col("vk")) * 1e12 + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("w212"),
    ).withColumn("theta_fk", F.col("wt9").cast("double") / F.col("w9"))
    q = (
        evk.crossJoin(F.broadcast(t1))
        .select(
            F.floor(
                (F.col("tk") - F.col("theta_fk"))
                * (F.col("tk") - F.col("theta_fk"))
                / F.col("vk")
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("q_term")
        )
        .agg(F.sum("q_term").cast("long").alias("q9"))
    )
    tau = (
        t1.crossJoin(q)
        .withColumn(
            "tau2k",
            F.greatest(
                F.lit(0.0),
                (F.col("q9") / 1e9 - (F.col("k") - 1))
                / (
                    F.col("w9") / 1e9
                    - (F.col("w212") / 1e12) / (F.col("w9") / 1e9)
                ),
            ),
        )
    )
    re = (
        evk.crossJoin(F.broadcast(tau.select("tau2k")))
        .select(
            F.floor(
                1.0 / (F.col("vk") + F.col("tau2k")) * 1e9 + F.lit(0.5)
            )
            .cast("long")
            .alias("ws_term"),
            F.floor(
                F.col("tk") / (F.col("vk") + F.col("tau2k")) * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("wts_term"),
        )
        .agg(
            F.sum("ws_term").cast("long").alias("ws9"),
            F.sum("wts_term").cast("long").alias("wts9"),
        )
    )
    out = tau.crossJoin(re)
    return out.select(
        "k",
        F.round(F.col("theta_fk") * 1000.0, 6).alias("theta_fixed"),
        F.round(1000.0 / F.sqrt(F.col("w9") / 1e9), 6).alias("se_fixed"),
        F.round(F.col("q9") / 1e9, 6).alias("q_stat"),
        F.round(
            F.greatest(
                F.lit(0.0),
                (F.col("q9") / 1e9 - (F.col("k") - 1)) / (F.col("q9") / 1e9),
            ),
            6,
        ).alias("i_squared"),
        F.round(F.col("tau2k") * 1e6, 6).alias("tau2"),
        F.round(
            F.col("wts9").cast("double") / F.col("ws9") * 1000.0, 6
        ).alias("theta_random"),
        F.round(1000.0 / F.sqrt(F.col("ws9") / 1e9), 6).alias("se_random"),
    )


# ---------------------------------------------------------------------------
# R418 Egger funnel-plot asymmetry regression
# ---------------------------------------------------------------------------


@register(
    "egger_regression_asymmetry",
    sql=f"""
    WITH {_EFFECTS_SQL},
    xy AS (
      SELECT CAST(floor(1000.0 / sqrt(v) * 1e9 + 0.5) AS BIGINT) AS x9,
             CAST(floor(theta / sqrt(v) * 1e9 + 0.5) AS BIGINT) AS y9
      FROM ev
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x9) AS BIGINT) AS sx9,
             CAST(sum(y9) AS BIGINT) AS sy9,
             CAST(sum(CAST(floor((x9 / 1e9) * (x9 / 1e9) * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS sxx6,
             CAST(sum(CAST(floor((x9 / 1e9) * (y9 / 1e9) * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS sxy6,
             CAST(sum(CAST(floor((y9 / 1e9) * (y9 / 1e9) * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS syy6
      FROM xy
    ),
    fit AS (
      SELECT k, sx9 / 1e9 AS sx, sy9 / 1e9 AS sy,
             sxx6 / 1e9 AS sxx, sxy6 / 1e9 AS sxy, syy6 / 1e9 AS syy,
             (k * (sxy6 / 1e9) - (sx9 / 1e9) * (sy9 / 1e9))
               / (k * (sxx6 / 1e9) - (sx9 / 1e9) * (sx9 / 1e9)) AS b1
      FROM s
    ),
    fin AS (
      SELECT k, sxx, b1, (sy - b1 * sx) / k AS b0,
             (syy - ((sy - b1 * sx) / k) * sy - b1 * sxy)
               / (k - 2) AS s2,
             k * sxx - sx * sx AS det
      FROM fit
    )
    SELECT k,
           round(b0, 6) AS egger_intercept,
           round(b1, 6) AS egger_slope,
           round(sqrt(s2 * sxx / det), 6) AS se_intercept,
           round(b0 / sqrt(s2 * sxx / det), 6) AS t_stat
    FROM fin
    """,
)
def egger_regression_asymmetry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R418 Egger's (1997) funnel-plot asymmetry test over the nation
    weekend-effect panel: regress the standardized effect z_i =
    θ_i/se_i on precision 1/se_i — a nonzero INTERCEPT signals
    small-study (here: small-nation) asymmetry, the publication-bias
    diagnostic that completes the meta-analysis pair (R417 pools, R418
    checks poolability).  The five OLS sums are per-term-snapped
    BIGINT reductions (x,y at 1e-9; their products at 1e-6 of the
    SNAPPED values, so both engines square identical doubles); slope,
    intercept, residual s² and the intercept t are closed forms of
    those six exact operands.  Panel-bounded: k ≤ 25 rows after one
    fact-dim aggregate."""
    ev = _effects_df(spark, sf_dir)
    xy = ev.select(
        F.floor(1000.0 / F.sqrt(F.col("v")) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("x9"),
        F.floor(F.col("theta") / F.sqrt(F.col("v")) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("y9"),
    )
    s = xy.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x9").cast("long").alias("sx9"),
        F.sum("y9").cast("long").alias("sy9"),
        F.sum(
            F.floor(
                (F.col("x9") / 1e9) * (F.col("x9") / 1e9) * 1e9 + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sxx6"),
        F.sum(
            F.floor(
                (F.col("x9") / 1e9) * (F.col("y9") / 1e9) * 1e9 + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sxy6"),
        F.sum(
            F.floor(
                (F.col("y9") / 1e9) * (F.col("y9") / 1e9) * 1e9 + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("syy6"),
    )
    kd = F.col("k").cast("double")
    sx = F.col("sx9") / 1e9
    sy = F.col("sy9") / 1e9
    sxx = F.col("sxx6") / 1e9
    sxy = F.col("sxy6") / 1e9
    syy = F.col("syy6") / 1e9
    fit = s.withColumn(
        "b1", (kd * sxy - sx * sy) / (kd * sxx - sx * sx)
    )
    b1 = F.col("b1")
    fin = fit.select(
        "k",
        ((sy - b1 * sx) / kd).alias("b0"),
        b1.alias("b1c"),
        ((syy - ((sy - b1 * sx) / kd) * sy - b1 * sxy) / (kd - 2)).alias(
            "s2"
        ),
        (kd * sxx - sx * sx).alias("det"),
        sxx.alias("sxx_d"),
    )
    se0 = F.sqrt(F.col("s2") * F.col("sxx_d") / F.col("det"))
    return fin.select(
        "k",
        F.round(F.col("b0"), 6).alias("egger_intercept"),
        F.round(F.col("b1c"), 6).alias("egger_slope"),
        F.round(se0, 6).alias("se_intercept"),
        F.round(F.col("b0") / se0, 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# R419 Harrell's concordance index (C-index) on conversion spells
# ---------------------------------------------------------------------------


@register(
    "harrell_c_conversion",
    sql="""
    WITH per_user AS MATERIALIZED (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS first_day,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS conv_day,
             CAST(count(*) AS BIGINT) AS risk
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
    spells AS MATERIALIZED (
      SELECT p.user_id,
             CASE WHEN p.conv_day IS NOT NULL AND p.conv_day >= p.first_day
                  THEN CAST(p.conv_day - p.first_day AS BIGINT)
                  ELSE CAST(hz.h - p.first_day AS BIGINT) END AS t,
             CASE WHEN p.conv_day IS NOT NULL AND p.conv_day >= p.first_day
                  THEN 1 ELSE 0 END AS d,
             p.risk
      FROM per_user p CROSS JOIN horizon hz
    ),
    bucketed AS MATERIALIZED (
      SELECT t, d,
             CAST(floor((CAST(row_number() OVER (ORDER BY risk, user_id)
                              AS BIGINT) - 1) * 16.0
                        / CAST(count(*) OVER () AS BIGINT)) AS BIGINT) AS b
      FROM spells
    ),
    cells AS MATERIALIZED (
      SELECT t, d, b, CAST(count(*) AS BIGINT) AS cnt
      FROM bucketed GROUP BY t, d, b
    ),
    pairs AS (
      SELECT CAST(sum(a.cnt * b.cnt) AS BIGINT) AS usable,
             CAST(sum(a.cnt * b.cnt
                      * (CASE WHEN a.b > b.b THEN 2
                              WHEN a.b = b.b THEN 1 ELSE 0 END))
                  AS BIGINT) AS conc2
      FROM cells a JOIN cells b ON a.d = 1 AND a.t < b.t
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM spells) AS n_users,
           usable AS n_usable_pairs, conc2 AS concordant2,
           round(CAST(conc2 AS DOUBLE) / (2 * usable), 6) AS c_index
    FROM pairs
    """,
)
def harrell_c_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R419 Harrell's concordance index for the conversion spells
    (time to first purchase, right-censored at the horizon — the
    survival._SPELLS_SQL construction with user_id retained), scoring
    per-user ACTIVITY (total event count) as the risk predictor: a
    pair is usable iff the earlier time is an observed event
    (t_i < t_j, d_i = 1); concordant iff the earlier-event user has
    the HIGHER risk score; risk ties count 1/2.  The O(n²) pair cloud
    is collapsed to a (t, d, risk-sixteenth) CELL join — risk is
    quantized to 16 deterministic rank buckets (row_number over
    (risk, user_id), so the quantized C is exactly reproducible; the
    full-resolution C differs only within buckets, documented) — cells
    are day×2×16 bounded, so the join is calendar-bounded, not
    row-bounded, and both counts (usable, 2·concordant+ties) are pure
    BIGINTs.  At 100 TB the spells collapse per user in one shuffle
    and the cell join is a broadcast-sized frame."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts").cast("date")
            )
        ).alias("conv_day"),
        F.count("*").cast("long").alias("risk"),
    )
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("h"))
    conv_ok = F.col("conv_day").isNotNull() & (
        F.col("conv_day") >= F.col("first_day")
    )
    spells = per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.when(conv_ok, F.datediff("conv_day", "first_day"))
        .otherwise(F.datediff("h", "first_day"))
        .cast("long")
        .alias("t"),
        F.when(conv_ok, 1).otherwise(0).alias("d"),
        "risk",
    )
    n_t = spells.count()
    bucketed = spells.select(
        "t",
        "d",
        F.floor(
            (
                F.row_number()
                .over(Window.orderBy("risk", "user_id"))
                .cast("long")
                - 1
            )
            * 16.0
            / F.lit(n_t)
        )
        .cast("long")
        .alias("b"),
    )
    cells = (
        bucketed.groupBy("t", "d", "b")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    a = cells.select(
        F.col("t").alias("t_a"),
        F.col("d").alias("d_a"),
        F.col("b").alias("b_a"),
        F.col("cnt").alias("cnt_a"),
    ).where(F.col("d_a") == 1)
    b = cells.select(
        F.col("t").alias("t_b"),
        F.col("b").alias("b_b"),
        F.col("cnt").alias("cnt_b"),
    )
    pairs = a.join(b, F.col("t_a") < F.col("t_b")).agg(
        F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("usable"),
        F.sum(
            F.col("cnt_a")
            * F.col("cnt_b")
            * (
                F.when(F.col("b_a") > F.col("b_b"), 2)
                .when(F.col("b_a") == F.col("b_b"), 1)
                .otherwise(0)
            )
        )
        .cast("long")
        .alias("conc2"),
    )
    return pairs.select(
        F.lit(n_t).cast("long").alias("n_users"),
        F.col("usable").alias("n_usable_pairs"),
        F.col("conc2").alias("concordant2"),
        F.round(
            F.col("conc2").cast("double") / (2 * F.col("usable")), 6
        ).alias("c_index"),
    )


# ---------------------------------------------------------------------------
# R420 Croston / SBA intermittent-demand forecast
# ---------------------------------------------------------------------------


@register(
    "croston_intermittent_demand",
    sql="""
    WITH brand AS (SELECT min(p_brand) AS bb FROM part),
    demands AS MATERIALIZED (
      SELECT CAST(l.l_shipdate AS DATE) AS day,
             CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT))
                  AS BIGINT) AS z
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      CROSS JOIN brand
      WHERE p.p_brand = brand.bb
      GROUP BY CAST(l.l_shipdate AS DATE)
    ),
    seq AS MATERIALIZED (
      SELECT z,
             CAST(day - lag(day) OVER (ORDER BY day) AS BIGINT) AS gap,
             CAST(row_number() OVER (ORDER BY day DESC) AS BIGINT) AS j,
             CAST(count(*) OVER () AS BIGINT) AS k
      FROM demands
    ),
    zhat AS (
      SELECT CAST(sum(CASE
               WHEN j < k AND j <= 40 THEN
                 CAST(floor(z * power(0.5, j) * 1e9 + 0.5) AS BIGINT)
               WHEN j = k AND k <= 40 THEN
                 CAST(floor(z * power(0.5, k - 1) * 1e9 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS z9,
             CAST(max(k) AS BIGINT) AS n_demands
      FROM seq
    ),
    gaps AS MATERIALIZED (
      SELECT gap,
             CAST(row_number() OVER (ORDER BY j) AS BIGINT) AS gj,
             CAST(count(*) OVER () AS BIGINT) AS gk
      FROM seq WHERE gap IS NOT NULL
    ),
    ihat AS (
      SELECT CAST(sum(CASE
               WHEN gj < gk AND gj <= 40 THEN
                 CAST(floor(gap * power(0.5, gj) * 1e9 + 0.5) AS BIGINT)
               WHEN gj = gk AND gk <= 40 THEN
                 CAST(floor(gap * power(0.5, gk - 1) * 1e9 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS i9
      FROM gaps
    )
    SELECT n_demands,
           round(z9 / 1e9, 6) AS z_hat,
           round(i9 / 1e9, 6) AS i_hat,
           round((z9 / 1e9) / (i9 / 1e9), 6) AS croston_forecast,
           round(0.75 * (z9 / 1e9) / (i9 / 1e9), 6) AS sba_forecast
    FROM zhat, ihat
    """,
)
def croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R420 Croston's (1972) intermittent-demand method on the
    sparsest natural demand series in the schema — daily shipped
    quantity of the lexicographically-first part brand: SES (α = 1/2)
    is run separately on the NONZERO demand sizes z and on the
    inter-demand intervals, and the demand-rate forecast is ẑ/î,
    with the Syntetos-Boylan approximation ẑ/î·(1-α/2) = 0.75·ẑ/î
    as the bias-corrected twin.  α = 1/2 makes every SES weight an
    exact power of two (the theta_forecast discipline): the recursion
    unrolls to Σ 2⁻ʲ z₍ⱼ₎ over the last ≤ 40 demands (truncation
    error ≤ max z · 2⁻⁴⁰ < the 1e-6 output grid, documented), each
    term 1e-9-snapped to a BIGINT so the reduction is order-free.
    The gap series orders by recency via the SAME row_number frame,
    so both engines unroll the identical sequence.  Scale: the fact
    table collapses to brand-days in one pushed-down join + groupBy;
    the unroll frame is ≤ 40 rows."""
    part = load_table(spark, sf_dir, "part")
    brand = part.agg(F.min("p_brand").alias("bb"))
    demands = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                part.join(F.broadcast(brand), F.col("p_brand") == F.col("bb"))
                .select("p_partkey")
            ),
            on=F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("z")
        )
    )
    seq = demands.select(
        "z",
        F.datediff(
            F.col("day"), F.lag("day").over(Window.orderBy("day"))
        )
        .cast("long")
        .alias("gap"),
        F.row_number()
        .over(Window.orderBy(F.col("day").desc()))
        .cast("long")
        .alias("j"),
        F.count("*")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("k"),
    ).localCheckpoint(eager=False)
    zhat = seq.agg(
        F.sum(
            F.when(
                (F.col("j") < F.col("k")) & (F.col("j") <= 40),
                F.floor(
                    F.col("z") * F.pow(F.lit(0.5), F.col("j")) * 1e9
                    + F.lit(0.5)
                ).cast("long"),
            )
            .when(
                (F.col("j") == F.col("k")) & (F.col("k") <= 40),
                F.floor(
                    F.col("z") * F.pow(F.lit(0.5), F.col("k") - 1) * 1e9
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(0)
        )
        .cast("long")
        .alias("z9"),
        F.max("k").cast("long").alias("n_demands"),
    )
    gaps = (
        seq.where(F.col("gap").isNotNull())
        .select(
            "gap",
            F.row_number().over(Window.orderBy("j")).cast("long").alias(
                "gj"
            ),
            F.count("*")
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("long")
            .alias("gk"),
        )
    )
    ihat = gaps.agg(
        F.sum(
            F.when(
                (F.col("gj") < F.col("gk")) & (F.col("gj") <= 40),
                F.floor(
                    F.col("gap") * F.pow(F.lit(0.5), F.col("gj")) * 1e9
                    + F.lit(0.5)
                ).cast("long"),
            )
            .when(
                (F.col("gj") == F.col("gk")) & (F.col("gk") <= 40),
                F.floor(
                    F.col("gap") * F.pow(F.lit(0.5), F.col("gk") - 1) * 1e9
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(0)
        )
        .cast("long")
        .alias("i9")
    )
    out = zhat.crossJoin(ihat)
    rate = (F.col("z9") / 1e9) / (F.col("i9") / 1e9)
    return out.select(
        "n_demands",
        F.round(F.col("z9") / 1e9, 6).alias("z_hat"),
        F.round(F.col("i9") / 1e9, 6).alias("i_hat"),
        F.round(rate, 6).alias("croston_forecast"),
        F.round(0.75 * rate, 6).alias("sba_forecast"),
    )


# ---------------------------------------------------------------------------
# R421 Vargha-Delaney A effect size (weekend vs weekday daily revenue)
# ---------------------------------------------------------------------------


@register(
    "vargha_delaney_a_weekend",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS wk
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    r AS (
      SELECT wk,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS r2
      FROM d
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN wk = 1 THEN r2 ELSE 0 END) AS BIGINT)
               AS r2_we
      FROM r
    )
    SELECT n1 AS n_weekend, n0 AS n_weekday, r2_we AS r2_sum_weekend,
           round(CAST(r2_we - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(2 * n1 * n0 AS DOUBLE), 6) AS a_measure,
           round(CAST(r2_we - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(n1 * n0 AS DOUBLE) - 1.0, 6) AS cliffs_delta
    FROM agg
    """,
)
def vargha_delaney_a_weekend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R421 Vargha-Delaney Â (2000) stochastic-superiority effect size
    for weekend vs weekday daily revenue: Â = P(Y_we > Y_wd) +
    ½P(Y_we = Y_wd) — the [0,1]-scaled companion to the registry's
    cliffs_delta_weekend (δ = 2Â-1, emitted as a cross-check column)
    and the EFFECT-SIZE partner of its Mann-Whitney weekend TEST.
    Computed from midranks on the 2× grid: 2·midrank = 2·rank(y) +
    tiecount(y) - 1 is a pure BIGINT, so Â = (ΣR2_we - n1(n1+1)) /
    (2 n1 n0) is an exact-BIGINT ratio (the U-statistic identity —
    no pair join needed; one global sort over the calendar-bounded
    day frame replaces the n1×n0 comparison cloud)."""
    wk = (
        F.datediff(
            F.col("day"), F.lit("1990-01-01").cast("date")
        )
        % 7
    )
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
        .select("y", F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk"))
    )
    r = d.select(
        "wk",
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count("*").over(Window.partitionBy("y"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    agg = r.agg(
        F.sum(F.when(F.col("wk") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("wk") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("wk") == 1, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r2_we"),
    )
    num = (F.col("r2_we") - F.col("n1") * (F.col("n1") + 1)).cast("double")
    return agg.select(
        F.col("n1").alias("n_weekend"),
        F.col("n0").alias("n_weekday"),
        F.col("r2_we").alias("r2_sum_weekend"),
        F.round(num / (2 * F.col("n1") * F.col("n0")).cast("double"), 6)
        .alias("a_measure"),
        F.round(
            num / (F.col("n1") * F.col("n0")).cast("double") - 1.0, 6
        ).alias("cliffs_delta"),
    )


# ---------------------------------------------------------------------------
# R422 Hampel identifier: rolling median/MAD outlier days
# ---------------------------------------------------------------------------


@register(
    "hampel_filter_revenue",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    ranked AS MATERIALIZED (
      SELECT day, y,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS r
      FROM d
    ),
    neigh AS MATERIALIZED (
      SELECT c.day, c.y, c.r, n.y AS yn,
             CAST(count(*) OVER (PARTITION BY c.r) AS BIGINT) AS w
      FROM ranked c JOIN ranked n ON abs(n.r - c.r) <= 3
    ),
    med AS MATERIALIZED (
      SELECT day, y, r, yn,
             CAST(sum(CASE WHEN rn = 4 THEN yn ELSE 0 END)
                  OVER (PARTITION BY r) AS BIGINT) AS med7
      FROM (
        SELECT day, y, r, yn,
               CAST(row_number() OVER (PARTITION BY r ORDER BY yn)
                    AS BIGINT) AS rn
        FROM neigh WHERE w = 7
      )
    ),
    mad AS (
      SELECT day, y, med7,
             CAST(sum(CASE WHEN an = 4 THEN ad ELSE 0 END) AS BIGINT)
               AS mad7
      FROM (
        SELECT day, y, med7, abs(yn - med7) AS ad,
               CAST(row_number() OVER (PARTITION BY r ORDER BY abs(yn - med7))
                    AS BIGINT) AS an
        FROM med
      )
      GROUP BY day, y, med7
    )
    SELECT day, y, med7, mad7,
           CAST(abs(y - med7) AS BIGINT) AS abs_dev
    FROM mad
    WHERE abs(y - med7) * 10000 > 44478 * mad7
    ORDER BY day
    """,
)
def hampel_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R422 Hampel identifier over daily revenue: flag day t when
    |y_t - med7_t| > 3 · 1.4826 · MAD7_t, with med7/MAD7 the median
    and median-absolute-deviation of the CENTERED 7-day positional
    window (complete windows only) — the robust rolling-window
    outlier screen that complements the registry's global
    mad_robust_anomaly (whose single global median misses level
    shifts) and seasonal_anomaly_days (which needs a seasonal model).
    Window size 7 makes both medians the exact 4th order statistic of
    integer whole-dollar values, so the decision rule is the PURE
    INTEGER comparison 10000·|dev| > 44478·MAD (3·1.4826 = 4.4478
    exactly) — no floats anywhere.  Spark evaluates the window via
    array_sort/transform on the 7-element collect_list (JVM
    higher-order functions, no shuffle beyond the day frame); the
    oracle spells the same windows as a rank-distance self-join.
    Calendar-bounded at any data scale."""
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
    w = Window.orderBy("day").rowsBetween(-3, 3)
    arr = F.collect_list("y").over(w)
    med = F.element_at(F.array_sort(arr), 4)
    windowed = d.select(
        "day",
        "y",
        F.count("*").over(w).alias("wcnt"),
        arr.alias("arr7"),
    ).where(F.col("wcnt") == 7)
    med_df = windowed.select(
        "day",
        "y",
        F.element_at(F.array_sort(F.col("arr7")), 4)
        .cast("long")
        .alias("med7"),
        "arr7",
    )
    mad_df = med_df.select(
        "day",
        "y",
        "med7",
        F.element_at(
            F.array_sort(
                F.transform(
                    F.col("arr7"),
                    lambda v: F.abs(v - F.col("med7")),
                )
            ),
            4,
        )
        .cast("long")
        .alias("mad7"),
    )
    return (
        mad_df.withColumn(
            "abs_dev", F.abs(F.col("y") - F.col("med7")).cast("long")
        )
        .where(F.col("abs_dev") * 10000 > 44478 * F.col("mad7"))
        .select("day", "y", "med7", "mad7", "abs_dev")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# R423 normal probability-plot correlation coefficient (PPCC)
# ---------------------------------------------------------------------------

# Acklam (2003) rational approximation to the standard normal
# quantile function, |rel err| < 1.15e-9 — spelled with the SAME
# Horner nesting on both engines so Phi^-1(p) is the identical double.
_ACK_A = (
    -3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
    1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00,
)
_ACK_B = (
    -5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
    6.680131188771972e01, -1.328068155288572e01,
)
_ACK_C = (
    -7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
    -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00,
)
_ACK_D = (
    7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
    3.754408661907416e00,
)
_ACK_PLOW = 0.02425


def _probit_sql(p: str) -> str:
    """Acklam inverse-normal CDF (SQL), three-region rational form."""
    a, b, c, d = _ACK_A, _ACK_B, _ACK_C, _ACK_D
    ql = f"sqrt(-2.0 * ln({p}))"
    low = (
        f"(((((({c[0]}) * {ql} + ({c[1]})) * {ql} + ({c[2]})) * {ql}"
        f" + ({c[3]})) * {ql} + ({c[4]})) * {ql} + ({c[5]}))"
        f" / (((({d[0]} * {ql} + ({d[1]})) * {ql} + ({d[2]})) * {ql}"
        f" + ({d[3]})) * {ql} + 1.0)"
    )
    qh = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    high = (
        f"-(((((({c[0]}) * {qh} + ({c[1]})) * {qh} + ({c[2]})) * {qh}"
        f" + ({c[3]})) * {qh} + ({c[4]})) * {qh} + ({c[5]}))"
        f" / (((({d[0]} * {qh} + ({d[1]})) * {qh} + ({d[2]})) * {qh}"
        f" + ({d[3]})) * {qh} + 1.0)"
    )
    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    cen = (
        f"(((((({a[0]}) * {rc} + ({a[1]})) * {rc} + ({a[2]})) * {rc}"
        f" + ({a[3]})) * {rc} + ({a[4]})) * {rc} + ({a[5]})) * {qc}"
        f" / ((((({b[0]} * {rc} + ({b[1]})) * {rc} + ({b[2]})) * {rc}"
        f" + ({b[3]})) * {rc} + ({b[4]})) * {rc} + 1.0)"
    )
    return (
        f"(CASE WHEN ({p}) < {_ACK_PLOW} THEN {low}"
        f" WHEN ({p}) > 1.0 - {_ACK_PLOW} THEN {high}"
        f" ELSE {cen} END)"
    )


def _probit_col(p):
    """Acklam inverse-normal CDF (Spark column, same Horner nesting)."""
    a, b, c, d = _ACK_A, _ACK_B, _ACK_C, _ACK_D
    ql = F.sqrt(-2.0 * F.log(p))
    low_num = F.lit(c[0])
    for cc in c[1:]:
        low_num = low_num * ql + F.lit(cc)
    low_den = F.lit(d[0])
    for dd in d[1:]:
        low_den = low_den * ql + F.lit(dd)
    low = low_num / (low_den * ql + 1.0)
    qh = F.sqrt(-2.0 * F.log(1.0 - p))
    high_num = F.lit(c[0])
    for cc in c[1:]:
        high_num = high_num * qh + F.lit(cc)
    high_den = F.lit(d[0])
    for dd in d[1:]:
        high_den = high_den * qh + F.lit(dd)
    high = -high_num / (high_den * qh + 1.0)
    qc = p - 0.5
    rc = qc * qc
    cen_num = F.lit(a[0])
    for aa in a[1:]:
        cen_num = cen_num * rc + F.lit(aa)
    cen_den = F.lit(b[0])
    for bb in b[1:]:
        cen_den = cen_den * rc + F.lit(bb)
    cen = cen_num * qc / (cen_den * rc + 1.0)
    return (
        F.when(p < _ACK_PLOW, low)
        .when(p > 1.0 - _ACK_PLOW, high)
        .otherwise(cen)
    )


@register(
    "ppcc_normality_revenue",
    sql=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    ranked AS MATERIALIZED (
      SELECT y / 1000.0 AS yk,
             CAST(floor({_probit_sql(
                 '''(CAST(row_number() OVER (ORDER BY y) AS DOUBLE) - 0.375)
                    / (CAST(count(*) OVER () AS DOUBLE) + 0.25)''')}
                 * 1e9 + 0.5) AS BIGINT) AS q9,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM d
    ),
    s AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(sum(q9) AS BIGINT) AS sx9,
             CAST(sum(CAST(floor(yk * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS sy6,
             CAST(sum(CAST(floor((q9 / 1e9) * (q9 / 1e9) * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS sxx9,
             CAST(sum(CAST(floor((q9 / 1e9) * yk * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS sxy9,
             CAST(sum(CAST(floor(yk * yk * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS syy6
      FROM ranked
    )
    SELECT n AS n_days,
           round((n * (sxy9 / 1e9) - (sx9 / 1e9) * (sy6 / 1e6))
                 / sqrt((n * (sxx9 / 1e9) - (sx9 / 1e9) * (sx9 / 1e9))
                        * (n * (syy6 / 1e6) - (sy6 / 1e6) * (sy6 / 1e6))),
                 6) AS ppcc,
           round(power((n * (sxy9 / 1e9) - (sx9 / 1e9) * (sy6 / 1e6)), 2)
                 / ((n * (sxx9 / 1e9) - (sx9 / 1e9) * (sx9 / 1e9))
                    * (n * (syy6 / 1e6) - (sy6 / 1e6) * (sy6 / 1e6))),
                 6) AS w_prime
    FROM s
    """,
)
def ppcc_normality_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R423 normal probability-plot correlation coefficient (Filliben
    1975) for daily revenue: the Pearson correlation between the
    sorted sample and Blom plotting-position normal quantiles
    Phi^-1((i - 0.375)/(n + 0.25)) — the graphical-normality statistic
    whose square is the Shapiro-Francia W' (emitted as a cross-check
    column); complements the registry's Lilliefors (ECDF-distance)
    and Anderson-Darling (tail-weighted) normality gates with the
    correlation-based third family.  Phi^-1 is the Acklam rational
    approximation spelled with identical Horner nesting on both
    engines (the A-S erf discipline, applied to the INVERSE);
    quantiles snap at 1e-9 and revenue works on the kilodollar grid
    so all five correlation sums are per-term-snapped BIGINT
    reductions (Σy·q stays < 1e16 at sf0.1; the dollar grid would
    overflow).  One global sort of the calendar-bounded day frame."""
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
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = (
        F.row_number().over(Window.orderBy("y")).cast("double") - 0.375
    ) / (F.count("*").over(wn).cast("double") + 0.25)
    ranked = d.select(
        (F.col("y") / 1000.0).alias("yk"),
        F.floor(_probit_col(p) * 1e9 + F.lit(0.5)).cast("long").alias("q9"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    s = ranked.agg(
        F.max("n").cast("long").alias("n"),
        F.sum("q9").cast("long").alias("sx9"),
        F.sum(F.floor(F.col("yk") * 1e6 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sy6"),
        F.sum(
            F.floor(
                (F.col("q9") / 1e9) * (F.col("q9") / 1e9) * 1e9 + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sxx9"),
        F.sum(
            F.floor(
                (F.col("q9") / 1e9) * F.col("yk") * 1e9 + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sxy9"),
        F.sum(
            F.floor(F.col("yk") * F.col("yk") * 1e6 + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("syy6"),
    )
    nn = F.col("n").cast("double")
    sx = F.col("sx9") / 1e9
    sy = F.col("sy6") / 1e6
    sxx = F.col("sxx9") / 1e9
    sxy = F.col("sxy9") / 1e9
    syy = F.col("syy6") / 1e6
    num = nn * sxy - sx * sy
    den = (nn * sxx - sx * sx) * (nn * syy - sy * sy)
    return s.select(
        F.col("n").alias("n_days"),
        F.round(num / F.sqrt(den), 6).alias("ppcc"),
        F.round(F.pow(num, 2) / den, 6).alias("w_prime"),
    )


# ---------------------------------------------------------------------------
# R424 Hartley F-max + Cochran's C variance-homogeneity panel
# ---------------------------------------------------------------------------


@register(
    "variance_ratio_panel_priorities",
    sql="""
    WITH g AS MATERIALIZED (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(CAST(floor(o_totalprice * 100 + 0.5)
                  AS BIGINT) / 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(floor(CAST(floor(o_totalprice * 100 + 0.5)
                  AS BIGINT) / 100) AS BIGINT)
                  * CAST(floor(CAST(floor(o_totalprice * 100 + 0.5)
                  AS BIGINT) / 100) AS BIGINT)) AS BIGINT) AS s2
      FROM orders GROUP BY o_orderpriority
    ),
    v AS MATERIALIZED (
      SELECT pri, n,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
               AS s2v
      FROM g
    ),
    ext AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(min(n) AS BIGINT) AS n_min,
             CAST(max(n) AS BIGINT) AS n_max,
             max(s2v) AS v_max, min(s2v) AS v_min,
             CAST(sum(CAST(floor(s2v * 1e3 + 0.5) AS BIGINT)) AS BIGINT)
               AS vsum3
      FROM v
    ),
    arg AS (
      SELECT min(CASE WHEN rmax = 1 THEN pri END) AS max_priority,
             min(CASE WHEN rmin = 1 THEN pri END) AS min_priority
      FROM (
        SELECT pri,
               row_number() OVER (ORDER BY s2v DESC, pri) AS rmax,
               row_number() OVER (ORDER BY s2v ASC, pri) AS rmin
        FROM v
      )
    )
    SELECT k AS k_groups, n_min, n_max,
           max_priority, min_priority,
           round(v_max, 2) AS s2_max,
           round(v_min, 2) AS s2_min,
           round(v_max / v_min, 6) AS hartley_fmax,
           round(v_max / (vsum3 / 1e3), 6) AS cochran_c
    FROM ext, arg
    """,
)
def variance_ratio_panel_priorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R424 Hartley's F-max (1950) and Cochran's C (1941) variance-
    homogeneity panel over order values grouped by the 5 priorities:
    F_max = s²_max/s²_min and C = s²_max/Σs² — the quick-ratio
    screens that complement the registry's Bartlett (chi-square LR)
    and Levene/Brown-Forsythe (ANOVA-on-deviations) homogeneity
    tests.  Group variances use the exact-BIGINT spelling
    (S2 - S1²/n)/(n-1) on the whole-dollar grid (S1² < 9.2e18 at
    sf0.1 where n·S2 would overflow — the james_stein lesson); the
    5-term Σs² snaps per-term at 1e-3 (s² ~ 1e9 dollars², so the
    snap keeps 12 significant digits and the reduction order-free).
    Argmax/argmin priorities tie-break lexicographically.  One
    group-by pass; the panel is 5 rows at any scale."""
    x = F.floor(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long") / 100
    ).cast("long")
    g = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("pri"), x.alias("x"))
        .groupBy("pri")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        )
    )
    v = g.select(
        "pri",
        "n",
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("s2v"),
    ).localCheckpoint(eager=False)
    ext = v.agg(
        F.count("*").cast("long").alias("k"),
        F.min("n").cast("long").alias("n_min"),
        F.max("n").cast("long").alias("n_max"),
        F.max("s2v").alias("v_max"),
        F.min("s2v").alias("v_min"),
        F.sum(F.floor(F.col("s2v") * 1e3 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("vsum3"),
    )
    arg = (
        v.select(
            "pri",
            F.row_number()
            .over(Window.orderBy(F.col("s2v").desc(), F.col("pri")))
            .alias("rmax"),
            F.row_number()
            .over(Window.orderBy(F.col("s2v").asc(), F.col("pri")))
            .alias("rmin"),
        )
        .agg(
            F.min(F.when(F.col("rmax") == 1, F.col("pri"))).alias(
                "max_priority"
            ),
            F.min(F.when(F.col("rmin") == 1, F.col("pri"))).alias(
                "min_priority"
            ),
        )
    )
    out = ext.crossJoin(arg)
    return out.select(
        F.col("k").alias("k_groups"),
        "n_min",
        "n_max",
        "max_priority",
        "min_priority",
        F.round(F.col("v_max"), 2).alias("s2_max"),
        F.round(F.col("v_min"), 2).alias("s2_min"),
        F.round(F.col("v_max") / F.col("v_min"), 6).alias("hartley_fmax"),
        F.round(F.col("v_max") / (F.col("vsum3") / 1e3), 6).alias(
            "cochran_c"
        ),
    )


# ---------------------------------------------------------------------------
# R425 first-occurrence sequential pattern pairs (PrefixSpan-lite, len 2)
# ---------------------------------------------------------------------------


@register(
    "sequential_pattern_pairs",
    sql="""
    WITH firsts AS MATERIALIZED (
      SELECT user_id, event_type, min(ts) AS t0
      FROM events GROUP BY user_id, event_type
    ),
    type_support AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
      FROM firsts GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(count(*) AS BIGINT) AS support
      FROM firsts a JOIN firsts b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND a.t0 < b.t0
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.antecedent, p.consequent, p.support,
           ts.n_users AS n_antecedent,
           round(CAST(p.support AS DOUBLE) / ts.n_users, 6) AS confidence
    FROM pairs p JOIN type_support ts ON p.antecedent = ts.event_type
    ORDER BY p.support DESC, p.antecedent, p.consequent
    LIMIT 20
    """,
)
def sequential_pattern_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R425 length-2 sequential pattern mining (PrefixSpan-lite) over
    user event histories: the pattern a→b is supported by a user iff
    the user's FIRST occurrence of a strictly precedes their first
    occurrence of b (equal timestamps don't count — documented strict
    order; first-occurrence semantics make support antisymmetric-safe
    and O(1) state per (user, type)).  Confidence = support(a→b) /
    users(a).  This is the registry's markov_transitions complement:
    transitions count ADJACENT steps, sequential patterns count
    EVENTUAL order.  The fact table collapses to (user, type, min ts)
    in one shuffle; the per-user pair join is bounded by the event-
    type vocabulary (~10), so 100 TB of events still joins ~10 rows
    per user.  Top-20 by support, lexicographic tie-break."""
    firsts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint(eager=False)
    )
    type_support = firsts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    a = firsts.select(
        F.col("user_id").alias("ua"),
        F.col("event_type").alias("antecedent"),
        F.col("t0").alias("ta"),
    )
    b = firsts.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("consequent"),
        F.col("t0").alias("tb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("ua") == F.col("ub"))
            & (F.col("antecedent") != F.col("consequent"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("long").alias("support"))
    )
    return (
        pairs.join(
            F.broadcast(type_support),
            on=F.col("antecedent") == F.col("event_type"),
        )
        .select(
            "antecedent",
            "consequent",
            "support",
            F.col("n_users").alias("n_antecedent"),
            F.round(
                F.col("support").cast("double") / F.col("n_users"), 6
            ).alias("confidence"),
        )
        .orderBy(
            F.col("support").desc(), F.col("antecedent"), F.col("consequent")
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# R426 count-min sketch (portable md5 hashes) with exact-count probes
# ---------------------------------------------------------------------------


@register(
    "countmin_sketch_users",
    sql="""
    WITH counts AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    buckets AS MATERIALIZED (
      SELECT r.r,
             CAST(('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':'
                   || CAST(counts.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 256 AS b,
             CAST(sum(counts.c) AS BIGINT) AS cell
      FROM counts CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
      GROUP BY r.r, CAST(('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':'
                   || CAST(counts.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 256
    ),
    probes AS MATERIALIZED (
      SELECT user_id, c FROM counts
      ORDER BY md5(CAST(user_id AS VARCHAR)), user_id LIMIT 20
    ),
    est AS (
      SELECT p.user_id, p.c,
             CAST(min(bk.cell) AS BIGINT) AS cms_est
      FROM probes p
      JOIN buckets bk
        ON bk.b = CAST(('0x' || substring(md5(CAST(bk.r AS VARCHAR) || ':'
                        || CAST(p.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 256
      GROUP BY p.user_id, p.c
    )
    SELECT user_id, c AS exact_cnt, cms_est,
           CAST(cms_est - c AS BIGINT) AS overestimate
    FROM est ORDER BY user_id
    """,
)
def countmin_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R426 count-min sketch (Cormode-Muthukrishnan 2005) of per-user
    event frequencies, d = 4 rows × w = 256 buckets, with hashes from
    the repo's PORTABLE md5 idiom (conv(substring(md5, 1, 15)) mod w —
    identical integers on both engines), probed at 20 deterministic
    users (smallest md5 of user_id — an unbiased pseudo-random probe
    set): estimate = min over rows of the bucket sums, reported next
    to the exact count with the (always ≥ 0) overestimate — the
    sub-linear frequency summary that complements the registry's
    exact heavy-hitter and KMV/HLL distinct sketches.  Everything is
    BIGINT; the sketch build is one groupBy over a 4× fanout of the
    user-count frame (1024 cells regardless of scale), and the probe
    join is broadcast-sized."""
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    rows = spark.range(4).select(F.col("id").cast("int").alias("r"))

    def bucket(rcol, ucol):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            rcol.cast("string"), F.lit(":"), ucol.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 256
        )

    buckets = (
        counts.crossJoin(F.broadcast(rows))
        .groupBy(
            F.col("r"), bucket(F.col("r"), F.col("user_id")).alias("b")
        )
        .agg(F.sum("c").cast("long").alias("cell"))
        .localCheckpoint(eager=False)
    )
    probes = (
        counts.orderBy(F.md5(F.col("user_id").cast("string")), "user_id")
        .limit(20)
    )
    est = (
        probes.crossJoin(F.broadcast(rows.select(F.col("r").alias("pr"))))
        .select(
            "user_id",
            "c",
            "pr",
            bucket(F.col("pr"), F.col("user_id")).alias("pb"),
        )
        .join(
            buckets,
            on=(F.col("pr") == F.col("r")) & (F.col("pb") == F.col("b")),
        )
        .groupBy("user_id", "c")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return est.select(
        "user_id",
        F.col("c").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("c")).cast("long").alias("overestimate"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# R427 AMS second-frequency-moment sketch (median of means)
# ---------------------------------------------------------------------------


@register(
    "ams_f2_sketch_users",
    sql="""
    WITH counts AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    exact AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS f2,
             CAST(count(*) AS BIGINT) AS n_users
      FROM counts
    ),
    sketch AS MATERIALIZED (
      SELECT i.i,
             CAST(sum(c * (CASE WHEN
               CAST(('0x' || substring(md5(CAST(i.i AS VARCHAR) || '#'
                     || CAST(counts.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS s
      FROM counts CROSS JOIN (
        SELECT unnest([0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15]) AS i) i
      GROUP BY i.i
    ),
    grp AS MATERIALIZED (
      SELECT CAST(i // 4 AS BIGINT) AS g,
             CAST(sum(s * s) AS BIGINT) AS x4
      FROM sketch GROUP BY CAST(i // 4 AS BIGINT)
    ),
    med AS (
      SELECT CAST(sum(CASE WHEN rn IN (2, 3) THEN x4 ELSE 0 END)
                  AS BIGINT) AS mid2
      FROM (
        SELECT x4, CAST(row_number() OVER (ORDER BY x4, g) AS BIGINT) AS rn
        FROM grp
      )
    )
    SELECT exact.n_users, exact.f2 AS exact_f2,
           round(med.mid2 / 8.0, 2) AS ams_estimate,
           round((med.mid2 / 8.0 - exact.f2) / exact.f2, 6)
             AS relative_error
    FROM exact, med
    """,
)
def ams_f2_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R427 AMS sketch (Alon-Matias-Szegedy 1996) of the second
    frequency moment F2 = Σ c_u² of the user-event distribution:
    16 independent ±1-hash estimators X_i = (Σ_u c_u·s_i(u))² with
    signs from the parity of the portable md5 integer, combined
    median-of-means (4 groups of 4; the median of 4 group sums is
    (2nd+3rd)/2, so the estimate is the exact rational mid2/8) and
    reported against the EXACT F2 with its relative error — the
    self-join-free estimator of join sizes / skew that complements
    the registry's CMS point-frequency sketch (R426).  Every sketch
    cell is a BIGINT (|Σ c s| ≤ F1 < 2³⁰ at sf0.1, squares < 2⁶⁰);
    the build is one 16× fanout groupBy, 16 cells total at any
    scale."""
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    exact = counts.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2"),
        F.count("*").cast("long").alias("n_users"),
    )
    ests = spark.range(16).select(F.col("id").cast("int").alias("i"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("i").cast("string"),
                        F.lit("#"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    sketch = (
        counts.crossJoin(F.broadcast(ests))
        .groupBy("i")
        .agg(F.sum(F.col("c") * sign).cast("long").alias("s"))
    )
    grp = sketch.groupBy(
        F.floor(F.col("i") / 4).cast("long").alias("g")
    ).agg(F.sum(F.col("s") * F.col("s")).cast("long").alias("x4"))
    med = (
        grp.select(
            "x4",
            F.row_number()
            .over(Window.orderBy("x4", "g"))
            .cast("long")
            .alias("rn"),
        )
        .agg(
            F.sum(F.when(F.col("rn").isin(2, 3), F.col("x4")).otherwise(0))
            .cast("long")
            .alias("mid2")
        )
    )
    out = exact.crossJoin(med)
    return out.select(
        "n_users",
        F.col("f2").alias("exact_f2"),
        F.round(F.col("mid2") / 8.0, 2).alias("ams_estimate"),
        F.round(
            (F.col("mid2") / 8.0 - F.col("f2")) / F.col("f2"), 6
        ).alias("relative_error"),
    )


# ---------------------------------------------------------------------------
# R428 four-cycle (C4) count on the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "four_cycle_count_copurchase",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    adj AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e
      UNION ALL
      SELECT v AS src, u AS dst FROM e
    ),
    cn AS MATERIALIZED (
      SELECT a.dst AS x, b.dst AS y, CAST(count(*) AS BIGINT) AS c
      FROM adj a JOIN adj b ON a.src = b.src AND a.dst < b.dst
      GROUP BY a.dst, b.dst
    ),
    agg AS (
      SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) AS quad,
             CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_cn2
      FROM cn
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           n_pairs_cn2, quad,
           CAST(quad / 2 AS BIGINT) AS n_four_cycles
    FROM agg
    """,
)
def four_cycle_count_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R428 four-cycle (C4 / 'butterfly') count on the SUPPORT-2
    co-purchase graph (pairs co-purchased in ≥ 2 distinct orders —
    the same min-support sparsification the registry's
    label_propagation_copurchase R370 uses, and for the same reason:
    the support-1 projection carries ~148M wedges at sf0.1, pricing
    an exact global census at ~1 bench-minute, while support-2 keeps
    the full-graph semantics of interest at graph-bounded cost):
    every 4-cycle {u,z,v,w} is determined by its two diagonal pairs,
    so C4 = ½ Σ_{x<y} C(cn(x,y), 2) with cn the common-neighbor
    count from the adjacency wedge join.  Every count is a BIGINT
    and quad is provably even (each cycle counted by exactly 2
    diagonals) — the bipartite-cohesion complement of
    co_purchase_triangles' closed-triangle census.  At 100 TB the
    support filter prunes the pair frame BEFORE the wedge join, so
    wedge volume is bounded by the thresholded degree sequence."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a0 = li.select(
        F.col("l_orderkey").alias("oa"), F.col("l_partkey").alias("pu")
    )
    b0 = li.select(
        F.col("l_orderkey").alias("ob"), F.col("l_partkey").alias("pv")
    )
    e = (
        a0.join(
            b0, (F.col("oa") == F.col("ob")) & (F.col("pu") < F.col("pv"))
        )
        .groupBy(F.col("pu").alias("u"), F.col("pv").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    adj = e.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    a = adj.select(F.col("src").alias("sa"), F.col("dst").alias("x"))
    b = adj.select(F.col("src").alias("sb"), F.col("dst").alias("y"))
    cn = (
        a.join(
            b, (F.col("sa") == F.col("sb")) & (F.col("x") < F.col("y"))
        )
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = cn.agg(
        F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("long"))
        .cast("long")
        .alias("quad"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_pairs_cn2"),
    )
    n_edges = e.count()
    return agg.select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        "n_pairs_cn2",
        "quad",
        (F.col("quad") / 2).cast("long").alias("n_four_cycles"),
    )


# ---------------------------------------------------------------------------
# R429 Hotelling's T² two-sample multivariate test (weekend vs weekday)
# ---------------------------------------------------------------------------


@register(
    "hotelling_t2_weekend",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS x1,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS x2,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7 AS BIGINT) IN (5, 6)
                  THEN 1 ELSE 0 END AS wk
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    m AS MATERIALIZED (
      SELECT wk, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x2 * x2) AS BIGINT) AS s22
      FROM d GROUP BY wk
    ),
    s AS (
      SELECT
        a.n AS n1, b.n AS n0,
        CAST(a.s1 AS DOUBLE) / a.n - CAST(b.s1 AS DOUBLE) / b.n AS d1,
        CAST(a.s2 AS DOUBLE) / a.n - CAST(b.s2 AS DOUBLE) / b.n AS d2,
        ((CAST(a.s11 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
         + (CAST(b.s11 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1 / b.n))
          / (a.n + b.n - 2) AS w11,
        ((CAST(a.s12 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s2 / a.n)
         + (CAST(b.s12 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s2 / b.n))
          / (a.n + b.n - 2) AS w12,
        ((CAST(a.s22 AS DOUBLE) - CAST(a.s2 AS DOUBLE) * a.s2 / a.n)
         + (CAST(b.s22 AS DOUBLE) - CAST(b.s2 AS DOUBLE) * b.s2 / b.n))
          / (a.n + b.n - 2) AS w22
      FROM (SELECT * FROM m WHERE wk = 1) a,
           (SELECT * FROM m WHERE wk = 0) b
    ),
    t AS (
      SELECT n1, n0,
             (CAST(n1 AS DOUBLE) * n0 / (n1 + n0))
             * (d1 * (w22 * d1 - w12 * d2)
                + d2 * (w11 * d2 - w12 * d1))
             / (w11 * w22 - w12 * w12) AS t2
      FROM s
    )
    SELECT n1 AS n_weekend, n0 AS n_weekday,
           round(t2, 6) AS t2_stat,
           round(t2 * (n1 + n0 - 3) / (CAST(n1 + n0 AS DOUBLE) - 2) / 2.0,
                 6) AS f_stat
    FROM t
    """,
)
def hotelling_t2_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R429 Hotelling's T² two-sample test on the per-day bivariate
    (order count, whole-dollar revenue) between weekend and weekday
    days: T² = (n₁n₀/(n₁+n₀)) d' S_pooled⁻¹ d with the 2×2 pooled
    covariance inverted in closed form — the MULTIVARIATE
    generalization of the registry's per-feature weekend t/z tests
    (it respects the count-revenue correlation that running two
    univariate tests ignores), with the exact F conversion
    F = T²(n-p-1)/((n-2)p), p = 2.  Every scatter entry is built
    from BIGINT day-frame moments with the S2 - S1²/n spelling
    (exact-operand doubles; n·S2 would overflow at sf0.1), so both
    engines invert the identical matrix.  One groupBy to days, one
    2-group aggregate: single-shuffle at any scale."""
    wk = (
        F.datediff(
            F.col("day"), F.lit("1990-01-01").cast("date")
        )
        % 7
    )
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x1"),
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                / 100
            )
            .cast("long")
            .alias("x2"),
        )
        .select(
            "x1", "x2", F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk")
        )
    )
    m = d.groupBy("wk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
    )
    a = m.where(F.col("wk") == 1).select(
        *[F.col(c).alias(f"a_{c}") for c in ["n", "s1", "s2", "s11", "s12", "s22"]]
    )
    b = m.where(F.col("wk") == 0).select(
        *[F.col(c).alias(f"b_{c}") for c in ["n", "s1", "s2", "s11", "s12", "s22"]]
    )
    j = a.crossJoin(b)
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    nn = (F.col("a_n") + F.col("b_n") - 2).cast("double")
    d1 = dd("a_s1") / F.col("a_n") - dd("b_s1") / F.col("b_n")
    d2 = dd("a_s2") / F.col("a_n") - dd("b_s2") / F.col("b_n")
    w11 = (
        (dd("a_s11") - dd("a_s1") * F.col("a_s1") / F.col("a_n"))
        + (dd("b_s11") - dd("b_s1") * F.col("b_s1") / F.col("b_n"))
    ) / nn
    w12 = (
        (dd("a_s12") - dd("a_s1") * F.col("a_s2") / F.col("a_n"))
        + (dd("b_s12") - dd("b_s1") * F.col("b_s2") / F.col("b_n"))
    ) / nn
    w22 = (
        (dd("a_s22") - dd("a_s2") * F.col("a_s2") / F.col("a_n"))
        + (dd("b_s22") - dd("b_s2") * F.col("b_s2") / F.col("b_n"))
    ) / nn
    t2 = (
        (F.col("a_n").cast("double") * F.col("b_n") / (F.col("a_n") + F.col("b_n")))
        * (d1 * (w22 * d1 - w12 * d2) + d2 * (w11 * d2 - w12 * d1))
        / (w11 * w22 - w12 * w12)
    )
    return j.select(
        F.col("a_n").alias("n_weekend"),
        F.col("b_n").alias("n_weekday"),
        F.round(t2, 6).alias("t2_stat"),
        F.round(
            t2
            * (F.col("a_n") + F.col("b_n") - 3)
            / ((F.col("a_n") + F.col("b_n")).cast("double") - 2)
            / 2.0,
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# R430 one-way MANOVA: Wilks' lambda over market segments
# ---------------------------------------------------------------------------


@register(
    "wilks_lambda_manova",
    sql="""
    WITH cust AS MATERIALIZED (
      SELECT c.c_custkey, c.c_mktsegment AS seg,
             CAST(count(o.o_orderkey) AS BIGINT) AS x1,
             CAST(coalesce(sum(CAST(floor(CAST(floor(o.o_totalprice * 100
                  + 0.5) AS BIGINT) / 100) AS BIGINT)), 0) AS BIGINT) AS x2
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ),
    grp AS MATERIALIZED (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x2 * x2) AS BIGINT) AS s22
      FROM cust GROUP BY seg
    ),
    w AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(CAST(floor((CAST(s11 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * s1 / n) * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS w11_6,
             CAST(sum(CAST(floor((CAST(s12 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * s2 / n) * 1e3 + 0.5) AS BIGINT))
                  AS BIGINT) AS w12_3,
             CAST(sum(CAST(floor(CAST(s22 AS DOUBLE)
                  - CAST(s2 AS DOUBLE) * s2 / n + 0.5) AS BIGINT))
                  AS BIGINT) AS w22,
             CAST(sum(s1) AS BIGINT) AS g1, CAST(sum(s2) AS BIGINT) AS g2,
             CAST(sum(s11) AS BIGINT) AS t11r,
             CAST(sum(s12) AS BIGINT) AS t12r,
             CAST(sum(s22) AS BIGINT) AS t22r
      FROM grp
    ),
    lam AS (
      SELECT k, n_total,
             ((w11_6 / 1e6) * w22 - (w12_3 / 1e3) * (w12_3 / 1e3))
             / ((CAST(t11r AS DOUBLE) - CAST(g1 AS DOUBLE) * g1 / n_total)
                * (CAST(t22r AS DOUBLE) - CAST(g2 AS DOUBLE) * g2 / n_total)
                - (CAST(t12r AS DOUBLE) - CAST(g1 AS DOUBLE) * g2 / n_total)
                  * (CAST(t12r AS DOUBLE) - CAST(g1 AS DOUBLE) * g2
                     / n_total)) AS lambda
      FROM w
    ),
    bart AS (
      SELECT k, n_total, lambda,
             -(n_total - 1 - (2.0 + k) / 2.0) * ln(lambda) AS chi2
      FROM lam
    )
    SELECT k AS k_groups, n_total AS n_customers,
           round(lambda, 6) AS wilks_lambda,
           round(chi2, 6) AS bartlett_chi2,
           CAST(2 * (k - 1) AS BIGINT) AS df,
           round(exp(-chi2 / 2.0)
                 * (1.0 + (chi2 / 2.0)
                    + (chi2 / 2.0) * (chi2 / 2.0) / 2.0
                    + (chi2 / 2.0) * (chi2 / 2.0) * (chi2 / 2.0) / 6.0),
                 6) AS p_value
    FROM bart
    """,
)
def wilks_lambda_manova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R430 one-way MANOVA via Wilks' Λ on the per-customer bivariate
    (order count, whole-dollar spend) across the 5 market segments:
    Λ = det(W)/det(T) with W the pooled within-group and T the total
    scatter — the multivariate generalization of the registry's
    anova_f_segments (which tests each feature alone), with
    Bartlett's chi-square approximation χ² = -(N-1-(p+k)/2)·lnΛ and
    its CLOSED-FORM df = p(k-1) = 8 survival function
    e^{-x/2}·Σ_{i<4}(x/2)^i/i! (even df ⇒ finite sum — no incomplete
    gamma).  Scatter entries come from BIGINT group moments with the
    S2 - S1²/n spelling; each group's within-scatter contribution is
    snapped on a SCALE-APPROPRIATE grid per entry (count² at 1e-6,
    count·dollar at 1e-3, dollar² at 1e0 — a uniform integer snap
    loses 0.17 percent of Λ through the det(W) cancellation because
    the count² entry is ~1e3 while dollar² is ~1e14; referee-caught)
    so each 5-term sum is an order-free BIGINT reduction under the
    9.2e18 BIGINT cap at sf0.1.  LEFT JOIN keeps zero-order customers (true zeros in
    both features).  One fact-dim join + two bounded aggregates."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", F.col("c_mktsegment").alias("seg"))
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                "o_orderkey",
                F.floor(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                    / 100
                )
                .cast("long")
                .alias("dollars"),
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
            how="left",
        )
        .groupBy("c_custkey", "seg")
        .agg(
            F.count("o_orderkey").cast("long").alias("x1"),
            F.coalesce(F.sum("dollars"), F.lit(0)).cast("long").alias("x2"),
        )
    )
    grp = cust.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    w = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.floor(
                (dd("s11") - dd("s1") * F.col("s1") / F.col("n")) * 1e6
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("w11_6"),
        F.sum(
            F.floor(
                (dd("s12") - dd("s1") * F.col("s2") / F.col("n")) * 1e3
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("w12_3"),
        F.sum(
            F.floor(
                dd("s22") - dd("s2") * F.col("s2") / F.col("n") + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("w22"),
        F.sum("s1").cast("long").alias("g1"),
        F.sum("s2").cast("long").alias("g2"),
        F.sum("s11").cast("long").alias("t11r"),
        F.sum("s12").cast("long").alias("t12r"),
        F.sum("s22").cast("long").alias("t22r"),
    )
    t11 = dd("t11r") - dd("g1") * F.col("g1") / F.col("n_total")
    t12 = dd("t12r") - dd("g1") * F.col("g2") / F.col("n_total")
    t22 = dd("t22r") - dd("g2") * F.col("g2") / F.col("n_total")
    lam = (
        (F.col("w11_6") / 1e6) * F.col("w22")
        - (F.col("w12_3") / 1e3) * (F.col("w12_3") / 1e3)
    ) / (t11 * t22 - t12 * t12)
    out = w.withColumn("lambda", lam).withColumn(
        "chi2",
        -(
            F.col("n_total")
            - 1
            - (2.0 + F.col("k")) / 2.0
        )
        * F.log(F.col("lambda")),
    )
    h = F.col("chi2") / 2.0
    return out.select(
        F.col("k").alias("k_groups"),
        F.col("n_total").alias("n_customers"),
        F.round(F.col("lambda"), 6).alias("wilks_lambda"),
        F.round(F.col("chi2"), 6).alias("bartlett_chi2"),
        (2 * (F.col("k") - 1)).cast("long").alias("df"),
        F.round(
            F.exp(-h) * (1.0 + h + h * h / 2.0 + h * h * h / 6.0), 6
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R431 canonical correlation (2x2 closed form) between customer blocks
# ---------------------------------------------------------------------------


@register(
    "canonical_correlation_customers",
    sql="""
    WITH cust AS MATERIALIZED (
      SELECT c.c_custkey,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x1,
             CAST(count(o.o_orderkey) AS BIGINT) AS x2,
             CAST(coalesce(sum(CAST(floor(CAST(floor(o.o_totalprice * 100
                  + 0.5) AS BIGINT) / 100) AS BIGINT)), 0) AS BIGINT) AS y1,
             CAST(coalesce(max(CAST(floor(CAST(floor(o.o_totalprice * 100
                  + 0.5) AS BIGINT) / 100) AS BIGINT)), 0) AS BIGINT) AS y2
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y1) AS BIGINT) AS sy1, CAST(sum(y2) AS BIGINT) AS sy2,
             CAST(sum(x1 * x1) AS BIGINT) AS sx11,
             CAST(sum(x1 * x2) AS BIGINT) AS sx12,
             CAST(sum(x2 * x2) AS BIGINT) AS sx22,
             CAST(sum(y1 * y1) AS BIGINT) AS sy11,
             CAST(sum(y1 * y2) AS BIGINT) AS sy12,
             CAST(sum(y2 * y2) AS BIGINT) AS sy22,
             CAST(sum(x1 * y1) AS BIGINT) AS sc11,
             CAST(sum(x1 * y2) AS BIGINT) AS sc12,
             CAST(sum(x2 * y1) AS BIGINT) AS sc21,
             CAST(sum(x2 * y2) AS BIGINT) AS sc22
      FROM cust
    ),
    cov AS (
      SELECT n,
        CAST(sx11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS a11,
        CAST(sx12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS a12,
        CAST(sx22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS a22,
        CAST(sy11 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n AS b11,
        CAST(sy12 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy2 / n AS b12,
        CAST(sy22 AS DOUBLE) - CAST(sy2 AS DOUBLE) * sy2 / n AS b22,
        CAST(sc11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n AS c11,
        CAST(sc12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy2 / n AS c12,
        CAST(sc21 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy1 / n AS c21,
        CAST(sc22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy2 / n AS c22
      FROM m
    ),
    eig AS (
      SELECT n,
        -- tr(M) and det(M) of M = Sxx^-1 Sxy Syy^-1 Syx, expanded so
        -- both engines evaluate the identical expression tree:
        ((c11 * (b22 * c11 - b12 * c12) + c12 * (b11 * c12 - b12 * c11))
           * a22
         + (c21 * (b22 * c11 - b12 * c12) + c22 * (b11 * c12 - b12 * c11))
           * (-a12)
         + (c11 * (b22 * c21 - b12 * c22) + c12 * (b11 * c22 - b12 * c21))
           * (-a12)
         + (c21 * (b22 * c21 - b12 * c22) + c22 * (b11 * c22 - b12 * c21))
           * a11)
          / ((a11 * a22 - a12 * a12) * (b11 * b22 - b12 * b12)) AS tr_m,
        ((c11 * c22 - c12 * c21) * (c11 * c22 - c12 * c21))
          / ((a11 * a22 - a12 * a12) * (b11 * b22 - b12 * b12)) AS det_m
      FROM cov
    )
    SELECT n AS n_customers,
           round(sqrt((tr_m + sqrt(tr_m * tr_m - 4 * det_m)) / 2.0), 6)
             AS rho1,
           round(sqrt(greatest((tr_m - sqrt(tr_m * tr_m - 4 * det_m))
                               / 2.0, 0.0)), 6) AS rho2,
           round(tr_m, 6) AS trace_m,
           round(det_m, 9) AS det_m
    FROM eig
    """,
)
def canonical_correlation_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R431 canonical correlation analysis between the customer
    PROFILE block X = (account balance cents, order count) and the
    SPEND block Y = (total whole-dollar spend, max order value):
    the canonical correlations are the square roots of the
    eigenvalues of M = Sxx⁻¹·Sxy·Syy⁻¹·Syx — for p = q = 2 the
    eigenvalues are the CLOSED-FORM quadratic roots
    (tr ± √(tr²-4det))/2, with tr(M) expanded to one explicit
    polynomial of the ten covariance entries (identical expression
    tree both engines) and det(M) = det(Sxy)²/(det Sxx·det Syy) —
    the block-level generalization of the registry's single-pair
    correlation / partial-correlation queries.  All ten scatter
    entries are exact-operand doubles from BIGINT moments (cent
    balances × dollar spends stay < 9.2e18 at sf0.1).  One fact-dim
    aggregate; the eigenproblem is a scalar expression."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x1"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                "o_orderkey",
                F.floor(cents / 100).cast("long").alias("dollars"),
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
            how="left",
        )
        .groupBy("c_custkey", "x1")
        .agg(
            F.count("o_orderkey").cast("long").alias("x2"),
            F.coalesce(F.sum("dollars"), F.lit(0))
            .cast("long")
            .alias("y1"),
            F.coalesce(F.max("dollars"), F.lit(0))
            .cast("long")
            .alias("y2"),
        )
    )
    m = cust.agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(expr).cast("long").alias(name)
            for name, expr in [
                ("sx1", F.col("x1")),
                ("sx2", F.col("x2")),
                ("sy1", F.col("y1")),
                ("sy2", F.col("y2")),
                ("sx11", F.col("x1") * F.col("x1")),
                ("sx12", F.col("x1") * F.col("x2")),
                ("sx22", F.col("x2") * F.col("x2")),
                ("sy11", F.col("y1") * F.col("y1")),
                ("sy12", F.col("y1") * F.col("y2")),
                ("sy22", F.col("y2") * F.col("y2")),
                ("sc11", F.col("x1") * F.col("y1")),
                ("sc12", F.col("x1") * F.col("y2")),
                ("sc21", F.col("x2") * F.col("y1")),
                ("sc22", F.col("x2") * F.col("y2")),
            ]
        ],
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    n = F.col("n")
    cov = m.select(
        "n",
        (dd("sx11") - dd("sx1") * F.col("sx1") / n).alias("a11"),
        (dd("sx12") - dd("sx1") * F.col("sx2") / n).alias("a12"),
        (dd("sx22") - dd("sx2") * F.col("sx2") / n).alias("a22"),
        (dd("sy11") - dd("sy1") * F.col("sy1") / n).alias("b11"),
        (dd("sy12") - dd("sy1") * F.col("sy2") / n).alias("b12"),
        (dd("sy22") - dd("sy2") * F.col("sy2") / n).alias("b22"),
        (dd("sc11") - dd("sx1") * F.col("sy1") / n).alias("c11"),
        (dd("sc12") - dd("sx1") * F.col("sy2") / n).alias("c12"),
        (dd("sc21") - dd("sx2") * F.col("sy1") / n).alias("c21"),
        (dd("sc22") - dd("sx2") * F.col("sy2") / n).alias("c22"),
    )
    a11, a12, a22 = F.col("a11"), F.col("a12"), F.col("a22")
    b11, b12, b22 = F.col("b11"), F.col("b12"), F.col("b22")
    c11, c12, c21, c22 = (
        F.col("c11"),
        F.col("c12"),
        F.col("c21"),
        F.col("c22"),
    )
    den = (a11 * a22 - a12 * a12) * (b11 * b22 - b12 * b12)
    tr_m = (
        (c11 * (b22 * c11 - b12 * c12) + c12 * (b11 * c12 - b12 * c11))
        * a22
        + (c21 * (b22 * c11 - b12 * c12) + c22 * (b11 * c12 - b12 * c11))
        * (-a12)
        + (c11 * (b22 * c21 - b12 * c22) + c12 * (b11 * c22 - b12 * c21))
        * (-a12)
        + (c21 * (b22 * c21 - b12 * c22) + c22 * (b11 * c22 - b12 * c21))
        * a11
    ) / den
    det_m = ((c11 * c22 - c12 * c21) * (c11 * c22 - c12 * c21)) / den
    eig = cov.select("n", tr_m.alias("tr_m"), det_m.alias("det_m"))
    disc = F.sqrt(F.col("tr_m") * F.col("tr_m") - 4 * F.col("det_m"))
    return eig.select(
        F.col("n").alias("n_customers"),
        F.round(F.sqrt((F.col("tr_m") + disc) / 2.0), 6).alias("rho1"),
        F.round(
            F.sqrt(F.greatest((F.col("tr_m") - disc) / 2.0, F.lit(0.0))), 6
        ).alias("rho2"),
        F.round(F.col("tr_m"), 6).alias("trace_m"),
        F.round(F.col("det_m"), 9).alias("det_m"),
    )


# ---------------------------------------------------------------------------
# R432 item-item covisitation cosine top-k (recsys candidate generation)
# ---------------------------------------------------------------------------


@register(
    "covisitation_item_item_topk",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    deg AS MATERIALIZED (
      SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS d
      FROM li GROUP BY l_partkey
    ),
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS ia, b.l_partkey AS ib,
             CAST(count(*) AS BIGINT) AS c
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 2
    )
    SELECT p.ia AS item_a, p.ib AS item_b, p.c AS co_count,
           da.d AS deg_a, db.d AS deg_b,
           round(CAST(p.c AS DOUBLE) / sqrt(CAST(da.d * db.d AS DOUBLE)),
                 6) AS cosine
    FROM pairs p
    JOIN deg da ON p.ia = da.item
    JOIN deg db ON p.ib = db.item
    ORDER BY CAST(p.c * p.c AS DOUBLE) / CAST(da.d * db.d AS DOUBLE) DESC,
             p.ia, p.ib
    LIMIT 20
    """,
)
def covisitation_item_item_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R432 item-item covisitation with cosine normalization — the
    classical recsys candidate-generation matrix: c(a,b) = baskets
    containing both items, cosine = c/√(d_a·d_b) with d the item's
    basket frequency, support ≥ 2, top-20 — the NORMALIZED companion
    of the registry's raw co-purchase edge queries (raw counts rank
    popular items first; cosine surfaces genuinely-associated pairs)
    and the graph-free sibling of its ALS/embedding recommenders.
    The ranking key is the exact rational c²/(d_a·d_b) (BIGINT
    operands — identical double on both engines, so the ORDER BY is
    reproducible; ties break lexicographically).  Pair counting joins
    the deduped basket-item frame to itself on the basket key — at
    100 TB this is one shuffle on l_orderkey with map-side basket
    dedup, and the support filter prunes before the degree join."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").cast("long").alias("d")
    )
    a = li.select(
        F.col("l_orderkey").alias("oa"), F.col("l_partkey").alias("ia")
    )
    b = li.select(
        F.col("l_orderkey").alias("ob"), F.col("l_partkey").alias("ib")
    )
    pairs = (
        a.join(
            b, (F.col("oa") == F.col("ob")) & (F.col("ia") < F.col("ib"))
        )
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("long").alias("c"))
        .where(F.col("c") >= 2)
    )
    da = deg.select(
        F.col("item").alias("item_da"), F.col("d").alias("deg_a")
    )
    db = deg.select(
        F.col("item").alias("item_db"), F.col("d").alias("deg_b")
    )
    joined = pairs.join(
        da, on=F.col("ia") == F.col("item_da")
    ).join(db, on=F.col("ib") == F.col("item_db"))
    cos2 = (F.col("c") * F.col("c")).cast("double") / (
        F.col("deg_a") * F.col("deg_b")
    ).cast("double")
    return (
        joined.select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            F.col("c").alias("co_count"),
            "deg_a",
            "deg_b",
            F.round(
                F.col("c").cast("double")
                / F.sqrt((F.col("deg_a") * F.col("deg_b")).cast("double")),
                6,
            ).alias("cosine"),
            cos2.alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), F.col("item_a"), F.col("item_b"))
        .limit(20)
        .drop("_ord")
    )


# ---------------------------------------------------------------------------
# R433 quantile treatment effects (weekend vs weekday revenue deciles)
# ---------------------------------------------------------------------------


@register(
    "quantile_treatment_effects",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS wk
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    r AS MATERIALIZED (
      SELECT wk, y,
             CAST(row_number() OVER (PARTITION BY wk ORDER BY y)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY wk) AS BIGINT) AS n
      FROM d
    ),
    qs AS (
      SELECT q.q, r.wk,
             CAST(sum(CASE WHEN r.rn = CAST(floor((q.q * (r.n - 1)) / 10.0)
                                            AS BIGINT) + 1
                           THEN r.y ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(CASE WHEN r.rn = CAST(ceil((q.q * (r.n - 1)) / 10.0)
                                            AS BIGINT) + 1
                           THEN r.y ELSE 0 END) AS BIGINT) AS hi,
             CAST(max(CASE WHEN CAST(floor((q.q * (r.n - 1)) / 10.0)
                                 AS BIGINT)
                                = CAST(ceil((q.q * (r.n - 1)) / 10.0)
                                       AS BIGINT)
                           THEN 1 ELSE 0 END) AS BIGINT) AS degenerate,
             max((q.q * (r.n - 1)) % 10) AS frac10
      FROM r CROSS JOIN (
        SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS q) q
      GROUP BY q.q, r.wk
    ),
    qv AS (
      SELECT q, wk,
             CASE WHEN degenerate = 1 THEN CAST(lo AS DOUBLE)
                  ELSE lo + (hi - lo) * (frac10 / 10.0) END AS qval
      FROM qs
    )
    SELECT a.q AS decile,
           round(a.qval, 6) AS q_weekend,
           round(b.qval, 6) AS q_weekday,
           round(a.qval - b.qval, 6) AS qte
    FROM (SELECT * FROM qv WHERE wk = 1) a
    JOIN (SELECT * FROM qv WHERE wk = 0) b ON a.q = b.q
    ORDER BY a.q
    """,
)
def quantile_treatment_effects(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R433 quantile 'treatment' effects of weekends on daily revenue:
    QTE(τ) = Q_weekend(τ) - Q_weekday(τ) at the nine deciles — the
    DISTRIBUTIONAL effect profile that mean-effect tests
    (hodges_lehmann, vargha_delaney, the weekend z panel) cannot
    show (a weekend that fattens only the upper tail has zero
    median effect).  Quantiles are type-7 (linear interpolation at
    h = τ(n-1)): the bracketing order statistics lo/hi come from
    per-group row_number (exact whole-dollar BIGINTs) and the
    fractional weight is the EXACT RATIONAL (τ·(n-1)) mod 10 / 10,
    so interpolation multiplies identical doubles on both engines.
    Day-frame bounded; one sort per group."""
    wk = (
        F.datediff(F.col("day"), F.lit("1990-01-01").cast("date")) % 7
    )
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
        .select("y", F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk"))
    )
    r = d.select(
        "wk",
        "y",
        F.row_number()
        .over(Window.partitionBy("wk").orderBy("y"))
        .cast("long")
        .alias("rn"),
        F.count("*")
        .over(Window.partitionBy("wk"))
        .cast("long")
        .alias("n"),
    )
    qgrid = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    h10 = F.col("q") * (F.col("n") - 1)
    lo_rn = F.floor(h10 / 10.0).cast("long") + 1
    hi_rn = F.ceil(h10 / 10.0).cast("long") + 1
    qs = (
        r.crossJoin(F.broadcast(qgrid))
        .groupBy("q", "wk")
        .agg(
            F.sum(
                F.when(F.col("rn") == lo_rn, F.col("y")).otherwise(0)
            )
            .cast("long")
            .alias("lo"),
            F.sum(
                F.when(F.col("rn") == hi_rn, F.col("y")).otherwise(0)
            )
            .cast("long")
            .alias("hi"),
            F.max(F.when(lo_rn == hi_rn, 1).otherwise(0))
            .cast("long")
            .alias("degenerate"),
            F.max(h10 % 10).alias("frac10"),
        )
    )
    qv = qs.select(
        "q",
        "wk",
        F.when(F.col("degenerate") == 1, F.col("lo").cast("double"))
        .otherwise(
            F.col("lo")
            + (F.col("hi") - F.col("lo")) * (F.col("frac10") / 10.0)
        )
        .alias("qval"),
    )
    a = qv.where(F.col("wk") == 1).select(
        F.col("q").alias("qa"), F.col("qval").alias("q_we")
    )
    b = qv.where(F.col("wk") == 0).select(
        F.col("q").alias("qb"), F.col("qval").alias("q_wd")
    )
    return (
        a.join(b, F.col("qa") == F.col("qb"))
        .select(
            F.col("qa").alias("decile"),
            F.round(F.col("q_we"), 6).alias("q_weekend"),
            F.round(F.col("q_wd"), 6).alias("q_weekday"),
            F.round(F.col("q_we") - F.col("q_wd"), 6).alias("qte"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# R434 propensity-stratified ATE (urgent priority -> high order value)
# ---------------------------------------------------------------------------


@register(
    "propensity_stratified_ate",
    sql="""
    WITH o AS MATERIALIZED (
      SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS treat,
             c.c_mktsegment AS seg,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    strata AS MATERIALIZED (
      SELECT seg, yr,
             CAST(count(*) AS BIGINT) AS n_s,
             CAST(sum(treat) AS BIGINT) AS n1,
             CAST(sum(1 - treat) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END)
                  AS BIGINT) AS s1,
             CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END)
                  AS BIGINT) AS s0
      FROM o GROUP BY seg, yr
      HAVING sum(treat) >= 1 AND sum(1 - treat) >= 1
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_strata,
             CAST(sum(n_s) AS BIGINT) AS n_used,
             CAST(sum(CAST(floor(
               (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
               * n_s * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS wd4,
             CAST(sum(s1) AS BIGINT) AS t1, CAST(sum(n1) AS BIGINT) AS m1,
             CAST(sum(s0) AS BIGINT) AS t0, CAST(sum(n0) AS BIGINT) AS m0
      FROM strata
    )
    SELECT k_strata, n_used,
           round((CAST(t1 AS DOUBLE) / m1 - CAST(t0 AS DOUBLE) / m0)
                 / 100.0, 6) AS crude_diff,
           round(wd4 / 1e4 / n_used / 100.0, 6) AS stratified_ate,
           round((CAST(t1 AS DOUBLE) / m1 - CAST(t0 AS DOUBLE) / m0)
                 / 100.0 - wd4 / 1e4 / n_used / 100.0, 6)
             AS confounding_bias
    FROM agg
    """,
)
def propensity_stratified_ate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R434 stratified average 'treatment' effect of urgent/high
    priority on order value, adjusting for (market segment × order
    year) strata: ATE_strat = Σ_s (n_s/N)(ȳ₁ₛ - ȳ₀ₛ) — the
    propensity-score-stratification estimator (strata built on the
    observed confounders directly, the deterministic special case of
    PS binning), reported against the crude difference so the
    CONFOUNDING BIAS column shows what adjustment moved — the
    causal-adjustment complement of the registry's iv_2sls
    (instrumental) and diff_in_diff (panel) estimators.  Strata with
    an empty arm are dropped (positivity violation — standard;
    n_used reports the surviving mass).  Per-stratum mean
    differences are exact-operand cent ratios, weighted terms snap
    at 1e-4 cents before the BIGINT reduction.  One fact-dim join +
    one bounded groupBy (≤ 5×|years| strata)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("treat"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_mktsegment").alias("seg")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    strata = (
        o.groupBy("seg", "yr")
        .agg(
            F.count("*").cast("long").alias("n_s"),
            F.sum("treat").cast("long").alias("n1"),
            F.sum(1 - F.col("treat")).cast("long").alias("n0"),
            F.sum(F.when(F.col("treat") == 1, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("s1"),
            F.sum(F.when(F.col("treat") == 0, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("s0"),
        )
        .where((F.col("n1") >= 1) & (F.col("n0") >= 1))
    )
    agg = strata.agg(
        F.count("*").cast("long").alias("k_strata"),
        F.sum("n_s").cast("long").alias("n_used"),
        F.sum(
            F.floor(
                (
                    F.col("s1").cast("double") / F.col("n1")
                    - F.col("s0").cast("double") / F.col("n0")
                )
                * F.col("n_s")
                * 1e4
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("wd4"),
        F.sum("s1").cast("long").alias("t1"),
        F.sum("n1").cast("long").alias("m1"),
        F.sum("s0").cast("long").alias("t0"),
        F.sum("n0").cast("long").alias("m0"),
    )
    crude = (
        F.col("t1").cast("double") / F.col("m1")
        - F.col("t0").cast("double") / F.col("m0")
    ) / 100.0
    strat = F.col("wd4") / 1e4 / F.col("n_used") / 100.0
    return agg.select(
        "k_strata",
        "n_used",
        F.round(crude, 6).alias("crude_diff"),
        F.round(strat, 6).alias("stratified_ate"),
        F.round(crude - strat, 6).alias("confounding_bias"),
    )


# ---------------------------------------------------------------------------
# R435 interrupted time series: segmented regression at the midpoint
# ---------------------------------------------------------------------------


@register(
    "its_segmented_regression",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             y, CAST(count(*) OVER () AS BIGINT) AS n
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
      )
    ),
    seg AS MATERIALIZED (
      SELECT t, y, n, n // 2 AS brk,
             CASE WHEN t > n // 2 THEN 1 ELSE 0 END AS post
      FROM d
    ),
    m AS (
      SELECT post,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(t * y) AS BIGINT) AS sty,
             CAST(max(brk) AS BIGINT) AS brk
      FROM seg GROUP BY post
    ),
    fit AS (
      SELECT post, np, brk,
             (CAST(np AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
               AS slope,
             (CAST(sy AS DOUBLE)
              - (CAST(np AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                * st) / np AS intercept
      FROM m
    )
    SELECT pre.np AS n_pre, post.np AS n_post,
           round(pre.slope, 6) AS slope_pre,
           round(post.slope, 6) AS slope_post,
           round(post.slope - pre.slope, 6) AS slope_change,
           round((post.intercept + post.slope * (pre.brk + 1))
                 - (pre.intercept + pre.slope * (pre.brk + 1)), 6)
             AS level_change
    FROM (SELECT * FROM fit WHERE post = 0) pre,
         (SELECT * FROM fit WHERE post = 1) post
    """,
)
def its_segmented_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R435 interrupted-time-series segmented regression of daily
    revenue at the midpoint break: separate OLS lines on the pre and
    post segments, reporting the SLOPE CHANGE and the LEVEL CHANGE
    (both fits evaluated at the first post-break day) — the effect-
    size companion to the registry's chow_break_daily (which only
    tests whether the break exists) and pettitt/cusum change-points
    (which only locate it).  Each segment's slope/intercept is a
    Cramer closed form of five BIGINT moments (t is the day row
    number, so Σt·y stays < 1e13 at sf0.1); the two 1-row fits cross
    for the deltas.  Day-frame bounded at any scale."""
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
        .select(
            F.row_number().over(Window.orderBy("day")).cast("long").alias(
                "t"
            ),
            "y",
            F.count("*")
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("long")
            .alias("n"),
        )
    )
    seg = d.select(
        "t",
        "y",
        F.floor(F.col("n") / 2).cast("long").alias("brk"),
        F.when(F.col("t") > F.floor(F.col("n") / 2), 1)
        .otherwise(0)
        .alias("post"),
    )
    m = seg.groupBy("post").agg(
        F.count("*").cast("long").alias("np"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.max("brk").cast("long").alias("brk"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (dd("np") * F.col("sty") - dd("st") * F.col("sy")) / (
        dd("np") * F.col("stt") - dd("st") * F.col("st")
    )
    fit = m.select(
        "post",
        "np",
        "brk",
        slope.alias("slope"),
        ((dd("sy") - slope * F.col("st")) / F.col("np")).alias("intercept"),
    )
    pre = fit.where(F.col("post") == 0).select(
        F.col("np").alias("n_pre"),
        F.col("slope").alias("slope_pre"),
        F.col("intercept").alias("int_pre"),
        F.col("brk").alias("brk"),
    )
    post = fit.where(F.col("post") == 1).select(
        F.col("np").alias("n_post"),
        F.col("slope").alias("slope_post"),
        F.col("intercept").alias("int_post"),
    )
    out = pre.crossJoin(post)
    t0 = F.col("brk") + 1
    return out.select(
        "n_pre",
        "n_post",
        F.round(F.col("slope_pre"), 6).alias("slope_pre"),
        F.round(F.col("slope_post"), 6).alias("slope_post"),
        F.round(F.col("slope_post") - F.col("slope_pre"), 6).alias(
            "slope_change"
        ),
        F.round(
            (F.col("int_post") + F.col("slope_post") * t0)
            - (F.col("int_pre") + F.col("slope_pre") * t0),
            6,
        ).alias("level_change"),
    )


# ---------------------------------------------------------------------------
# R436 Nadaraya-Watson kernel regression of daily revenue on time
# ---------------------------------------------------------------------------


@register(
    "nadaraya_watson_smoother",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             y, CAST(count(*) OVER () AS BIGINT) AS n
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
      )
    ),
    grid AS (
      SELECT g.g,
             CAST(floor(1 + (g.g - 1) * (d.n - 1) / 19.0) AS BIGINT) AS t0,
             d.n
      FROM (SELECT DISTINCT n FROM d) d
      CROSS JOIN (SELECT unnest(range(1, 21)) AS g) g
    ),
    terms AS (
      SELECT grid.g, grid.t0,
             CAST(floor(exp(-(CAST(d.t - grid.t0 AS DOUBLE)
                              * (d.t - grid.t0))
                            / (2.0 * 30.0 * 30.0)) * d.y * 1e6 + 0.5)
                  AS BIGINT) AS wy6,
             CAST(floor(exp(-(CAST(d.t - grid.t0 AS DOUBLE)
                              * (d.t - grid.t0))
                            / (2.0 * 30.0 * 30.0)) * 1e9 + 0.5)
                  AS BIGINT) AS w9
      FROM d JOIN grid ON abs(d.t - grid.t0) <= 120
    )
    SELECT g AS grid_point, t0 AS day_index,
           round((sum(wy6) / 1e6) / (sum(w9) / 1e9), 6) AS smoothed
    FROM terms
    GROUP BY g, t0
    ORDER BY g
    """,
)
def nadaraya_watson_smoother(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R436 Nadaraya-Watson kernel regression of daily revenue on the
    day index, evaluated at 20 evenly-spaced grid points with a
    Gaussian kernel (h = 30 days, truncated at 4h where the weight is
    < e⁻⁸ — documented cutoff that also bounds the join): m̂(t₀) =
    Σ K((t-t₀)/h)·y / Σ K((t-t₀)/h) — the NONPARAMETRIC trend reader
    that complements the registry's parametric trend fits (theil_sen,
    holt_winters, its_segmented: all impose a shape; NW lets the
    data choose).  Kernel weights and weighted revenues are per-term
    snapped (1e-9 / 1e-6·y) so both numerator and denominator are
    order-free BIGINT reductions; the grid frame is 20 rows and the
    banded join is day-frame × 20 bounded.  Scales as one broadcast
    join over the calendar-bounded day frame."""
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
        .select(
            F.row_number().over(Window.orderBy("day")).cast("long").alias(
                "t"
            ),
            "y",
            F.count("*")
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("long")
            .alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    ncount = d.select("n").distinct()
    grid = (
        ncount.crossJoin(
            F.broadcast(
                d.sparkSession.range(1, 21).select(
                    F.col("id").cast("long").alias("g")
                )
            )
        )
        .select(
            "g",
            F.floor(
                1 + (F.col("g") - 1) * (F.col("n") - 1) / 19.0
            )
            .cast("long")
            .alias("t0"),
        )
    )
    kern = F.exp(
        -((F.col("t") - F.col("t0")).cast("double") * (F.col("t") - F.col("t0")))
        / (2.0 * 30.0 * 30.0)
    )
    terms = d.join(
        F.broadcast(grid), F.abs(F.col("t") - F.col("t0")) <= 120
    ).select(
        "g",
        "t0",
        F.floor(kern * F.col("y") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("wy6"),
        F.floor(kern * 1e9 + F.lit(0.5)).cast("long").alias("w9"),
    )
    return (
        terms.groupBy("g", "t0")
        .agg(
            F.round(
                (F.sum("wy6") / 1e6) / (F.sum("w9") / 1e9), 6
            ).alias("smoothed")
        )
        .select(
            F.col("g").alias("grid_point"),
            F.col("t0").alias("day_index"),
            "smoothed",
        )
        .orderBy("grid_point")
    )


# ---------------------------------------------------------------------------
# R437 TOST equivalence test on the weekend effect
# ---------------------------------------------------------------------------


@register(
    "tost_equivalence_weekend",
    sql=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                        / 100) AS BIGINT) AS x,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS wk
      FROM orders
    ),
    m AS MATERIALIZED (
      SELECT wk, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2
      FROM d GROUP BY wk
    ),
    s AS (
      SELECT a.n AS n1, b.n AS n0,
             CAST(a.s1 AS DOUBLE) / a.n - CAST(b.s1 AS DOUBLE) / b.n
               AS diff,
             sqrt((CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                  / (a.n - 1) / a.n
                  + (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1
                     / b.n) / (b.n - 1) / b.n) AS se,
             0.01 * ((CAST(a.s1 AS DOUBLE) + b.s1) / (a.n + b.n))
               AS margin
      FROM (SELECT * FROM m WHERE wk = 1) a,
           (SELECT * FROM m WHERE wk = 0) b
    ),
    z AS (
      SELECT n1, n0, diff, se, margin,
             (diff + margin) / se AS z_lower,
             (diff - margin) / se AS z_upper
      FROM s
    )
    SELECT n1 AS n_weekend, n0 AS n_weekday,
           round(diff, 6) AS mean_diff,
           round(margin, 6) AS equivalence_margin,
           round(z_lower, 6) AS z_lower,
           round(z_upper, 6) AS z_upper,
           round(1.0 - {_phi_sql('z_lower')}, 6) AS p_lower,
           round({_phi_sql('z_upper')}, 6) AS p_upper,
           round(greatest(1.0 - {_phi_sql('z_lower')},
                          {_phi_sql('z_upper')}), 6) AS p_tost,
           CAST(CASE WHEN greatest(1.0 - {_phi_sql('z_lower')},
                                   {_phi_sql('z_upper')}) < 0.05
                     THEN 1 ELSE 0 END AS BIGINT) AS equivalent_at_05
    FROM z
    """,
)
def tost_equivalence_weekend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R437 TOST (two one-sided tests) EQUIVALENCE test of weekend vs
    weekday mean order value with a ±1% margin of the grand mean:
    H0 is |δ| ≥ margin (non-equivalence), rejected only if BOTH
    one-sided z tests reject — the inferential inverse of the
    registry's difference tests (a non-significant t-test is NOT
    evidence of no effect; TOST is).  p_TOST = max(p_lower, p_upper).
    Group moments are exact whole-dollar BIGINTs (the S2 - S1²/n
    spelling), the margin is an exact-operand grand-mean ratio, and
    both normal p's use the shared A-S erf.  One two-group
    aggregate; single shuffle."""
    wk = (
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        % 7
    )
    d = load_table(spark, sf_dir, "orders").select(
        F.floor(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            / 100
        )
        .cast("long")
        .alias("x"),
        F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk"),
    )
    m = d.groupBy("wk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    a = m.where(F.col("wk") == 1).select(
        F.col("n").alias("n1"),
        F.col("s1").alias("a_s1"),
        F.col("s2").alias("a_s2"),
    )
    b = m.where(F.col("wk") == 0).select(
        F.col("n").alias("n0"),
        F.col("s1").alias("b_s1"),
        F.col("s2").alias("b_s2"),
    )
    j = a.crossJoin(b)
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    diff = dd("a_s1") / F.col("n1") - dd("b_s1") / F.col("n0")
    se = F.sqrt(
        (dd("a_s2") - dd("a_s1") * F.col("a_s1") / F.col("n1"))
        / (F.col("n1") - 1)
        / F.col("n1")
        + (dd("b_s2") - dd("b_s1") * F.col("b_s1") / F.col("n0"))
        / (F.col("n0") - 1)
        / F.col("n0")
    )
    margin = 0.01 * ((dd("a_s1") + F.col("b_s1")) / (F.col("n1") + F.col("n0")))
    zq = j.select(
        "n1",
        "n0",
        diff.alias("diff"),
        se.alias("se"),
        margin.alias("margin"),
        ((diff + margin) / se).alias("z_lower"),
        ((diff - margin) / se).alias("z_upper"),
    )
    p_lower = 1.0 - _phi_col(F.col("z_lower"))
    p_upper = _phi_col(F.col("z_upper"))
    p_tost = F.greatest(p_lower, p_upper)
    return zq.select(
        F.col("n1").alias("n_weekend"),
        F.col("n0").alias("n_weekday"),
        F.round(F.col("diff"), 6).alias("mean_diff"),
        F.round(F.col("margin"), 6).alias("equivalence_margin"),
        F.round(F.col("z_lower"), 6).alias("z_lower"),
        F.round(F.col("z_upper"), 6).alias("z_upper"),
        F.round(p_lower, 6).alias("p_lower"),
        F.round(p_upper, 6).alias("p_upper"),
        F.round(p_tost, 6).alias("p_tost"),
        F.when(p_tost < 0.05, 1)
        .otherwise(0)
        .cast("long")
        .alias("equivalent_at_05"),
    )


# ---------------------------------------------------------------------------
# R438 Cramér-von Mises uniformity audit of the md5 partitioning hash
# ---------------------------------------------------------------------------


@register(
    "hash_uniformity_cvm",
    sql="""
    WITH u AS MATERIALIZED (
      SELECT CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                   1, 15)) AS BIGINT) AS h
      FROM orders
    ),
    r AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY h, 1) AS BIGINT) AS i,
             h / 1152921504606846976.0 AS ui,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM u
    ),
    terms AS (
      SELECT n,
             CAST(floor(power(ui - (2.0 * i - 1) / (2.0 * n), 2) * 1e12
                        + 0.5) AS BIGINT) AS t12
      FROM r
    )
    SELECT CAST(max(n) AS BIGINT) AS n_keys,
           round(1.0 / (12.0 * max(n)) + sum(t12) / 1e12, 6) AS w2_stat,
           round((1.0 / (12.0 * max(n)) + sum(t12) / 1e12)
                 / (1.0 + 0.5 / max(n)), 6) AS w2_adjusted
    FROM terms
    """,
)
def hash_uniformity_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R438 Cramér-von Mises one-sample uniformity audit of the
    engine's PORTABLE PARTITIONING HASH: the 60-bit md5 integers the
    registry uses everywhere for sharding/sampling/sketching are
    mapped to [0,1) (÷2⁶⁰) and tested against U(0,1) with
    W² = 1/(12n) + Σ(u₍ᵢ₎ - (2i-1)/(2n))² — a DISTRIBUTED-SYSTEMS
    quality gate (a biased shard hash skews every md5-based split,
    sample, CMS bucket and LSH band in the registry), not just a
    statistics exercise.  Order statistics come from one global sort
    of exact BIGINT hashes; each squared ECDF deviation is
    1e-12-snapped so W² is an order-free BIGINT reduction.  The
    small-sample adjusted W²(1+0.5/n) accompanies.  One sort at any
    scale (the same shape as every two-phase-rank query here)."""
    u = load_table(spark, sf_dir, "orders").select(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = u.select(
        F.row_number().over(Window.orderBy("h")).cast("long").alias("i"),
        (F.col("h") / F.lit(1152921504606846976.0)).alias("ui"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    terms = r.select(
        "n",
        F.floor(
            F.pow(
                F.col("ui")
                - (2.0 * F.col("i") - 1) / (2.0 * F.col("n")),
                2,
            )
            * 1e12
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t12"),
    )
    agg = terms.agg(
        F.max("n").cast("long").alias("n_keys"),
        F.sum("t12").cast("long").alias("st12"),
    )
    w2 = 1.0 / (12.0 * F.col("n_keys")) + F.col("st12") / 1e12
    return agg.select(
        "n_keys",
        F.round(w2, 6).alias("w2_stat"),
        F.round(w2 / (1.0 + 0.5 / F.col("n_keys")), 6).alias(
            "w2_adjusted"
        ),
    )


# ---------------------------------------------------------------------------
# R439 Yule-Walker AR(2) fit of daily revenue
# ---------------------------------------------------------------------------


@register(
    "yule_walker_ar2",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             y
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
      )
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM d
    ),
    lags AS (
      SELECT k.k,
             CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
             CAST(sum(a.y) AS BIGINT) AS sa,
             CAST(sum(b.y) AS BIGINT) AS sb,
             CAST(count(*) AS BIGINT) AS m
      FROM d a
      CROSS JOIN (SELECT unnest([1, 2]) AS k) k
      JOIN d b ON b.t = a.t + k.k
      GROUP BY k.k
    ),
    acf AS (
      SELECT base.n,
             (SELECT (sxy - (CAST(base.sy AS DOUBLE) / base.n) * (sa + sb)
                      + m * (CAST(base.sy AS DOUBLE) / base.n)
                          * (CAST(base.sy AS DOUBLE) / base.n))
                     / (CAST(base.syy AS DOUBLE)
                        - CAST(base.sy AS DOUBLE) * base.sy / base.n)
              FROM lags WHERE k = 1) AS r1,
             (SELECT (sxy - (CAST(base.sy AS DOUBLE) / base.n) * (sa + sb)
                      + m * (CAST(base.sy AS DOUBLE) / base.n)
                          * (CAST(base.sy AS DOUBLE) / base.n))
                     / (CAST(base.syy AS DOUBLE)
                        - CAST(base.sy AS DOUBLE) * base.sy / base.n)
              FROM lags WHERE k = 2) AS r2,
             (CAST(base.syy AS DOUBLE)
              - CAST(base.sy AS DOUBLE) * base.sy / base.n) / base.n AS c0
      FROM base
    )
    SELECT n AS n_days,
           round(r1, 6) AS acf1,
           round(r2, 6) AS acf2,
           round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) AS phi1,
           round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi2,
           round(c0 * (1.0 - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
                           - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2), 6)
             AS sigma2
    FROM acf
    """,
)
def yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R439 Yule-Walker AR(2) fit of daily revenue: solve the 2×2
    Toeplitz system [1 r₁; r₁ 1]·φ = [r₁ r₂] in closed form —
    φ₁ = r₁(1-r₂)/(1-r₁²), φ₂ = (r₂-r₁²)/(1-r₁²), innovation
    variance σ² = c₀(1-φ₁r₁-φ₂r₂) — the autoregressive-MODEL
    companion of the registry's pacf_daily_revenue (whose lag-2
    value equals φ₂, the Durbin-Levinson identity) and
    breusch_godfrey (which TESTS residual AR structure; this FITS
    it).  Autocovariances use raw BIGINT lag products with the
    full-sample-mean correction (sxy - ȳ(Σa+Σb) + mȳ²), so r₁, r₂
    are exact-operand doubles.  The lag join is two shifted
    equi-joins over the calendar-bounded day frame."""
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
        .select(
            F.row_number().over(Window.orderBy("day")).cast("long").alias(
                "t"
            ),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    base = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )

    def lag_cov(k: int):
        a = d.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
        b = d.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
        return (
            a.join(b, F.col("tb") == F.col("ta") + k)
            .agg(
                F.sum(F.col("ya") * F.col("yb")).cast("long").alias("sxy"),
                F.sum("ya").cast("long").alias("sa"),
                F.sum("yb").cast("long").alias("sb"),
                F.count("*").cast("long").alias("m"),
            )
            .select(
                *[
                    F.col(c).alias(f"{c}{k}")
                    for c in ["sxy", "sa", "sb", "m"]
                ]
            )
        )

    j = base.crossJoin(lag_cov(1)).crossJoin(lag_cov(2))
    ybar = F.col("sy").cast("double") / F.col("n")
    c0 = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    )

    def rk(k: int):
        return (
            F.col(f"sxy{k}")
            - ybar * (F.col(f"sa{k}") + F.col(f"sb{k}"))
            + F.col(f"m{k}") * ybar * ybar
        ) / c0

    r1, r2 = rk(1), rk(2)
    phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    return j.select(
        F.col("n").alias("n_days"),
        F.round(r1, 6).alias("acf1"),
        F.round(r2, 6).alias("acf2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(
            (c0 / F.col("n")) * (1.0 - phi1 * r1 - phi2 * r2), 6
        ).alias("sigma2"),
    )


# ---------------------------------------------------------------------------
# R440 Haar wavelet energy decomposition of daily revenue
# ---------------------------------------------------------------------------


@register(
    "haar_wavelet_energy",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t,
             CAST(64 * floor(y / 1000) AS BIGINT) AS s,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
      )
    ),
    trunc AS MATERIALIZED (
      SELECT t, s FROM d WHERE t < (n // 64) * 64
    ),
    l1 AS MATERIALIZED (
      SELECT t // 2 AS t,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  + sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS s,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  - sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS w
      FROM trunc GROUP BY t // 2
    ),
    l2 AS MATERIALIZED (
      SELECT t // 2 AS t,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  + sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS s,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  - sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS w
      FROM l1 GROUP BY t // 2
    ),
    l3 AS MATERIALIZED (
      SELECT t // 2 AS t,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  + sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS s,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  - sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS w
      FROM l2 GROUP BY t // 2
    ),
    l4 AS MATERIALIZED (
      SELECT t // 2 AS t,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  + sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS s,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  - sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS w
      FROM l3 GROUP BY t // 2
    ),
    l5 AS MATERIALIZED (
      SELECT t // 2 AS t,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  + sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS s,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  - sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS w
      FROM l4 GROUP BY t // 2
    ),
    l6 AS MATERIALIZED (
      SELECT t // 2 AS t,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  + sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS s,
             CAST(sum(CASE WHEN t % 2 = 0 THEN s ELSE 0 END)
                  - sum(CASE WHEN t % 2 = 1 THEN s ELSE 0 END) AS BIGINT)
               // 2 AS w
      FROM l5 GROUP BY t // 2
    ),
    en AS (
      SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum(w * w) AS BIGINT) AS energy FROM l1
      UNION ALL SELECT 2, count(*), CAST(sum(w * w) AS BIGINT) FROM l2
      UNION ALL SELECT 3, count(*), CAST(sum(w * w) AS BIGINT) FROM l3
      UNION ALL SELECT 4, count(*), CAST(sum(w * w) AS BIGINT) FROM l4
      UNION ALL SELECT 5, count(*), CAST(sum(w * w) AS BIGINT) FROM l5
      UNION ALL SELECT 6, count(*), CAST(sum(w * w) AS BIGINT) FROM l6
    ),
    tot AS (SELECT CAST(sum(energy) AS BIGINT) AS te FROM en)
    SELECT CAST(level AS BIGINT) AS level, n_coeffs, energy,
           round(CAST(energy AS DOUBLE) / tot.te, 6) AS energy_frac
    FROM en, tot
    ORDER BY level
    """,
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R440 six-level Haar wavelet energy decomposition of daily
    revenue: each level halves the series into pairwise averages
    (approximation) and half-differences (detail), and the per-level
    detail energy Σw² localizes variance by TIME SCALE (level 1 ≈
    2-day noise, level 3 ≈ weekly, level 6 ≈ two-month swings) —
    the multiresolution complement of the registry's periodogram
    (frequency-global) and DFA/Hurst (scaling-exponent) views.
    The series is pre-scaled by 64 = 2⁶ on the KILODOLLAR grid, so
    every average/difference at every level is an exact BIGINT
    (dyadic rationals never leave the integer lattice; w² sums stay
    < 1e15 at sf0.1), and the tail is truncated to a multiple of 64
    (documented).  Six tiny groupBys over a collapsing frame —
    O(days) total work."""
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
        .select(
            (
                F.row_number().over(Window.orderBy("day")).cast("long") - 1
            ).alias("t"),
            (64 * F.floor(F.col("y") / 1000)).cast("long").alias("s"),
            F.count("*")
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("long")
            .alias("n"),
        )
    )
    cur = d.where(
        F.col("t") < F.floor(F.col("n") / 64) * 64
    ).select("t", "s")
    levels = []
    for lvl in range(1, 7):
        nxt = (
            cur.groupBy(F.floor(F.col("t") / 2).cast("long").alias("t"))
            .agg(
                (
                    (
                        F.sum(
                            F.when(F.col("t") % 2 == 0, F.col("s")).otherwise(
                                0
                            )
                        )
                        + F.sum(
                            F.when(F.col("t") % 2 == 1, F.col("s")).otherwise(
                                0
                            )
                        )
                    )
                    / 2
                )
                .cast("long")
                .alias("s"),
                (
                    (
                        F.sum(
                            F.when(F.col("t") % 2 == 0, F.col("s")).otherwise(
                                0
                            )
                        )
                        - F.sum(
                            F.when(F.col("t") % 2 == 1, F.col("s")).otherwise(
                                0
                            )
                        )
                    )
                    / 2
                )
                .cast("long")
                .alias("w"),
            )
            .localCheckpoint(eager=False)
        )
        levels.append(
            nxt.agg(
                F.lit(lvl).cast("long").alias("level"),
                F.count("*").cast("long").alias("n_coeffs"),
                F.sum(F.col("w") * F.col("w")).cast("long").alias("energy"),
            )
        )
        cur = nxt.select("t", "s")
    en = levels[0]
    for x in levels[1:]:
        en = en.unionAll(x)
    en = en.localCheckpoint(eager=False)
    tot = en.agg(F.sum("energy").cast("long").alias("te"))
    return (
        en.crossJoin(F.broadcast(tot))
        .select(
            "level",
            "n_coeffs",
            "energy",
            F.round(F.col("energy").cast("double") / F.col("te"), 6).alias(
                "energy_frac"
            ),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# R441 SAX symbolic aggregate approximation of daily revenue
# ---------------------------------------------------------------------------


@register(
    "sax_symbolic_revenue",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t,
             y, CAST(count(*) OVER () AS BIGINT) AS n
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
      )
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM d
    ),
    paa AS (
      SELECT CAST(t * 16 // n AS BIGINT) AS seg,
             CAST(sum(y) AS BIGINT) AS segsum,
             CAST(count(*) AS BIGINT) AS segn
      FROM d GROUP BY CAST(t * 16 // n AS BIGINT)
    ),
    z AS (
      SELECT paa.seg, paa.segn,
             CAST(paa.segsum AS DOUBLE) / paa.segn AS paa_mean,
             (CAST(paa.segsum AS DOUBLE) / paa.segn
              - CAST(g.sy AS DOUBLE) / g.n)
             / sqrt((CAST(g.syy AS DOUBLE)
                     - CAST(g.sy AS DOUBLE) * g.sy / g.n) / (g.n - 1))
               AS zval
      FROM paa, g
    )
    SELECT seg AS segment, segn AS n_days,
           round(paa_mean, 6) AS paa_mean,
           round(zval, 6) AS z_score,
           CASE WHEN zval < -0.6745 THEN 'a'
                WHEN zval < 0.0 THEN 'b'
                WHEN zval < 0.6745 THEN 'c'
                ELSE 'd' END AS symbol
    FROM z ORDER BY seg
    """,
)
def sax_symbolic_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R441 SAX (symbolic aggregate approximation, Lin/Keogh 2003) of
    daily revenue: 16 PAA segments (piecewise-aggregate means over
    equal day-count windows via the exact t·16//n bucket), globally
    z-normalized and quantized to a 4-letter alphabet at the standard
    Gaussian quartile breakpoints ±0.6745 — the symbolic-compression
    front-end for motif/discord mining that complements the
    registry's matrix_profile (exact distances) and equidepth
    histogram (value-domain buckets; SAX buckets TIME).  PAA means
    are exact-operand cent ratios; the z-scores divide by the exact
    sample sd, so the breakpoint comparisons see identical doubles
    on both engines (quartile breakpoints keep symbols away from
    grid-edge flakiness).  One groupBy; day-frame bounded."""
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
        .select(
            (
                F.row_number().over(Window.orderBy("day")).cast("long") - 1
            ).alias("t"),
            "y",
            F.count("*")
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .cast("long")
            .alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    g = d.agg(
        F.count("*").cast("long").alias("gn"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    paa = d.groupBy(
        F.floor(F.col("t") * 16 / F.col("n")).cast("long").alias("seg")
    ).agg(
        F.sum("y").cast("long").alias("segsum"),
        F.count("*").cast("long").alias("segn"),
    )
    z = paa.crossJoin(F.broadcast(g)).select(
        "seg",
        "segn",
        (F.col("segsum").cast("double") / F.col("segn")).alias("paa_mean"),
        (
            (
                F.col("segsum").cast("double") / F.col("segn")
                - F.col("sy").cast("double") / F.col("gn")
            )
            / F.sqrt(
                (
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("gn")
                )
                / (F.col("gn") - 1)
            )
        ).alias("zval"),
    )
    return z.select(
        F.col("seg").alias("segment"),
        F.col("segn").alias("n_days"),
        F.round(F.col("paa_mean"), 6).alias("paa_mean"),
        F.round(F.col("zval"), 6).alias("z_score"),
        F.when(F.col("zval") < -0.6745, "a")
        .when(F.col("zval") < 0.0, "b")
        .when(F.col("zval") < 0.6745, "c")
        .otherwise("d")
        .alias("symbol"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# R442 dynamic time warping between half-period weekday profiles
# ---------------------------------------------------------------------------

# The 7x7 DTW table unrolls to 49 closed-form cells; this generator
# emits the SAME dependency chain for both engines (SQL chained CTEs
# by anti-diagonal / Spark withColumn chain), so the DP is an exact
# expression tree, not an iterative loop.


def _dtw_cells():
    """Yield (i, j) in an order where dependencies come first."""
    for s in range(2, 15):
        for i in range(1, 8):
            j = s - i
            if 1 <= j <= 7:
                yield i, j


def _dtw_sql() -> str:
    head = """
    WITH d AS MATERIALIZED (
      SELECT CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS dow,
             CAST(o_orderdate AS DATE) AS day,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    bnd AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
    halves AS MATERIALIZED (
      SELECT dow,
             CASE WHEN day <= bnd.d0
                       + CAST((bnd.d1 - bnd.d0) // 2 AS INTEGER)
                  THEN 0 ELSE 1 END AS half,
             cents
      FROM d CROSS JOIN bnd
    ),
    prof AS MATERIALIZED (
      SELECT dow, half,
             floor(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 * 1e6
                   + 0.5) / 1e6 AS p
      FROM halves GROUP BY dow, half
    ),
    wide AS (
      SELECT
"""
    cols = []
    for i in range(1, 8):
        cols.append(
            f"        max(CASE WHEN half = 0 AND dow = {i - 1} "
            f"THEN p END) AS a{i}"
        )
        cols.append(
            f"        max(CASE WHEN half = 1 AND dow = {i - 1} "
            f"THEN p END) AS b{i}"
        )
    head += ",\n".join(cols) + "\n      FROM prof\n    )"
    ctes = [head]
    prev = "wide"
    # cost matrix + DP by anti-diagonal
    ctes.append(
        "    c0 AS (SELECT *, abs(a1 - b1) AS g_1_1 FROM wide)"
    )
    prev = "c0"
    step = 0
    for s in range(3, 15):
        step += 1
        cells = []
        for i in range(1, 8):
            j = s - i
            if not (1 <= j <= 7):
                continue
            cost = f"abs(a{i} - b{j})"
            opts = []
            if i > 1:
                opts.append(f"g_{i - 1}_{j}")
            if j > 1:
                opts.append(f"g_{i}_{j - 1}")
            if i > 1 and j > 1:
                opts.append(f"g_{i - 1}_{j - 1}")
            best = opts[0] if len(opts) == 1 else f"least({', '.join(opts)})"
            cells.append(f"{cost} + {best} AS g_{i}_{j}")
        ctes.append(
            f"    c{step} AS (SELECT *, "
            + ", ".join(cells)
            + f" FROM {prev})"
        )
        prev = f"c{step}"
    return (
        ",\n".join(ctes)
        + f"""
    SELECT round(g_7_7, 6) AS dtw_distance,
           round(g_7_7 / 7.0, 6) AS dtw_per_step,
           round(abs(a1-b1) + abs(a2-b2) + abs(a3-b3) + abs(a4-b4)
                 + abs(a5-b5) + abs(a6-b6) + abs(a7-b7), 6)
             AS euclidean_l1
    FROM {prev}
    """
    )


@register("dtw_weekly_profiles", sql=_dtw_sql())
def dtw_weekly_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R442 dynamic time warping distance between the first-half and
    second-half WEEKDAY PROFILES of mean order value (7-point
    series): the 7×7 DTW table is unrolled into 49 closed-form cells
    by anti-diagonal — the same 'DP as expression chain' discipline
    as the registry's unrolled Lloyd/pagerank oracles, so the
    warping distance is an exact expression tree on both engines
    (costs |a_i - b_j| of 1e-6-snapped profile means; min-chains via
    least()).  The L1 distance rides along as the no-warping upper
    bound (DTW ≤ L1 by construction — referee-asserted).  DTW is
    the alignment-elastic series distance the registry lacked
    (matrix_profile/SAX compare FIXED alignments).  The profile
    collapse is one groupBy; the DP is driver-free scalar algebra."""
    day = F.col("o_orderdate").cast("date")
    d = load_table(spark, sf_dir, "orders").select(
        (
            F.datediff(day, F.lit("1990-01-01").cast("date")) % 7
        ).alias("dow"),
        day.alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    bnd = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    halves = d.crossJoin(F.broadcast(bnd)).select(
        "dow",
        F.when(
            F.col("day")
            <= F.date_add(
                F.col("d0"),
                F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast(
                    "int"
                ),
            ),
            0,
        )
        .otherwise(1)
        .alias("half"),
        "cents",
    )
    prof = halves.groupBy("dow", "half").agg(
        (
            F.floor(
                F.sum("cents").cast("double")
                / F.count("*")
                / 100.0
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("p")
    )
    aggs = []
    for i in range(1, 8):
        aggs.append(
            F.max(
                F.when(
                    (F.col("half") == 0) & (F.col("dow") == i - 1),
                    F.col("p"),
                )
            ).alias(f"a{i}")
        )
        aggs.append(
            F.max(
                F.when(
                    (F.col("half") == 1) & (F.col("dow") == i - 1),
                    F.col("p"),
                )
            ).alias(f"b{i}")
        )
    wide = prof.agg(*aggs)
    cur = wide.withColumn("g_1_1", F.abs(F.col("a1") - F.col("b1")))
    for i, j in _dtw_cells():
        if (i, j) == (1, 1):
            continue
        cost = F.abs(F.col(f"a{i}") - F.col(f"b{j}"))
        opts = []
        if i > 1:
            opts.append(F.col(f"g_{i - 1}_{j}"))
        if j > 1:
            opts.append(F.col(f"g_{i}_{j - 1}"))
        if i > 1 and j > 1:
            opts.append(F.col(f"g_{i - 1}_{j - 1}"))
        best = opts[0] if len(opts) == 1 else F.least(*opts)
        cur = cur.withColumn(f"g_{i}_{j}", cost + best)
    l1 = None
    for i in range(1, 8):
        term = F.abs(F.col(f"a{i}") - F.col(f"b{i}"))
        l1 = term if l1 is None else l1 + term
    return cur.select(
        F.round(F.col("g_7_7"), 6).alias("dtw_distance"),
        F.round(F.col("g_7_7") / 7.0, 6).alias("dtw_per_step"),
        F.round(l1, 6).alias("euclidean_l1"),
    )


# ---------------------------------------------------------------------------
# R443 Wilcoxon signed-rank test on week-over-week paired days
# ---------------------------------------------------------------------------


@register(
    "wilcoxon_signed_rank_weeks",
    sql=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    pairs AS MATERIALIZED (
      SELECT CAST(b.y - a.y AS BIGINT) AS diff
      FROM d a JOIN d b ON b.day = a.day + 7
      WHERE b.y <> a.y
    ),
    r AS (
      SELECT diff,
             CAST(2 * rank() OVER (ORDER BY abs(diff))
                  + count(*) OVER (PARTITION BY abs(diff)) - 1
                  AS BIGINT) AS r2
      FROM pairs
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT CAST(count(*) AS BIGINT) AS t
            FROM pairs GROUP BY abs(diff))
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN diff > 0 THEN r2 ELSE 0 END) AS BIGINT)
               AS w2_plus
      FROM r
    )
    SELECT n AS n_pairs, w2_plus,
           round((2.0 * w2_plus - n * (n + 1.0)) / 4.0
                 / sqrt((2.0 * n * (n + 1) * (2 * n + 1) - tie3) / 48.0),
                 6) AS z_stat,
           round(2.0 * (1.0 - {_phi_sql('''
                 abs((2.0 * w2_plus - n * (n + 1.0)) / 4.0
                     / sqrt((2.0 * n * (n + 1) * (2 * n + 1) - tie3)
                            / 48.0))''')}), 6) AS p_value
    FROM agg, ties
    """,
)
def wilcoxon_signed_rank_weeks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R443 Wilcoxon signed-rank test of week-over-week revenue
    change: days are PAIRED with the same weekday one week later
    (d_t = y_{t+7} - y_t, zeros dropped per the classic procedure),
    |d| is midranked on the 2× grid (integer R2 = 2·rank + ties - 1),
    and W⁺ = Σ_{d>0} midrank — the PAIRED nonparametric test the
    registry lacked (mann_whitney is two-INDEPENDENT-sample;
    McNemar is paired-binary).  The z numerator 2·W2⁺ - n(n+1) and
    the tie-corrected 48·2·Var = 2(2n(n+1)(2n+1) - Σ(t³-t)) are
    pure BIGINTs, so z and the two-sided A-S-erf p are closed forms
    of exact operands.  The +7-day self-join is calendar-bounded."""
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
        .localCheckpoint(eager=False)
    )
    a = d.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, F.col("db") == F.date_add(F.col("da"), 7))
        .where(F.col("yb") != F.col("ya"))
        .select((F.col("yb") - F.col("ya")).cast("long").alias("diff"))
        .localCheckpoint(eager=False)
    )
    r = pairs.select(
        "diff",
        (
            2 * F.rank().over(Window.orderBy(F.abs(F.col("diff"))))
            + F.count("*").over(Window.partitionBy(F.abs(F.col("diff"))))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    ties = (
        pairs.groupBy(F.abs(F.col("diff")).alias("ad"))
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            )
            .cast("long")
            .alias("tie3")
        )
    )
    agg = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("w2_plus"),
    )
    j = agg.crossJoin(ties)
    num = (2.0 * F.col("w2_plus") - F.col("n") * (F.col("n") + 1.0)) / 4.0
    var = (
        2.0 * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
        - F.col("tie3")
    ) / 48.0
    z = num / F.sqrt(var)
    return j.select(
        F.col("n").alias("n_pairs"),
        "w2_plus",
        F.round(z, 6).alias("z_stat"),
        F.round(2.0 * (1.0 - _phi_col(F.abs(z))), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R444 sign test on the same week-over-week pairs
# ---------------------------------------------------------------------------


@register(
    "sign_test_adjacent_weeks",
    sql=f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
      FROM d a JOIN d b ON b.day = a.day + 7
      WHERE b.y <> a.y
    )
    SELECT n AS n_pairs, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_up,
           round((2.0 * n_pos - n
                  - (CASE WHEN 2 * n_pos > n THEN 1.0
                          WHEN 2 * n_pos < n THEN -1.0 ELSE 0.0 END))
                 / sqrt(CAST(n AS DOUBLE)), 6) AS z_stat,
           round(2.0 * (1.0 - {_phi_sql('''
                 abs((2.0 * n_pos - n
                      - (CASE WHEN 2 * n_pos > n THEN 1.0
                              WHEN 2 * n_pos < n THEN -1.0 ELSE 0.0 END))
                     / sqrt(CAST(n AS DOUBLE)))''')}), 6) AS p_value
    FROM agg
    """,
)
def sign_test_adjacent_weeks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R444 sign test on the week-over-week pairs (the same +7-day
    pairing as R443, zeros dropped): S = #(y_{t+7} > y_t) vs
    Binomial(n, ½), normal approximation with continuity correction
    z = (2S - n ∓ 1)/√n — the assumption-free companion of the
    signed-rank test (signs only, no rank information; what survives
    when even symmetry of the differences is in doubt).  Counts are
    BIGINTs; z and the A-S-erf p are exact-operand closed forms."""
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
    a = d.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = d.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    agg = (
        a.join(b, F.col("db") == F.date_add(F.col("da"), 7))
        .where(F.col("yb") != F.col("ya"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("yb") > F.col("ya"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
        )
    )
    cc = (
        F.when(2 * F.col("n_pos") > F.col("n"), F.lit(1.0))
        .when(2 * F.col("n_pos") < F.col("n"), F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    z = (2.0 * F.col("n_pos") - F.col("n") - cc) / F.sqrt(
        F.col("n").cast("double")
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias(
            "frac_up"
        ),
        F.round(z, 6).alias("z_stat"),
        F.round(2.0 * (1.0 - _phi_col(F.abs(z))), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R445 two-sample Anderson-Darling (Scholz-Stephens midrank form)
# ---------------------------------------------------------------------------


@register(
    "anderson_darling_two_sample",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS wk
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(wk) AS BIGINT) AS n1,
             CAST(sum(1 - wk) AS BIGINT) AS n0
      FROM d
    ),
    lev AS MATERIALIZED (
      SELECT y, CAST(count(*) AS BIGINT) AS l,
             CAST(sum(wk) AS BIGINT) AS l1,
             CAST(sum(1 - wk) AS BIGINT) AS l0
      FROM d GROUP BY y
    ),
    cum AS MATERIALIZED (
      SELECT l, l1, l0,
             CAST(2 * sum(l) OVER (ORDER BY y) - l AS BIGINT) AS b2,
             CAST(2 * sum(l1) OVER (ORDER BY y) - l1 AS BIGINT) AS m21,
             CAST(2 * sum(l0) OVER (ORDER BY y) - l0 AS BIGINT) AS m20
      FROM lev
    ),
    terms AS (
      SELECT
        CAST(floor(CAST(l AS DOUBLE)
             * power(CAST(tot.nn * m21 - tot.n1 * b2 AS DOUBLE), 2)
             / (CAST(b2 AS DOUBLE) * (2 * tot.nn - b2) - tot.nn * l)
             * 1e9 + 0.5) AS BIGINT) AS t19,
        CAST(floor(CAST(l AS DOUBLE)
             * power(CAST(tot.nn * m20 - tot.n0 * b2 AS DOUBLE), 2)
             / (CAST(b2 AS DOUBLE) * (2 * tot.nn - b2) - tot.nn * l)
             * 1e9 + 0.5) AS BIGINT) AS t09
      FROM cum, tot
      WHERE CAST(b2 AS DOUBLE) * (2 * tot.nn - b2) - tot.nn * l > 0
    )
    SELECT tot.n1 AS n_weekend, tot.n0 AS n_weekday,
           round((CAST(tot.nn AS DOUBLE) - 1) / tot.nn / tot.nn
                 * (sum(t19) / 1e9 / tot.n1 + sum(t09) / 1e9 / tot.n0),
                 6) AS a2_stat
    FROM terms, tot
    GROUP BY tot.n1, tot.n0, tot.nn
    """,
)
def anderson_darling_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R445 two-sample Anderson-Darling test (Scholz-Stephens 1987,
    midrank/tie-adjusted A²akN with k = 2) between weekend and
    weekday daily revenue: the TAIL-WEIGHTED two-sample companion of
    the registry's KS (sup-norm), CvM (integrated), and Kuiper
    (cyclic) distances — AD up-weights the distribution tails where
    revenue differences live.  Working on the 2× midrank grid makes
    every building block an integer (b2 = 2B_j, m2 = 2M_aj), so each
    distinct-value term l·(N·m2 - n_a·b2)²/(b2(2N-b2) - N·l) is an
    exact-operand double, 1e-9-snapped into an order-free BIGINT
    reduction; degenerate last-value terms (zero denominator) are
    excluded per the original paper.  One sort over the distinct
    daily values — calendar-bounded."""
    wk = (
        F.datediff(
            F.col("day"), F.lit("1990-01-01").cast("date")
        )
        % 7
    )
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
        .select("y", F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk"))
        .localCheckpoint(eager=False)
    )
    tot = d.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum("wk").cast("long").alias("n1"),
        F.sum(1 - F.col("wk")).cast("long").alias("n0"),
    )
    lev = d.groupBy("y").agg(
        F.count("*").cast("long").alias("l"),
        F.sum("wk").cast("long").alias("l1"),
        F.sum(1 - F.col("wk")).cast("long").alias("l0"),
    )
    wy = Window.orderBy("y")
    cum = lev.select(
        "l",
        (2 * F.sum("l").over(wy) - F.col("l")).cast("long").alias("b2"),
        (2 * F.sum("l1").over(wy) - F.col("l1")).cast("long").alias("m21"),
        (2 * F.sum("l0").over(wy) - F.col("l0")).cast("long").alias("m20"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    den = (
        F.col("b2").cast("double") * (2 * F.col("nn") - F.col("b2"))
        - F.col("nn") * F.col("l")
    )

    def term(m2, na):
        return F.floor(
            F.col("l").cast("double")
            * F.pow(
                (F.col("nn") * F.col(m2) - F.col(na) * F.col("b2")).cast(
                    "double"
                ),
                2,
            )
            / den
            * 1e9
            + F.lit(0.5)
        ).cast("long")

    terms = j.where(den > 0).select(
        "n1",
        "n0",
        "nn",
        term("m21", "n1").alias("t19"),
        term("m20", "n0").alias("t09"),
    )
    return terms.groupBy("n1", "n0", "nn").agg(
        F.round(
            (F.col("nn").cast("double") - 1)
            / F.col("nn")
            / F.col("nn")
            * (
                F.sum("t19") / 1e9 / F.col("n1")
                + F.sum("t09") / 1e9 / F.col("n0")
            ),
            6,
        ).alias("a2_stat")
    ).select(
        F.col("n1").alias("n_weekend"),
        F.col("n0").alias("n_weekday"),
        "a2_stat",
    )


# ---------------------------------------------------------------------------
# R446 Baumgartner-Weiss-Schindler (BWS) two-sample test
# ---------------------------------------------------------------------------


@register(
    "bws_test_weekend",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS wk
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(sum(wk) AS BIGINT) AS n1,
             CAST(sum(1 - wk) AS BIGINT) AS n0
      FROM d
    ),
    r AS MATERIALIZED (
      SELECT wk,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS r2,
             CAST(row_number() OVER (PARTITION BY wk ORDER BY y)
                  AS BIGINT) AS i
      FROM d
    ),
    terms AS (
      SELECT wk,
             CAST(floor(
               power(CAST((CASE WHEN wk = 1 THEN tot.n1 ELSE tot.n0 END) * r2
                          - 2 * tot.nn * i AS DOUBLE), 2)
               * power(CAST((CASE WHEN wk = 1 THEN tot.n1 ELSE tot.n0 END)
                            + 1 AS DOUBLE), 2)
               / (4.0 * (CASE WHEN wk = 1 THEN tot.n1 ELSE tot.n0 END)
                  * i
                  * ((CASE WHEN wk = 1 THEN tot.n1 ELSE tot.n0 END) + 1 - i)
                  * (CASE WHEN wk = 1 THEN tot.n0 ELSE tot.n1 END)
                  * tot.nn)
               * 1e9 + 0.5) AS BIGINT) AS t9
      FROM r, tot
      WHERE i < (CASE WHEN wk = 1 THEN tot.n1 ELSE tot.n0 END) + 1
    ),
    b AS (
      SELECT
        (SELECT sum(t9) / 1e9 FROM terms WHERE wk = 1)
          / (SELECT n1 FROM tot) AS b_x,
        (SELECT sum(t9) / 1e9 FROM terms WHERE wk = 0)
          / (SELECT n0 FROM tot) AS b_y
    )
    SELECT (SELECT n1 FROM tot) AS n_weekend,
           (SELECT n0 FROM tot) AS n_weekday,
           round(b_x, 6) AS b_weekend,
           round(b_y, 6) AS b_weekday,
           round((b_x + b_y) / 2.0, 6) AS bws_stat
    FROM b
    """,
)
def bws_test_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R446 Baumgartner-Weiss-Schindler test (1998) between weekend
    and weekday daily revenue: B = (B_X + B_Y)/2 with B_X =
    (1/n) Σᵢ (R_i - N·i/n)² / [(i/(n+1))(1-i/(n+1))·mN/n] — the
    variance-WEIGHTED rank statistic that out-powers both KS and CvM
    against scale-and-location alternatives (weights blow up at the
    extremes exactly where ECDF variance shrinks).  Pooled midranks
    ride the 2× grid, so each term is the exact rational
    (n·R2 - 2N·i)²(n+1)² / (4n·i(n+1-i)·m·N) of BIGINTs,
    1e-9-snapped into order-free reductions (tied members take
    consecutive i with equal R2, so the term multiset is
    tie-order-invariant — documented).  One pooled sort + one
    per-group rank: calendar-bounded."""
    wk = (
        F.datediff(
            F.col("day"), F.lit("1990-01-01").cast("date")
        )
        % 7
    )
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
        .select("y", F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk"))
        .localCheckpoint(eager=False)
    )
    tot = d.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum("wk").cast("long").alias("n1"),
        F.sum(1 - F.col("wk")).cast("long").alias("n0"),
    )
    r = d.select(
        "wk",
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count("*").over(Window.partitionBy("y"))
            - 1
        )
        .cast("long")
        .alias("r2"),
        F.row_number()
        .over(Window.partitionBy("wk").orderBy("y"))
        .cast("long")
        .alias("i"),
    )
    j = r.crossJoin(F.broadcast(tot))
    na = F.when(F.col("wk") == 1, F.col("n1")).otherwise(F.col("n0"))
    nb = F.when(F.col("wk") == 1, F.col("n0")).otherwise(F.col("n1"))
    t9 = F.floor(
        F.pow((na * F.col("r2") - 2 * F.col("nn") * F.col("i")).cast("double"), 2)
        * F.pow((na + 1).cast("double"), 2)
        / (
            4.0
            * na
            * F.col("i")
            * (na + 1 - F.col("i"))
            * nb
            * F.col("nn")
        )
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    terms = j.select("wk", t9.alias("t9"))
    agg = terms.groupBy("wk").agg(F.sum("t9").cast("long").alias("s9"))
    bx = agg.where(F.col("wk") == 1).select(F.col("s9").alias("s1"))
    by = agg.where(F.col("wk") == 0).select(F.col("s9").alias("s0"))
    out = tot.crossJoin(bx).crossJoin(by)
    b_x = F.col("s1") / 1e9 / F.col("n1")
    b_y = F.col("s0") / 1e9 / F.col("n0")
    return out.select(
        F.col("n1").alias("n_weekend"),
        F.col("n0").alias("n_weekday"),
        F.round(b_x, 6).alias("b_weekend"),
        F.round(b_y, 6).alias("b_weekday"),
        F.round((b_x + b_y) / 2.0, 6).alias("bws_stat"),
    )


# ---------------------------------------------------------------------------
# R447 empirical copula grid + Schweizer-Wolff dependence
# ---------------------------------------------------------------------------


@register(
    "empirical_copula_dependence",
    sql="""
    WITH cust AS MATERIALIZED (
      SELECT c.c_custkey,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
             CAST(coalesce(sum(CAST(floor(CAST(floor(o.o_totalprice * 100
                  + 0.5) AS BIGINT) / 100) AS BIGINT)), 0) AS BIGINT)
               AS spend
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    ranked AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY bal, c_custkey) AS BIGINT)
               AS ru,
             CAST(row_number() OVER (ORDER BY spend, c_custkey) AS BIGINT)
               AS rv,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM cust
    ),
    cells AS MATERIALIZED (
      SELECT CAST((ru - 1) * 8 // n AS BIGINT) AS cu,
             CAST((rv - 1) * 8 // n AS BIGINT) AS cv,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(max(n) AS BIGINT) AS n
      FROM ranked GROUP BY CAST((ru - 1) * 8 // n AS BIGINT),
                           CAST((rv - 1) * 8 // n AS BIGINT)
    ),
    grid AS (
      SELECT gu.g AS cu, gv.g AS cv
      FROM (SELECT unnest(range(0, 8)) AS g) gu
      CROSS JOIN (SELECT unnest(range(0, 8)) AS g) gv
    ),
    dense AS MATERIALIZED (
      SELECT grid.cu, grid.cv,
             coalesce(cells.cnt, 0) AS cnt,
             (SELECT max(n) FROM cells) AS n
      FROM grid LEFT JOIN cells
        ON grid.cu = cells.cu AND grid.cv = cells.cv
    ),
    cop AS (
      SELECT a.cu, a.cv,
             CAST(sum(CASE WHEN b.cu <= a.cu AND b.cv <= a.cv
                           THEN b.cnt ELSE 0 END) AS BIGINT) AS cum,
             CAST(max(a.n) AS BIGINT) AS n
      FROM dense a JOIN dense b ON 1 = 1
      GROUP BY a.cu, a.cv
    ),
    sw AS (
      SELECT CAST(sum(CAST(floor(abs(CAST(cum AS DOUBLE) / n
                   - ((cu + 1) / 8.0) * ((cv + 1) / 8.0)) * 1e9 + 0.5)
                   AS BIGINT)) AS BIGINT) AS s9,
             CAST(max(n) AS BIGINT) AS n
      FROM cop
    )
    SELECT n AS n_customers,
           round(12.0 * (s9 / 1e9) / 64.0, 6) AS schweizer_wolff_sigma,
           round(s9 / 1e9 / 64.0, 6) AS mean_abs_dev
    FROM sw
    """,
)
def empirical_copula_dependence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R447 empirical copula of (account balance, total spend) on an
    8×8 rank grid with the Schweizer-Wolff sigma dependence measure:
    ranks strip both marginals (deterministic c_custkey tie-break),
    the joint rank-bucket histogram is cumulated into the empirical
    copula C(u,v), and σ = 12·mean|C(u,v) - uv| measures dependence
    of ANY form — nonlinear and non-monotone included — which the
    registry's Pearson/Spearman/Kendall queries (all monotone-only)
    cannot see.  Every count is a BIGINT; |C - uv| terms are
    1e-9-snapped into an order-free reduction over the FIXED 64-cell
    grid (the cumulation is a 64×64 broadcast self-join of the
    densified grid, constant at any data scale).  Two global sorts
    (one per marginal) — the two-phase-rank family's shape."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bal"),
        )
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.floor(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                    / 100
                )
                .cast("long")
                .alias("dollars"),
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
            how="left",
        )
        .groupBy("c_custkey", "bal")
        .agg(
            F.coalesce(F.sum("dollars"), F.lit(0)).cast("long").alias(
                "spend"
            )
        )
    )
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = cust.select(
        F.row_number()
        .over(Window.orderBy("bal", "c_custkey"))
        .cast("long")
        .alias("ru"),
        F.row_number()
        .over(Window.orderBy("spend", "c_custkey"))
        .cast("long")
        .alias("rv"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    cells = ranked.groupBy(
        F.floor((F.col("ru") - 1) * 8 / F.col("n")).cast("long").alias(
            "cu"
        ),
        F.floor((F.col("rv") - 1) * 8 / F.col("n")).cast("long").alias(
            "cv"
        ),
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        F.max("n").cast("long").alias("n"),
    )
    spark_grid = (
        spark.range(8)
        .select(F.col("id").cast("long").alias("gu"))
        .crossJoin(
            spark.range(8).select(F.col("id").cast("long").alias("gv"))
        )
    )
    ntot = cells.agg(F.max("n").alias("ntot"))
    dense = (
        spark_grid.join(
            cells,
            on=(F.col("gu") == F.col("cu")) & (F.col("gv") == F.col("cv")),
            how="left",
        )
        .crossJoin(F.broadcast(ntot))
        .select(
            F.col("gu").alias("cu"),
            F.col("gv").alias("cv"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            F.col("ntot").cast("long").alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    a = dense.select(
        F.col("cu").alias("au"),
        F.col("cv").alias("av"),
        F.col("n").alias("n"),
    )
    b = dense.select(
        F.col("cu").alias("bu"),
        F.col("cv").alias("bv"),
        F.col("cnt").alias("bcnt"),
    )
    cop = (
        a.join(F.broadcast(b), F.lit(True))
        .groupBy("au", "av")
        .agg(
            F.sum(
                F.when(
                    (F.col("bu") <= F.col("au"))
                    & (F.col("bv") <= F.col("av")),
                    F.col("bcnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("cum"),
            F.max("n").cast("long").alias("n"),
        )
    )
    sw = cop.agg(
        F.sum(
            F.floor(
                F.abs(
                    F.col("cum").cast("double") / F.col("n")
                    - ((F.col("au") + 1) / 8.0) * ((F.col("av") + 1) / 8.0)
                )
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("s9"),
        F.max("n").cast("long").alias("n"),
    )
    return sw.select(
        F.col("n").alias("n_customers"),
        F.round(12.0 * (F.col("s9") / 1e9) / 64.0, 6).alias(
            "schweizer_wolff_sigma"
        ),
        F.round(F.col("s9") / 1e9 / 64.0, 6).alias("mean_abs_dev"),
    )


# ---------------------------------------------------------------------------
# R448 frequent 3-itemsets (Apriori level 3) over order baskets
# ---------------------------------------------------------------------------


@register(
    "frequent_triples",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    triples AS (
      SELECT a.l_partkey AS i1, b.l_partkey AS i2, c.l_partkey AS i3,
             CAST(count(*) AS BIGINT) AS support
      FROM li a
      JOIN li b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
      JOIN li c ON b.l_orderkey = c.l_orderkey
                AND b.l_partkey < c.l_partkey
      GROUP BY a.l_partkey, b.l_partkey, c.l_partkey
      HAVING count(*) >= 2
    )
    SELECT i1 AS item_1, i2 AS item_2, i3 AS item_3, support
    FROM triples
    ORDER BY support DESC, i1, i2, i3
    LIMIT 20
    """,
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R448 frequent 3-itemsets over order baskets (Apriori level 3,
    min-support 2, top-20): the next lattice level above the
    registry's association_rules_pairs / basket_rule_metrics (pairs)
    and below full FP-growth — 3-itemsets are where pair-based rules
    start missing real structure (a triple can be frequent while one
    of its pairs is only marginal).  The triple join expands each
    basket to C(b,3) ordered combinations — bounded by BASKET size
    exactly like the registry's basket-explode edge build, so the
    expansion stays linear in lineitem rows at 100 TB; support
    counts are BIGINTs and ordering is (support desc, lexicographic)
    for reproducibility."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = li.select(
        F.col("l_orderkey").alias("oa"), F.col("l_partkey").alias("i1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ob"), F.col("l_partkey").alias("i2")
    )
    c = li.select(
        F.col("l_orderkey").alias("oc"), F.col("l_partkey").alias("i3")
    )
    triples = (
        a.join(b, (F.col("oa") == F.col("ob")) & (F.col("i1") < F.col("i2")))
        .join(
            c, (F.col("ob") == F.col("oc")) & (F.col("i2") < F.col("i3"))
        )
        .groupBy("i1", "i2", "i3")
        .agg(F.count("*").cast("long").alias("support"))
        .where(F.col("support") >= 2)
    )
    return (
        triples.select(
            F.col("i1").alias("item_1"),
            F.col("i2").alias("item_2"),
            F.col("i3").alias("item_3"),
            "support",
        )
        .orderBy(
            F.col("support").desc(), "item_1", "item_2", "item_3"
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# R449 historical VaR / CVaR of day-over-day revenue changes
# ---------------------------------------------------------------------------


@register(
    "var_cvar_revenue_changes",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    chg AS MATERIALIZED (
      SELECT CAST(y - lag(y) OVER (ORDER BY day) AS BIGINT) AS chg
      FROM d QUALIFY chg IS NOT NULL
    ),
    r AS MATERIALIZED (
      SELECT chg,
             CAST(row_number() OVER (ORDER BY chg, 1) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM chg
    ),
    q AS (
      SELECT a.alpha,
             CAST(max(r.n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN r.rn = CAST(ceil(a.alpha * r.n) AS BIGINT)
                           THEN r.chg ELSE 0 END) AS BIGINT) AS var_chg,
             CAST(sum(CASE WHEN r.rn <= CAST(ceil(a.alpha * r.n) AS BIGINT)
                           THEN r.chg ELSE 0 END) AS BIGINT) AS tail_sum,
             CAST(max(CAST(ceil(a.alpha * r.n) AS BIGINT)) AS BIGINT)
               AS tail_n
      FROM r CROSS JOIN (SELECT unnest([0.05, 0.01]) AS alpha) a
      GROUP BY a.alpha
    )
    SELECT round(alpha, 2) AS alpha, n AS n_changes,
           CAST(-var_chg AS BIGINT) AS var_loss,
           round(-CAST(tail_sum AS DOUBLE) / tail_n, 6) AS cvar_loss,
           tail_n
    FROM q ORDER BY alpha DESC
    """,
)
def var_cvar_revenue_changes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R449 historical value-at-risk and expected shortfall of
    day-over-day revenue changes: VaR_α is the ⌈αn⌉-th smallest
    change (exact whole-dollar order statistic, loss-signed) and
    CVaR_α is the exact mean of the changes at or below it — the
    coherent-risk pair (CVaR is subadditive where VaR is not) that
    the registry's distributional queries lacked; reported at
    α = 5% and 1%.  Both are BIGINT-exact: one global sort of the
    calendar-bounded change series, a 2-row α grid broadcast, and
    integer tail sums (CVaR = tail_sum/tail_n is an exact rational).
    The deterministic rn tie-break inside equal changes does not
    affect either statistic (equal values, same tail multiset)."""
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
    chg = (
        d.select(
            (F.col("y") - F.lag("y").over(Window.orderBy("day")))
            .cast("long")
            .alias("chg")
        )
        .where(F.col("chg").isNotNull())
        .localCheckpoint(eager=False)
    )
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = chg.select(
        "chg",
        F.row_number().over(Window.orderBy("chg")).cast("long").alias("rn"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    alphas = local_frame(spark, [(0.05,), (0.01,)], "alpha double")
    k = F.ceil(F.col("alpha") * F.col("n")).cast("long")
    q = (
        r.crossJoin(F.broadcast(alphas))
        .groupBy("alpha")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum(F.when(F.col("rn") == k, F.col("chg")).otherwise(0))
            .cast("long")
            .alias("var_chg"),
            F.sum(F.when(F.col("rn") <= k, F.col("chg")).otherwise(0))
            .cast("long")
            .alias("tail_sum"),
            F.max(k).cast("long").alias("tail_n"),
        )
    )
    return q.select(
        F.round(F.col("alpha"), 2).alias("alpha"),
        F.col("n").alias("n_changes"),
        (-F.col("var_chg")).cast("long").alias("var_loss"),
        F.round(
            -F.col("tail_sum").cast("double") / F.col("tail_n"), 6
        ).alias("cvar_loss"),
        "tail_n",
    ).orderBy(F.col("alpha").desc())


# ---------------------------------------------------------------------------
# R450 performance-ratio panel on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "performance_ratio_panel",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    chg AS MATERIALIZED (
      SELECT CAST(y - lag(y) OVER (ORDER BY day) AS BIGINT) AS chg
      FROM d QUALIFY chg IS NOT NULL
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(chg) AS BIGINT) AS s1,
             CAST(sum(chg * chg) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN chg < 0 THEN chg * chg ELSE 0 END)
                  AS BIGINT) AS s2neg
      FROM chg
    ),
    dd AS MATERIALIZED (
      SELECT y,
             CAST(max(y) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS peak
      FROM d
    ),
    ddagg AS (
      SELECT CAST(max(peak - y) AS BIGINT) AS max_drawdown,
             CAST(sum(CAST(floor(
               power(CAST(peak - y AS DOUBLE) / peak, 2) * 1e12 + 0.5)
               AS BIGINT)) AS BIGINT) AS u12,
             CAST(count(*) AS BIGINT) AS nd
      FROM dd
    )
    SELECT mom.n AS n_changes,
           round(CAST(mom.s1 AS DOUBLE) / mom.n
                 / sqrt((CAST(mom.s2 AS DOUBLE)
                         - CAST(mom.s1 AS DOUBLE) * mom.s1 / mom.n)
                        / (mom.n - 1)), 6) + 0.0 AS sharpe,
           round(CAST(mom.s1 AS DOUBLE) / mom.n
                 / sqrt(CAST(mom.s2neg AS DOUBLE) / mom.n), 6) + 0.0
             AS sortino,
           ddagg.max_drawdown,
           round(sqrt(ddagg.u12 / 1e12 / ddagg.nd), 6) AS ulcer_index,
           round((CAST(mom.s1 AS DOUBLE) / mom.n)
                 / ddagg.max_drawdown, 6) + 0.0 AS calmar_like
    FROM mom, ddagg
    """,
)
def performance_ratio_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R450 performance-ratio panel treating daily revenue as an
    equity-style series: Sharpe (mean/sd of day-over-day changes),
    Sortino (mean / downside root-mean-square, penalizing only
    losses), maximum drawdown (peak-to-trough of the LEVEL series
    via a running-max window — exact whole dollars), Ulcer index
    (RMS of relative drawdowns, 1e-12-snapped terms), and a
    Calmar-like mean-change/max-drawdown ratio — the risk-adjusted
    summary family that completes the VaR/CVaR pair (R449 measures
    tail risk; these measure reward per unit of risk).  Moments are
    exact BIGINTs with the S2 - S1²/n spelling; drawdowns ride one
    cumulative-max window over the calendar-bounded day frame."""
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
        .localCheckpoint(eager=False)
    )
    chg = d.select(
        (F.col("y") - F.lag("y").over(Window.orderBy("day")))
        .cast("long")
        .alias("chg")
    ).where(F.col("chg").isNotNull())
    mom = chg.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("chg").cast("long").alias("s1"),
        F.sum(F.col("chg") * F.col("chg")).cast("long").alias("s2"),
        F.sum(
            F.when(F.col("chg") < 0, F.col("chg") * F.col("chg")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("s2neg"),
    )
    dd = d.select(
        "y",
        F.max("y")
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("peak"),
    )
    ddagg = dd.agg(
        F.max(F.col("peak") - F.col("y")).cast("long").alias(
            "max_drawdown"
        ),
        F.sum(
            F.floor(
                F.pow(
                    (F.col("peak") - F.col("y")).cast("double")
                    / F.col("peak"),
                    2,
                )
                * 1e12
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("u12"),
        F.count("*").cast("long").alias("nd"),
    )
    j = mom.crossJoin(ddagg)
    dd_ = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = dd_("s1") / F.col("n")
    sd = F.sqrt(
        (dd_("s2") - dd_("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    )
    return j.select(
        F.col("n").alias("n_changes"),
        (F.round(mean / sd, 6) + 0.0).alias("sharpe"),
        (F.round(mean / F.sqrt(dd_("s2neg") / F.col("n")), 6) + 0.0).alias(
            "sortino"
        ),
        "max_drawdown",
        F.round(F.sqrt(F.col("u12") / 1e12 / F.col("nd")), 6).alias(
            "ulcer_index"
        ),
        (F.round(mean / F.col("max_drawdown"), 6) + 0.0).alias(
            "calmar_like"
        ),
    )


# ---------------------------------------------------------------------------
# R451 Dunn's post-hoc pairwise test (Kruskal-Wallis follow-up)
# ---------------------------------------------------------------------------


@register(
    "dunn_posthoc_segments",
    sql=f"""
    WITH o AS MATERIALIZED (
      SELECT c.c_mktsegment AS seg,
             CAST(floor(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                        / 100) AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    r AS MATERIALIZED (
      SELECT seg,
             CAST(2 * rank() OVER (ORDER BY x)
                  + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
      FROM o
    ),
    g AS MATERIALIZED (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2) AS BIGINT) AS sr2
      FROM r GROUP BY seg
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn FROM g
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM o GROUP BY x)
    ),
    pairs AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             a.n AS n_a, b.n AS n_b,
             (CAST(a.sr2 AS DOUBLE) / (2 * a.n)
              - CAST(b.sr2 AS DOUBLE) / (2 * b.n))
             / sqrt((CAST(tot.nn AS DOUBLE) * (tot.nn + 1) / 12.0
                     - CAST(ties.tie3 AS DOUBLE) / (12.0 * (tot.nn - 1)))
                    * (1.0 / a.n + 1.0 / b.n)) AS z
      FROM g a JOIN g b ON a.seg < b.seg, tot, ties
    )
    SELECT seg_a, seg_b, n_a, n_b,
           round(z, 6) AS z_stat,
           round(least(1.0, 10.0 * 2.0 * (1.0 - {_phi_sql('abs(z)')})), 6)
             AS p_bonferroni
    FROM pairs
    ORDER BY seg_a, seg_b
    """,
)
def dunn_posthoc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R451 Dunn's (1964) post-hoc pairwise test over the 5 market
    segments' order values — the follow-up the registry's
    Kruskal-Wallis omnibus needed (KW says "some segment differs";
    Dunn says WHICH pairs, on the same pooled ranks, which plain
    pairwise Mann-Whitneys get wrong because their ranks are
    recomputed per pair): z_ij = (R̄_i - R̄_j) / √((N(N+1)/12 -
    Σ(t³-t)/(12(N-1)))(1/n_i + 1/n_j)), Bonferroni-adjusted over the
    10 comparisons (capped at 1).  Pooled midranks ride the 2× grid
    so every rank sum is a BIGINT; z is an exact-operand closed form
    and p uses the shared A-S erf.  One global sort + a 5×5
    group-pair join."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.floor(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
                / 100
            )
            .cast("long")
            .alias("x"),
        )
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_mktsegment").alias("seg")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("seg", "x")
        .localCheckpoint(eager=False)
    )
    r = o.select(
        "seg",
        (
            2 * F.rank().over(Window.orderBy("x"))
            + F.count("*").over(Window.partitionBy("x"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    g = r.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r2").cast("long").alias("sr2"),
    )
    tot = g.agg(F.sum("n").cast("long").alias("nn"))
    ties = (
        o.groupBy("x")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie3")
        )
    )
    a = g.select(
        F.col("seg").alias("seg_a"),
        F.col("n").alias("n_a"),
        F.col("sr2").alias("sr2_a"),
    )
    b = g.select(
        F.col("seg").alias("seg_b"),
        F.col("n").alias("n_b"),
        F.col("sr2").alias("sr2_b"),
    )
    pairs = (
        a.join(b, F.col("seg_a") < F.col("seg_b"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
    )
    z = (
        F.col("sr2_a").cast("double") / (2 * F.col("n_a"))
        - F.col("sr2_b").cast("double") / (2 * F.col("n_b"))
    ) / F.sqrt(
        (
            F.col("nn").cast("double") * (F.col("nn") + 1) / 12.0
            - F.col("tie3").cast("double") / (12.0 * (F.col("nn") - 1))
        )
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return pairs.select(
        "seg_a",
        "seg_b",
        "n_a",
        "n_b",
        F.round(z, 6).alias("z_stat"),
        F.round(
            F.least(F.lit(1.0), 10.0 * 2.0 * (1.0 - _phi_col(F.abs(z)))),
            6,
        ).alias("p_bonferroni"),
    ).orderBy("seg_a", "seg_b")


# ---------------------------------------------------------------------------
# R452 Tukey median polish of the (weekday x priority) revenue table
# ---------------------------------------------------------------------------

# Two full sweeps (rows then columns, twice), unrolled: medians of 5
# (priorities per row) and 7 (weekdays per column) values are exact
# middle order statistics on the integer cent grid, and residuals stay
# integers through every sweep — the whole polish is BIGINT algebra.


@register(
    "median_polish_dow_priority",
    sql="""
    WITH cell AS MATERIALIZED (
      SELECT CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS dow,
             o_orderpriority AS pri,
             CAST(floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                  AS BIGINT)) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
               AS resid,
             CAST(0 AS BIGINT) AS dow_eff,
             CAST(0 AS BIGINT) AS pri_eff
      FROM orders
      GROUP BY CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                    AS BIGINT), o_orderpriority
    ),
    r1m AS MATERIALIZED (
      SELECT dow, CAST(sum(CASE WHEN rn = 3 THEN resid ELSE 0 END)
                       AS BIGINT) AS med
      FROM (SELECT dow, resid,
                   CAST(row_number() OVER (PARTITION BY dow
                        ORDER BY resid, pri) AS BIGINT) AS rn
            FROM cell) GROUP BY dow
    ),
    r1 AS MATERIALIZED (
      SELECT t.dow, t.pri, CAST(t.resid - m.med AS BIGINT) AS resid,
             CAST(t.dow_eff + m.med AS BIGINT) AS dow_eff, t.pri_eff
      FROM cell t JOIN r1m m ON t.dow = m.dow
    ),
    c1m AS MATERIALIZED (
      SELECT pri, CAST(sum(CASE WHEN rn = 4 THEN resid ELSE 0 END)
                       AS BIGINT) AS med
      FROM (SELECT pri, resid,
                   CAST(row_number() OVER (PARTITION BY pri
                        ORDER BY resid, dow) AS BIGINT) AS rn
            FROM r1) GROUP BY pri
    ),
    c1 AS MATERIALIZED (
      SELECT t.dow, t.pri, CAST(t.resid - m.med AS BIGINT) AS resid,
             t.dow_eff, CAST(t.pri_eff + m.med AS BIGINT) AS pri_eff
      FROM r1 t JOIN c1m m ON t.pri = m.pri
    ),
    r2m AS MATERIALIZED (
      SELECT dow, CAST(sum(CASE WHEN rn = 3 THEN resid ELSE 0 END)
                       AS BIGINT) AS med
      FROM (SELECT dow, resid,
                   CAST(row_number() OVER (PARTITION BY dow
                        ORDER BY resid, pri) AS BIGINT) AS rn
            FROM c1) GROUP BY dow
    ),
    r2 AS MATERIALIZED (
      SELECT t.dow, t.pri, CAST(t.resid - m.med AS BIGINT) AS resid,
             CAST(t.dow_eff + m.med AS BIGINT) AS dow_eff, t.pri_eff
      FROM c1 t JOIN r2m m ON t.dow = m.dow
    ),
    c2m AS MATERIALIZED (
      SELECT pri, CAST(sum(CASE WHEN rn = 4 THEN resid ELSE 0 END)
                       AS BIGINT) AS med
      FROM (SELECT pri, resid,
                   CAST(row_number() OVER (PARTITION BY pri
                        ORDER BY resid, dow) AS BIGINT) AS rn
            FROM r2) GROUP BY pri
    ),
    c2 AS MATERIALIZED (
      SELECT t.dow, t.pri, CAST(t.resid - m.med AS BIGINT) AS resid,
             t.dow_eff, CAST(t.pri_eff + m.med AS BIGINT) AS pri_eff
      FROM r2 t JOIN c2m m ON t.pri = m.pri
    )
    SELECT dow, pri,
           round(resid / 100.0, 2) AS residual,
           round(dow_eff / 100.0, 2) AS dow_effect,
           round(pri_eff / 100.0, 2) AS pri_effect
    FROM c2 ORDER BY dow, pri
    """,
)
def median_polish_dow_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R452 Tukey median polish of the 7×5 (weekday × priority) mean
    order-value table, two full sweeps unrolled: alternately subtract
    per-row and per-column MEDIANS, accumulating them as row/column
    effects — the robust two-way decomposition whose residuals
    resist the outlier cells that mean-based two-way ANOVA
    (anova/scheirer_ray_hare) smears.  Cell means round half-up to
    the integer CENT grid; medians of 5 (rn=3) and 7 (rn=4) values
    are exact middle order statistics (deterministic tie-break by
    the cross dimension), so residuals and effects stay integers
    through every sweep — the polish is pure BIGINT algebra with no
    convergence question (two sweeps is Tukey's standard stopping
    rule, documented).  35-cell frame: free at any scale."""
    cell = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1990-01-01").cast("date"),
                )
                % 7
            )
            .cast("long")
            .alias("dow"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(
            F.floor(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                ).cast("double")
                / F.count("*")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("resid")
        )
        .withColumn("dow_eff", F.lit(0).cast("long"))
        .withColumn("pri_eff", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )

    def sweep(df: DataFrame, dim: str, other: str, eff: str, k: int):
        med = (
            df.select(
                dim,
                "resid",
                F.row_number()
                .over(Window.partitionBy(dim).orderBy("resid", other))
                .cast("long")
                .alias("rn"),
            )
            .groupBy(dim)
            .agg(
                F.sum(F.when(F.col("rn") == k, F.col("resid")).otherwise(0))
                .cast("long")
                .alias("med")
            )
        )
        out = df.join(F.broadcast(med), on=dim).select(
            "dow",
            "pri",
            (F.col("resid") - F.col("med")).cast("long").alias("resid"),
            (F.col(eff) + F.col("med")).cast("long").alias(eff),
            "pri_eff" if eff == "dow_eff" else "dow_eff",
        )
        return out.localCheckpoint(eager=False)

    cur = cell
    for _ in range(2):
        cur = sweep(cur, "dow", "pri", "dow_eff", 3)
        cur = sweep(cur, "pri", "dow", "pri_eff", 4)
    return cur.select(
        "dow",
        "pri",
        F.round(F.col("resid") / 100.0, 2).alias("residual"),
        F.round(F.col("dow_eff") / 100.0, 2).alias("dow_effect"),
        F.round(F.col("pri_eff") / 100.0, 2).alias("pri_effect"),
    ).orderBy("dow", "pri")


# ---------------------------------------------------------------------------
# R453 process capability (Cp/Cpk/Pp/Ppk) of daily revenue
# ---------------------------------------------------------------------------


@register(
    "process_capability_daily",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) - 1 AS t,
             y
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) / 100) AS BIGINT) AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
      )
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2
      FROM d
    ),
    sub AS MATERIALIZED (
      SELECT t // 7 AS grp,
             CAST(max(y) - min(y) AS BIGINT) AS rng,
             CAST(count(*) AS BIGINT) AS cnt
      FROM d GROUP BY t // 7 HAVING count(*) = 7
    ),
    rbar AS (
      SELECT CAST(sum(rng) AS BIGINT) AS sr,
             CAST(count(*) AS BIGINT) AS k
      FROM sub
    ),
    spec AS (
      SELECT mom.*, rbar.sr, rbar.k,
             CAST(mom.s1 AS DOUBLE) / mom.n AS mu,
             0.8 * (CAST(mom.s1 AS DOUBLE) / mom.n) AS lsl,
             1.2 * (CAST(mom.s1 AS DOUBLE) / mom.n) AS usl,
             sqrt((CAST(mom.s2 AS DOUBLE)
                   - CAST(mom.s1 AS DOUBLE) * mom.s1 / mom.n)
                  / (mom.n - 1)) AS sigma_overall,
             (CAST(rbar.sr AS DOUBLE) / rbar.k) / 2.704 AS sigma_within
      FROM mom, rbar
    )
    SELECT n AS n_days, k AS n_subgroups,
           round(mu, 6) AS mean_revenue,
           round(sigma_within, 6) AS sigma_within,
           round(sigma_overall, 6) AS sigma_overall,
           round((usl - lsl) / (6.0 * sigma_within), 6) AS cp,
           round(least(usl - mu, mu - lsl) / (3.0 * sigma_within), 6)
             AS cpk,
           round((usl - lsl) / (6.0 * sigma_overall), 6) AS pp,
           round(least(usl - mu, mu - lsl) / (3.0 * sigma_overall), 6)
             AS ppk
    FROM spec
    """,
)
def process_capability_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R453 process-capability panel for daily revenue against the
    conventional ±20%-of-mean spec band: Cp/Cpk use the WITHIN-
    subgroup sigma (R̄/d₂ over complete 7-day subgroups, d₂ = 2.704 —
    the xbar_r_control_chart constants) and Pp/Ppk the OVERALL
    sample sigma — the SPC capability quartet whose Cp-vs-Pp gap
    measures between-week drift that a single global sigma hides.
    Moments and ranges are exact BIGINTs (the S2 - S1²/n spelling;
    whole-dollar grid); every ratio is an exact-operand closed form.
    The synthetic spec band is documented (the schema has no real
    engineering tolerances).  One groupBy + a week-subgroup
    aggregate: calendar-bounded."""
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
        .select(
            (
                F.row_number().over(Window.orderBy("day")).cast("long") - 1
            ).alias("t"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    mom = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    sub = (
        d.groupBy(F.floor(F.col("t") / 7).cast("long").alias("grp"))
        .agg(
            (F.max("y") - F.min("y")).cast("long").alias("rng"),
            F.count("*").cast("long").alias("cnt"),
        )
        .where(F.col("cnt") == 7)
    )
    rbar = sub.agg(
        F.sum("rng").cast("long").alias("sr"),
        F.count("*").cast("long").alias("k"),
    )
    j = mom.crossJoin(rbar)
    mu = F.col("s1").cast("double") / F.col("n")
    lsl, usl = 0.8 * mu, 1.2 * mu
    sig_o = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    sig_w = (F.col("sr").cast("double") / F.col("k")) / 2.704
    return j.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_subgroups"),
        F.round(mu, 6).alias("mean_revenue"),
        F.round(sig_w, 6).alias("sigma_within"),
        F.round(sig_o, 6).alias("sigma_overall"),
        F.round((usl - lsl) / (6.0 * sig_w), 6).alias("cp"),
        F.round(F.least(usl - mu, mu - lsl) / (3.0 * sig_w), 6).alias(
            "cpk"
        ),
        F.round((usl - lsl) / (6.0 * sig_o), 6).alias("pp"),
        F.round(F.least(usl - mu, mu - lsl) / (3.0 * sig_o), 6).alias(
            "ppk"
        ),
    )


# ---------------------------------------------------------------------------
# R454 mean cumulative function for recurrent purchases
# ---------------------------------------------------------------------------


@register(
    "mean_cumulative_function",
    sql="""
    WITH per_user AS MATERIALIZED (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
    ev AS MATERIALIZED (
      SELECT CAST(CAST(e.ts AS DATE) - p.first_day AS BIGINT) AS age
      FROM events e
      JOIN per_user p ON e.user_id = p.user_id
      WHERE e.event_type = 'purchase'
    ),
    risk AS MATERIALIZED (
      SELECT CAST(hz.h - p.first_day AS BIGINT) AS follow
      FROM per_user p CROSS JOIN horizon hz
    ),
    ages AS MATERIALIZED (
      SELECT age, CAST(count(*) AS BIGINT) AS d FROM ev GROUP BY age
    ),
    inc AS MATERIALIZED (
      SELECT a.age, a.d,
             (SELECT CAST(count(*) AS BIGINT) FROM risk
              WHERE risk.follow >= a.age) AS n_risk
      FROM ages a
    ),
    mcf AS (
      SELECT age, d, n_risk,
             CAST(sum(CAST(floor(CAST(d AS DOUBLE) / n_risk * 1e9 + 0.5)
                  AS BIGINT)) OVER (ORDER BY age) AS BIGINT) AS m9
      FROM inc
    )
    SELECT age, d AS n_events, n_risk,
           round(m9 / 1e9, 6) AS mcf
    FROM mcf
    WHERE age % 10 = 0 OR age < 10
    ORDER BY age
    """,
)
def mean_cumulative_function(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R454 Nelson-Aalen-style mean cumulative function for RECURRENT
    purchases: MCF(t) = Σ_{s≤t} d(s)/n(s) where d(s) counts purchase
    events at user-age s (days since the user's first activity) and
    n(s) counts users still under observation at age s (follow-up =
    horizon - first day) — the recurrent-event extension of the
    registry's kaplan_meier/nelson_aalen (which stop at the FIRST
    event; MCF counts the expected cumulative NUMBER of purchases
    per user, the marketing repeat-purchase curve).  Increments
    d/n are 1e-9-snapped BIGINTs cumulated by an ordered window, so
    the curve is exact and order-stable; the output samples every
    10th age (plus the first ten) to stay bounded.  One groupBy per
    frame; the risk counts are a broadcast anti-monotone probe."""
    ev_tbl = load_table(spark, sf_dir, "events")
    per_user = ev_tbl.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    horizon = ev_tbl.agg(F.max(F.col("ts").cast("date")).alias("h"))
    ev = (
        ev_tbl.where(F.col("event_type") == "purchase")
        .join(per_user, on="user_id")
        .select(
            F.datediff(F.col("ts").cast("date"), F.col("first_day"))
            .cast("long")
            .alias("age")
        )
    )
    risk = per_user.crossJoin(F.broadcast(horizon)).select(
        F.datediff(F.col("h"), F.col("first_day")).cast("long").alias(
            "follow"
        )
    )
    ages = ev.groupBy("age").agg(F.count("*").cast("long").alias("d"))
    # risk count at each age: join ages x risk on follow >= age
    inc = (
        ages.join(F.broadcast(risk), F.col("follow") >= F.col("age"))
        .groupBy("age", "d")
        .agg(F.count("*").cast("long").alias("n_risk"))
    )
    mcf = inc.select(
        "age",
        "d",
        "n_risk",
        F.sum(
            F.floor(
                F.col("d").cast("double") / F.col("n_risk") * 1e9
                + F.lit(0.5)
            ).cast("long")
        )
        .over(
            Window.orderBy("age").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("m9"),
    )
    return (
        mcf.where((F.col("age") % 10 == 0) | (F.col("age") < 10))
        .select(
            "age",
            F.col("d").alias("n_events"),
            "n_risk",
            F.round(F.col("m9") / 1e9, 6).alias("mcf"),
        )
        .orderBy("age")
    )


# ---------------------------------------------------------------------------
# R455 categorical (brand) attribute assortativity on the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "attribute_assortativity_brand",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    eb AS MATERIALIZED (
      SELECT pu.p_brand AS bu, pv.p_brand AS bv
      FROM e
      JOIN part pu ON e.u = pu.p_partkey
      JOIN part pv ON e.v = pv.p_partkey
    ),
    mix AS MATERIALIZED (
      -- symmetric mixing counts over directed edge ends (2|E| ends)
      SELECT bu AS bi, bv AS bj, CAST(count(*) AS BIGINT) AS m FROM eb
      GROUP BY bu, bv
    ),
    tot AS (SELECT CAST(2 * sum(m) AS BIGINT) AS m2 FROM mix),
    diag AS (
      SELECT CAST(sum(CASE WHEN bi = bj THEN 2 * m ELSE 0 END) AS BIGINT)
        AS tr2
      FROM mix
    ),
    marg AS (
      SELECT brand, CAST(sum(cnt) AS BIGINT) AS ends
      FROM (
        SELECT bi AS brand, m AS cnt FROM mix
        UNION ALL
        SELECT bj AS brand, m AS cnt FROM mix
      ) GROUP BY brand
    ),
    ab AS (
      SELECT CAST(sum(ends * ends) AS BIGINT) AS sum_ab2
      FROM marg
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM marg) AS n_brands,
           round(CAST(diag.tr2 AS DOUBLE) / tot.m2, 6) AS frac_same_brand,
           round((CAST(diag.tr2 AS DOUBLE) / tot.m2
                  - CAST(ab.sum_ab2 AS DOUBLE) / (CAST(tot.m2 AS DOUBLE)
                                                  * tot.m2))
                 / (1.0 - CAST(ab.sum_ab2 AS DOUBLE)
                          / (CAST(tot.m2 AS DOUBLE) * tot.m2)), 6)
             AS assortativity_r
    FROM tot, diag, ab
    """,
)
def attribute_assortativity_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R455 Newman's categorical attribute assortativity (2003) of
    part BRAND over the co-purchase graph: r = (Σe_ii - Σa_i²) /
    (1 - Σa_i²) from the symmetric brand mixing matrix (each
    undirected edge contributes both directed ends) — the
    CATEGORICAL twin of the registry's degree_assortativity (degree
    is numeric mixing; this asks whether same-brand parts co-sell,
    the brand-loyalty signal).  All mixing-matrix cells, the trace
    and the end-marginals are BIGINTs, so r is an exact-operand
    closed form; frac_same_brand rides along as the unnormalized
    diagonal mass.  Basket-bounded edge build + two broadcast dim
    joins (part is the dimension side at 100 TB)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("oa"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ob"), F.col("l_partkey").alias("v")
    )
    e = (
        a.join(b, (F.col("oa") == F.col("ob")) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    eb = (
        e.join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("ku"),
                    F.col("p_brand").alias("bu"),
                )
            ),
            on=F.col("u") == F.col("ku"),
        )
        .join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("kv"),
                    F.col("p_brand").alias("bv"),
                )
            ),
            on=F.col("v") == F.col("kv"),
        )
        .select("bu", "bv")
    )
    mix = eb.groupBy("bu", "bv").agg(
        F.count("*").cast("long").alias("m")
    ).localCheckpoint(eager=False)
    tot = mix.agg((2 * F.sum("m")).cast("long").alias("m2"))
    diag = mix.agg(
        F.sum(
            F.when(F.col("bu") == F.col("bv"), 2 * F.col("m")).otherwise(0)
        )
        .cast("long")
        .alias("tr2")
    )
    marg = (
        mix.select(F.col("bu").alias("brand"), F.col("m").alias("cnt"))
        .unionAll(
            mix.select(F.col("bv").alias("brand"), F.col("m").alias("cnt"))
        )
        .groupBy("brand")
        .agg(F.sum("cnt").cast("long").alias("ends"))
        .localCheckpoint(eager=False)
    )
    ab = marg.agg(
        F.sum(F.col("ends") * F.col("ends")).cast("long").alias("sum_ab2")
    )
    n_edges = e.count()
    n_brands = marg.count()
    out = tot.crossJoin(diag).crossJoin(ab)
    tr = F.col("tr2").cast("double") / F.col("m2")
    a2 = F.col("sum_ab2").cast("double") / (
        F.col("m2").cast("double") * F.col("m2")
    )
    return out.select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.lit(n_brands).cast("long").alias("n_brands"),
        F.round(tr, 6).alias("frac_same_brand"),
        F.round((tr - a2) / (1.0 - a2), 6).alias("assortativity_r"),
    )


# ---------------------------------------------------------------------------
# R456 classical MDS of nation spending profiles (unrolled power iteration)
# ---------------------------------------------------------------------------

_MDS_ITERS = 60


def _mds_power_sql(bsrc: str, tag: str) -> str:
    """Unrolled power iteration on a 25x25 Gram frame `bsrc`(i,j,bij):
    _MDS_ITERS rounds of v <- normalize(B v), each matrix-vector term
    and each component snapped so both engines carry identical
    doubles."""
    parts = [
        f"""v{tag}0 AS MATERIALIZED (
      SELECT i, floor((1.0 + i) / 25.0 * 1e9 + 0.5) / 1e9 AS v
      FROM (SELECT DISTINCT i FROM {bsrc})
    )"""
    ]
    for k in range(1, _MDS_ITERS + 1):
        parts.append(
            f"""w{tag}{k} AS MATERIALIZED (
      SELECT b.i,
             sum(CAST(floor(b.bij * v.v * 1e3 + 0.5) AS BIGINT)) / 1e3
               AS w
      FROM {bsrc} b JOIN v{tag}{k - 1} v ON b.j = v.i
      GROUP BY b.i
    ),
    n{tag}{k} AS MATERIALIZED (
      SELECT sqrt(sum(CAST(floor(w * w * 1e-3 + 0.5) AS BIGINT)) * 1e3)
        AS nrm
      FROM w{tag}{k}
    ),
    v{tag}{k} AS MATERIALIZED (
      SELECT w.i, floor(w.w / n.nrm * 1e9 + 0.5) / 1e9 AS v
      FROM w{tag}{k} w CROSS JOIN n{tag}{k} n
    )"""
        )
    parts.append(
        f"""lam{tag} AS MATERIALIZED (
      SELECT sum(CAST(floor(vi.v * b.bij * vj.v * 1e3 + 0.5) AS BIGINT))
               / 1e3 AS lam
      FROM {bsrc} b
      JOIN v{tag}{_MDS_ITERS} vi ON b.i = vi.i
      JOIN v{tag}{_MDS_ITERS} vj ON b.j = vj.i
    )"""
    )
    return ",\n    ".join(parts)


def _mds_oracle_sql() -> str:
    return f"""
    WITH prof AS MATERIALIZED (
      SELECT c.c_nationkey AS nation, o.o_orderpriority AS pri,
             floor(CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                  AS BIGINT)) AS DOUBLE) / count(*) / 100.0 * 1e6 + 0.5)
               / 1e6 AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_orderpriority
    ),
    d2 AS MATERIALIZED (
      SELECT a.nation AS i, b.nation AS j,
             sum(CAST(floor((a.x - b.x) * (a.x - b.x) * 1e6 + 0.5)
                 AS BIGINT)) / 1e6 AS dsq
      FROM prof a JOIN prof b ON a.pri = b.pri
      GROUP BY a.nation, b.nation
    ),
    rowm AS MATERIALIZED (
      SELECT i, sum(CAST(floor(dsq * 1e3 + 0.5) AS BIGINT)) / 1e3 / 25.0
        AS rm
      FROM d2 GROUP BY i
    ),
    grand AS MATERIALIZED (
      SELECT sum(CAST(floor(rm * 1e3 + 0.5) AS BIGINT)) / 1e3 / 25.0 AS gm
      FROM rowm
    ),
    b AS MATERIALIZED (
      SELECT d2.i, d2.j,
             floor(-0.5 * (d2.dsq - ri.rm - rj.rm + grand.gm) * 1e3 + 0.5)
               / 1e3 AS bij
      FROM d2
      JOIN rowm ri ON d2.i = ri.i
      JOIN rowm rj ON d2.j = rj.i
      CROSS JOIN grand
    ),
    {_mds_power_sql('b', 'a')},
    b2 AS MATERIALIZED (
      SELECT b.i, b.j,
             floor((b.bij - lama.lam * vi.v * vj.v) * 1e3 + 0.5) / 1e3
               AS bij
      FROM b
      JOIN va{_MDS_ITERS} vi ON b.i = vi.i
      JOIN va{_MDS_ITERS} vj ON b.j = vj.i
      CROSS JOIN lama
    ),
    {_mds_power_sql('b2', 'b')}
    SELECT v1.i AS nation,
           round(sqrt(greatest(lama.lam, 0.0)) * v1.v, 6) AS coord1,
           round(sqrt(greatest(lamb.lam, 0.0)) * v2.v, 6) AS coord2,
           round(lama.lam, 3) AS eigval1,
           round(lamb.lam, 3) AS eigval2
    FROM va{_MDS_ITERS} v1
    JOIN vb{_MDS_ITERS} v2 ON v1.i = v2.i
    CROSS JOIN lama CROSS JOIN lamb
    ORDER BY nation
    """


@register("classical_mds_nations", sql=_mds_oracle_sql())
def classical_mds_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R456 classical (Torgerson) multidimensional scaling of the 25
    nation spending profiles (mean order value per priority, 5-dim):
    double-center the squared-distance matrix into the Gram form
    B = -1/2 J D^2 J and extract the top TWO eigenpairs by a 60-round
    snapped power iteration with deflation — the embedding-for-
    visualization op the registry lacked (PCA projects FEATURES; MDS
    embeds a DISTANCE matrix and works for any dissimilarity).
    EXECUTION SPLIT (the memoized-Lloyd / driver-orchestrated-PQ
    precedent): the fact table collapses to the 125-cell profile
    frame IN SPARK (the only data-sized stage — one join + groupBy at
    100 TB); the 625-cell Gram eigensolve is MODEL-SIZED state and
    runs on the driver with the IDENTICAL floor-snap arithmetic the
    DuckDB oracle unrolls (every matrix-vector term snapped to the
    1e-3 grid as a BIGINT sum, components to 1e-9, so both engines
    produce the same doubles; a 120-stage lazy Spark chain spent
    30-45 s on driver latency for zero distributed work —
    measured, re-scoped).  Eigenvector SIGN is arithmetic-determined
    and identical cross-engine (unique up to global sign as in any
    MDS)."""
    import math as _math

    prof_rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("pri"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", F.col("c_nationkey").alias("nation")
            ),
            on=F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("nation", "pri")
        .agg(
            F.sum("cents").cast("long").alias("s"),
            F.count("*").cast("long").alias("n"),
        )
        .collect()
    )
    prof = {}
    for r in prof_rows:
        prof[(r["nation"], r["pri"])] = (
            _math.floor(r["s"] / r["n"] / 100.0 * 1e6 + 0.5) / 1e6
        )
    nations = sorted({k[0] for k in prof})
    pris = sorted({k[1] for k in prof})
    nn = len(nations)

    def snap(x, g):
        return _math.floor(x * g + 0.5) / g

    # Mirror the oracle's `prof a JOIN prof b ON a.pri = b.pri`: a
    # priority term contributes ONLY when both nations have that cell
    # populated; a missing cell drops the term on both engines (the
    # full 125-cell grid is populated at every shipped SF, but small
    # or filtered data must not diverge — or KeyError — here).
    d2 = {}
    for i in nations:
        for jn in nations:
            d2[(i, jn)] = (
                sum(
                    int(
                        _math.floor(
                            (prof[(i, p)] - prof[(jn, p)]) ** 2 * 1e6 + 0.5
                        )
                    )
                    for p in pris
                    if (i, p) in prof and (jn, p) in prof
                )
                / 1e6
            )
    rowm = {
        i: sum(
            int(_math.floor(d2[(i, jn)] * 1e3 + 0.5)) for jn in nations
        )
        / 1e3
        / 25.0
        for i in nations
    }
    gm = (
        sum(int(_math.floor(rowm[i] * 1e3 + 0.5)) for i in nations)
        / 1e3
        / 25.0
    )
    bmat = {
        (i, jn): snap(
            -0.5 * (d2[(i, jn)] - rowm[i] - rowm[jn] + gm), 1e3
        )
        for i in nations
        for jn in nations
    }

    def power(b):
        v = {i: snap((1.0 + i) / 25.0, 1e9) for i in nations}
        for _ in range(_MDS_ITERS):
            w = {
                i: sum(
                    int(_math.floor(b[(i, jn)] * v[jn] * 1e3 + 0.5))
                    for jn in nations
                )
                / 1e3
                for i in nations
            }
            nrm = _math.sqrt(
                sum(
                    int(_math.floor(w[i] * w[i] * 1e-3 + 0.5))
                    for i in nations
                )
                * 1e3
            )
            v = {i: snap(w[i] / nrm, 1e9) for i in nations}
        lam = (
            sum(
                int(
                    _math.floor(
                        v[i] * b[(i, jn)] * v[jn] * 1e3 + 0.5
                    )
                )
                for i in nations
                for jn in nations
            )
            / 1e3
        )
        return v, lam

    v1, lam1 = power(bmat)
    b2 = {
        (i, jn): snap(bmat[(i, jn)] - lam1 * v1[i] * v1[jn], 1e3)
        for i in nations
        for jn in nations
    }
    v2, lam2 = power(b2)
    s1 = _math.sqrt(max(lam1, 0.0))
    s2 = _math.sqrt(max(lam2, 0.0))
    out = [
        (
            int(i),
            round(s1 * v1[i], 6),
            round(s2 * v2[i], 6),
            round(lam1, 3),
            round(lam2, 3),
        )
        for i in nations
    ]
    return local_frame(
        spark,
        out, "nation long, coord1 double, coord2 double, "
        "eigval1 double, eigval2 double"
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# R457 Hausdorff + Chamfer distances between embedding label clouds
# ---------------------------------------------------------------------------

_SETQ = 1_000_000  # the similarity family's 1e-6 int-vector grid


@register(
    "hausdorff_chamfer_labels",
    sql=f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_SETQ} + 0.5)
                         AS BIGINT)) AS v
      FROM embeddings WHERE label IN (0, 1)
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(list_sum(list_transform(list_zip(a.v, b.v),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
      FROM (SELECT * FROM iv WHERE label = 0) a
      CROSS JOIN (SELECT * FROM iv WHERE label = 1) b
    ),
    mins_a AS MATERIALIZED (
      SELECT ia, CAST(min(d2) AS BIGINT) AS md2 FROM pairs GROUP BY ia
    ),
    mins_b AS MATERIALIZED (
      SELECT ib, CAST(min(d2) AS BIGINT) AS md2 FROM pairs GROUP BY ib
    ),
    agg AS (
      SELECT (SELECT CAST(max(md2) AS BIGINT) FROM mins_a) AS h_ab2,
             (SELECT CAST(max(md2) AS BIGINT) FROM mins_b) AS h_ba2,
             (SELECT CAST(sum(CAST(floor(sqrt(CAST(md2 AS DOUBLE))
                   + 0.5) AS BIGINT)) AS BIGINT) FROM mins_a) AS sa,
             (SELECT CAST(count(*) AS BIGINT) FROM mins_a) AS na,
             (SELECT CAST(sum(CAST(floor(sqrt(CAST(md2 AS DOUBLE))
                   + 0.5) AS BIGINT)) AS BIGINT) FROM mins_b) AS sb,
             (SELECT CAST(count(*) AS BIGINT) FROM mins_b) AS nb
    )
    SELECT na AS n_label0, nb AS n_label1,
           round(sqrt(CAST(greatest(h_ab2, h_ba2) AS DOUBLE))
                 / {_SETQ}, 6) AS hausdorff,
           round(sqrt(CAST(h_ab2 AS DOUBLE)) / {_SETQ}, 6)
             AS hausdorff_0_to_1,
           round(sqrt(CAST(h_ba2 AS DOUBLE)) / {_SETQ}, 6)
             AS hausdorff_1_to_0,
           round((CAST(sa AS DOUBLE) / na + CAST(sb AS DOUBLE) / nb)
                 / 2.0 / {_SETQ}, 6) AS chamfer
    FROM agg
    """,
)
def hausdorff_chamfer_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R457 Hausdorff and Chamfer distances between the label-0 and
    label-1 embedding point clouds: directed h(A→B) = max_a min_b
    ‖a-b‖ (the worst-covered point), the symmetric Hausdorff
    max(h(A→B), h(B→A)), and the Chamfer mean-of-nearest distances —
    the SET-level distances the registry's per-point kNN family
    doesn't expose (Hausdorff answers 'how far apart are these two
    clusters as SHAPES', the embedding-drift question).  Vectors
    snap once to the similarity family's 1e-6 integer grid, so every
    pairwise squared distance is an exact BIGINT, the min/max lattice
    is pure integers, and Chamfer's per-point roots snap to the
    integer grid before the mean (exact rationals).  The pair cloud
    is label-bounded (~200×200 at any SF — labels are a fixed
    taxonomy) and broadcast-joined."""
    iv = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isin(0, 1))
        .select(
            "vec_id",
            "label",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * _SETQ + F.lit(0.5)
                ).cast("long"),
            ).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    a = iv.where(F.col("label") == 0).select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va")
    )
    b = iv.where(F.col("label") == 1).select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb")
    )
    d2 = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = a.crossJoin(F.broadcast(b)).select(
        "ia", "ib", d2.alias("d2")
    ).localCheckpoint(eager=False)
    mins_a = pairs.groupBy("ia").agg(F.min("d2").cast("long").alias("md2"))
    mins_b = pairs.groupBy("ib").agg(F.min("d2").cast("long").alias("md2"))
    agg_a = mins_a.agg(
        F.max("md2").cast("long").alias("h_ab2"),
        F.sum(
            F.floor(F.sqrt(F.col("md2").cast("double")) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sa"),
        F.count("*").cast("long").alias("na"),
    )
    agg_b = mins_b.agg(
        F.max("md2").cast("long").alias("h_ba2"),
        F.sum(
            F.floor(F.sqrt(F.col("md2").cast("double")) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sb"),
        F.count("*").cast("long").alias("nb"),
    )
    out = agg_a.crossJoin(agg_b)
    return out.select(
        F.col("na").alias("n_label0"),
        F.col("nb").alias("n_label1"),
        F.round(
            F.sqrt(F.greatest(F.col("h_ab2"), F.col("h_ba2")).cast("double"))
            / _SETQ,
            6,
        ).alias("hausdorff"),
        F.round(F.sqrt(F.col("h_ab2").cast("double")) / _SETQ, 6).alias(
            "hausdorff_0_to_1"
        ),
        F.round(F.sqrt(F.col("h_ba2").cast("double")) / _SETQ, 6).alias(
            "hausdorff_1_to_0"
        ),
        F.round(
            (
                F.col("sa").cast("double") / F.col("na")
                + F.col("sb").cast("double") / F.col("nb")
            )
            / 2.0
            / _SETQ,
            6,
        ).alias("chamfer"),
    )


# ---------------------------------------------------------------------------
# R458 energy distance between embedding label clouds
# ---------------------------------------------------------------------------


@register(
    "energy_distance_labels",
    sql=f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_SETQ} + 0.5)
                         AS BIGINT)) AS v
      FROM embeddings WHERE label IN (0, 1)
    ),
    xy AS (
      SELECT CAST(sum(CAST(floor(sqrt(CAST(list_sum(list_transform(
               list_zip(a.v, b.v), p -> (p[1] - p[2]) * (p[1] - p[2])))
               AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM (SELECT * FROM iv WHERE label = 0) a
      CROSS JOIN (SELECT * FROM iv WHERE label = 1) b
    ),
    xx AS (
      SELECT CAST(sum(CAST(floor(sqrt(CAST(list_sum(list_transform(
               list_zip(a.v, b.v), p -> (p[1] - p[2]) * (p[1] - p[2])))
               AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM (SELECT * FROM iv WHERE label = 0) a
      CROSS JOIN (SELECT * FROM iv WHERE label = 0) b
    ),
    yy AS (
      SELECT CAST(sum(CAST(floor(sqrt(CAST(list_sum(list_transform(
               list_zip(a.v, b.v), p -> (p[1] - p[2]) * (p[1] - p[2])))
               AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM (SELECT * FROM iv WHERE label = 1) a
      CROSS JOIN (SELECT * FROM iv WHERE label = 1) b
    )
    SELECT xy.m AS n_cross_pairs,
           round(2.0 * xy.s / xy.m / {_SETQ}, 6) AS e_xy2,
           round(CAST(xx.s AS DOUBLE) / xx.m / {_SETQ}, 6) AS e_xx,
           round(CAST(yy.s AS DOUBLE) / yy.m / {_SETQ}, 6) AS e_yy,
           round((2.0 * xy.s / xy.m - CAST(xx.s AS DOUBLE) / xx.m
                  - CAST(yy.s AS DOUBLE) / yy.m) / {_SETQ}, 6)
             AS energy_distance
    FROM xy, xx, yy
    """,
)
def energy_distance_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R458 Székely-Rizzo energy distance between the label-0 and
    label-1 embedding clouds: E = 2·E‖X-Y‖ - E‖X-X'‖ - E‖Y-Y'‖ —
    zero iff the two DISTRIBUTIONS coincide, the multivariate
    two-sample distance that sees what the registry's 1-D
    Wasserstein/KS drift gates project away (and the metric twin of
    R457's Hausdorff, which only sees extremes).  All three pair
    clouds use the similarity family's 1e-6 integer vector grid:
    squared distances are exact BIGINTs, each root snaps to the
    integer grid before the sum (order-free BIGINT reductions; the
    diagonal's zero terms are included per the V-statistic form,
    documented).  Label-bounded pair clouds (~200² each), broadcast
    joins."""
    iv = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isin(0, 1))
        .select(
            "label",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * _SETQ + F.lit(0.5)
                ).cast("long"),
            ).alias("v"),
        )
        .localCheckpoint(eager=False)
    )

    def cloud(la: int, lb: int, name: str) -> DataFrame:
        a = iv.where(F.col("label") == la).select(F.col("v").alias("va"))
        b = iv.where(F.col("label") == lb).select(F.col("v").alias("vb"))
        d2 = F.aggregate(
            F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return a.crossJoin(F.broadcast(b)).agg(
            F.sum(
                F.floor(F.sqrt(d2.cast("double")) + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias(f"s_{name}"),
            F.count("*").cast("long").alias(f"m_{name}"),
        )

    out = (
        cloud(0, 1, "xy")
        .crossJoin(cloud(0, 0, "xx"))
        .crossJoin(cloud(1, 1, "yy"))
    )
    exy = 2.0 * F.col("s_xy") / F.col("m_xy")
    exx = F.col("s_xx").cast("double") / F.col("m_xx")
    eyy = F.col("s_yy").cast("double") / F.col("m_yy")
    return out.select(
        F.col("m_xy").alias("n_cross_pairs"),
        F.round(exy / _SETQ, 6).alias("e_xy2"),
        F.round(exx / _SETQ, 6).alias("e_xx"),
        F.round(eyy / _SETQ, 6).alias("e_yy"),
        F.round((exy - exx - eyy) / _SETQ, 6).alias("energy_distance"),
    )


# ---------------------------------------------------------------------------
# R459 maximum mean discrepancy (RBF kernel, median-heuristic bandwidth)
# ---------------------------------------------------------------------------


@register(
    "mmd_rbf_labels",
    sql=f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_SETQ} + 0.5)
                         AS BIGINT)) AS v
      FROM embeddings WHERE label IN (0, 1)
    ),
    alld AS MATERIALIZED (
      SELECT a.label AS la, b.label AS lb,
             CAST(list_sum(list_transform(list_zip(a.v, b.v),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
      FROM iv a JOIN iv b ON a.vec_id < b.vec_id
    ),
    med AS MATERIALIZED (
      SELECT CAST(sum(CASE WHEN rn = (m + 1) // 2 THEN d2 ELSE 0 END)
                  + sum(CASE WHEN rn = m // 2 + 1 THEN d2 ELSE 0 END)
                  AS BIGINT) AS med2x
      FROM (
        SELECT d2,
               CAST(row_number() OVER (ORDER BY d2) AS BIGINT) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM alld
      )
    ),
    terms AS MATERIALIZED (
      SELECT la, lb,
             CAST(sum(CAST(floor(
               exp(-CAST(d2 AS DOUBLE) / CAST(med.med2x AS DOUBLE))
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS s9,
             CAST(count(*) AS BIGINT) AS m
      FROM alld, med
      GROUP BY la, lb, med.med2x
    ),
    cnt AS (
      SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM iv
    ),
    k AS (
      -- U-statistic means over unordered within/cross pairs
      SELECT
        (SELECT CAST(s9 AS DOUBLE) / 1e9 / m FROM terms
         WHERE la = 0 AND lb = 0) AS kxx,
        (SELECT CAST(s9 AS DOUBLE) / 1e9 / m FROM terms
         WHERE la = 1 AND lb = 1) AS kyy,
        (SELECT CAST(sum(s9) AS DOUBLE) / 1e9 / sum(m) FROM terms
         WHERE la <> lb) AS kxy
    )
    SELECT cnt.n0 AS n_label0, cnt.n1 AS n_label1,
           round((SELECT med2x FROM med) / 2.0
                 / ({_SETQ}.0 * {_SETQ}.0), 6) AS sigma2_median,
           round(kxx, 6) AS k_xx,
           round(kyy, 6) AS k_yy,
           round(kxy, 6) AS k_xy,
           round(kxx + kyy - 2.0 * kxy, 6) AS mmd2
    FROM k, cnt
    """,
)
def mmd_rbf_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R459 maximum mean discrepancy (Gretton 2012) between the
    label-0 and label-1 embedding clouds with an RBF kernel at the
    MEDIAN-HEURISTIC bandwidth (2σ² = median pairwise squared
    distance over the POOLED cloud, the standard self-tuning choice;
    the 2×-grid median of exact BIGINT d² keeps it engine-exact):
    MMD² = E k(x,x') + E k(y,y') - 2E k(x,y) over unordered pairs —
    the KERNEL member of the two-sample family (R458's energy
    distance is the α = 1 limit; MMD sees scale-localized
    differences energy distance averages out).  Kernel values are
    1e-9-snapped into order-free BIGINT reductions; pair clouds are
    label-bounded and broadcast-joined."""
    iv = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isin(0, 1))
        .select(
            "vec_id",
            "label",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * _SETQ + F.lit(0.5)
                ).cast("long"),
            ).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    a = iv.select(
        F.col("vec_id").alias("ia"),
        F.col("label").alias("la"),
        F.col("v").alias("va"),
    )
    b = iv.select(
        F.col("vec_id").alias("ib"),
        F.col("label").alias("lb"),
        F.col("v").alias("vb"),
    )
    d2c = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alld = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select("la", "lb", d2c.alias("d2"))
        .localCheckpoint(eager=False)
    )
    wn = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        alld.select(
            "d2",
            F.row_number().over(Window.orderBy("d2")).cast("long").alias(
                "rn"
            ),
            F.count("*").over(wn).cast("long").alias("m"),
        )
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("rn") == F.floor((F.col("m") + 1) / 2),
                        F.col("d2"),
                    ).otherwise(0)
                )
                + F.sum(
                    F.when(
                        F.col("rn") == F.floor(F.col("m") / 2) + 1,
                        F.col("d2"),
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("med2x")
        )
    )
    terms = (
        alld.crossJoin(F.broadcast(med))
        .groupBy("la", "lb")
        .agg(
            F.sum(
                F.floor(
                    F.exp(
                        -F.col("d2").cast("double")
                        / F.col("med2x").cast("double")
                    )
                    * 1e9
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("s9"),
            F.count("*").cast("long").alias("m"),
        )
        .localCheckpoint(eager=False)
    )
    cnt = iv.agg(
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    kxx = (
        terms.where((F.col("la") == 0) & (F.col("lb") == 0))
        .select((F.col("s9").cast("double") / 1e9 / F.col("m")).alias("kxx"))
    )
    kyy = (
        terms.where((F.col("la") == 1) & (F.col("lb") == 1))
        .select((F.col("s9").cast("double") / 1e9 / F.col("m")).alias("kyy"))
    )
    kxy = (
        terms.where(F.col("la") != F.col("lb"))
        .agg(
            (F.sum("s9").cast("double") / 1e9 / F.sum("m")).alias("kxy")
        )
    )
    out = (
        cnt.crossJoin(kxx)
        .crossJoin(kyy)
        .crossJoin(kxy)
        .crossJoin(F.broadcast(med))
    )
    return out.select(
        F.col("n0").alias("n_label0"),
        F.col("n1").alias("n_label1"),
        F.round(
            F.col("med2x") / 2.0 / (float(_SETQ) * float(_SETQ)), 6
        ).alias("sigma2_median"),
        F.round(F.col("kxx"), 6).alias("k_xx"),
        F.round(F.col("kyy"), 6).alias("k_yy"),
        F.round(F.col("kxy"), 6).alias("k_xy"),
        F.round(
            F.col("kxx") + F.col("kyy") - 2.0 * F.col("kxy"), 6
        ).alias("mmd2"),
    )


# ---------------------------------------------------------------------------
# R460 price-index panel between calendar halves (Laspeyres family)
# ---------------------------------------------------------------------------


@register(
    "price_index_halves",
    sql="""
    WITH li AS MATERIALIZED (
      SELECT l_partkey,
             CASE WHEN CAST(l_shipdate AS DATE) <= bnd.d0
                       + CAST((bnd.d1 - bnd.d0) // 2 AS INTEGER)
                  THEN 0 ELSE 1 END AS half,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem
      CROSS JOIN (SELECT min(CAST(l_shipdate AS DATE)) AS d0,
                         max(CAST(l_shipdate AS DATE)) AS d1
                  FROM lineitem) bnd
    ),
    pp AS MATERIALIZED (
      SELECT l_partkey AS pk, half,
             CAST(sum(cents) AS BIGINT) AS sc,
             CAST(sum(qty) AS BIGINT) AS sq
      FROM li GROUP BY l_partkey, half
    ),
    matched AS MATERIALIZED (
      SELECT a.pk,
             CAST(a.sc AS DOUBLE) / a.sq AS p0, a.sq AS q0,
             CAST(b.sc AS DOUBLE) / b.sq AS p1, b.sq AS q1
      FROM (SELECT * FROM pp WHERE half = 0) a
      JOIN (SELECT * FROM pp WHERE half = 1) b ON a.pk = b.pk
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(CAST(floor(p1 * q0 * 1e4 + 0.5) AS BIGINT))
                  AS BIGINT) AS l_num4,
             CAST(sum(CAST(floor(p0 * q0 * 1e4 + 0.5) AS BIGINT))
                  AS BIGINT) AS l_den4,
             CAST(sum(CAST(floor(p1 * q1 * 1e4 + 0.5) AS BIGINT))
                  AS BIGINT) AS p_num4,
             CAST(sum(CAST(floor(p0 * q1 * 1e4 + 0.5) AS BIGINT))
                  AS BIGINT) AS p_den4,
             CAST(sum(CAST(floor(
               0.5 * (p0 * q0 / (SELECT sum(CAST(floor(p0 * q0 * 1e4 + 0.5)
                                 AS BIGINT)) / 1e4 FROM matched)
                      + p1 * q1 / (SELECT sum(CAST(floor(p1 * q1 * 1e4
                                  + 0.5) AS BIGINT)) / 1e4 FROM matched))
               * ln(p1 / p0) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS t9
      FROM matched
    )
    SELECT n_parts AS n_parts_matched,
           round(CAST(l_num4 AS DOUBLE) / l_den4, 6) AS laspeyres,
           round(CAST(p_num4 AS DOUBLE) / p_den4, 6) AS paasche,
           round(sqrt((CAST(l_num4 AS DOUBLE) / l_den4)
                      * (CAST(p_num4 AS DOUBLE) / p_den4)), 6) AS fisher,
           round(exp(t9 / 1e9), 6) AS tornqvist
    FROM sums
    """,
)
def price_index_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R460 bilateral price-index panel between the first and second
    calendar halves of lineitem shipments, over parts traded in BOTH
    periods (the matched basket, standard practice): Laspeyres
    (base-period quantities), Paasche (current), Fisher (their
    geometric mean — the 'ideal' index satisfying time reversal),
    and Törnqvist (expenditure-share-weighted log index, the
    superlative twin) — the economic-measurement family the registry
    lacked (price_elasticity estimates a CURVE; indices AGGREGATE
    price change).  Unit prices are exact cent/quantity rationals;
    every cross term p·q snaps at 1e-4 and the Törnqvist log terms
    at 1e-9, so all four indices are exact-operand ratios of BIGINT
    reductions.  One scan + one (part, half) groupBy + a part-keyed
    self-join: a single shuffle at 100 TB."""
    bnd = load_table(spark, sf_dir, "lineitem").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("d0"),
        F.max(F.col("l_shipdate").cast("date")).alias("d1"),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .crossJoin(F.broadcast(bnd))
        .select(
            "l_partkey",
            F.when(
                F.col("l_shipdate").cast("date")
                <= F.date_add(
                    F.col("d0"),
                    F.floor(
                        F.datediff(F.col("d1"), F.col("d0")) / 2
                    ).cast("int"),
                ),
                0,
            )
            .otherwise(1)
            .alias("half"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("qty"),
        )
    )
    pp = li.groupBy(F.col("l_partkey").alias("pk"), "half").agg(
        F.sum("cents").cast("long").alias("sc"),
        F.sum("qty").cast("long").alias("sq"),
    )
    a = pp.where(F.col("half") == 0).select(
        F.col("pk").alias("pk0"),
        (F.col("sc").cast("double") / F.col("sq")).alias("p0"),
        F.col("sq").alias("q0"),
    )
    b = pp.where(F.col("half") == 1).select(
        F.col("pk").alias("pk1"),
        (F.col("sc").cast("double") / F.col("sq")).alias("p1"),
        F.col("sq").alias("q1"),
    )
    matched = a.join(b, F.col("pk0") == F.col("pk1")).localCheckpoint(
        eager=False
    )
    base = matched.agg(
        F.sum(
            F.floor(F.col("p0") * F.col("q0") * 1e4 + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("e04"),
        F.sum(
            F.floor(F.col("p1") * F.col("q1") * 1e4 + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("e14"),
    )
    sums = (
        matched.crossJoin(F.broadcast(base))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(
                F.floor(
                    F.col("p1") * F.col("q0") * 1e4 + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("l_num4"),
            F.sum(
                F.floor(
                    F.col("p0") * F.col("q0") * 1e4 + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("l_den4"),
            F.sum(
                F.floor(
                    F.col("p1") * F.col("q1") * 1e4 + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("p_num4"),
            F.sum(
                F.floor(
                    F.col("p0") * F.col("q1") * 1e4 + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("p_den4"),
            F.sum(
                F.floor(
                    0.5
                    * (
                        F.col("p0") * F.col("q0") / (F.col("e04") / 1e4)
                        + F.col("p1") * F.col("q1") / (F.col("e14") / 1e4)
                    )
                    * F.log(F.col("p1") / F.col("p0"))
                    * 1e9
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("t9"),
        )
    )
    lasp = F.col("l_num4").cast("double") / F.col("l_den4")
    paas = F.col("p_num4").cast("double") / F.col("p_den4")
    return sums.select(
        F.col("n_parts").alias("n_parts_matched"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        F.round(F.exp(F.col("t9") / 1e9), 6).alias("tornqvist"),
    )


# ---------------------------------------------------------------------------
# R461 distributed greedy maximal matching (mutual-min edges, unrolled)
# ---------------------------------------------------------------------------

_MATCH_ROUNDS = 8


def _matching_oracle_sql() -> str:
    head = """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sup AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS s
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e0 AS MATERIALIZED (
      SELECT u, v,
             CAST((1000000 - s) * 1000000000000 + u * 1000000 + v
                  AS BIGINT) AS w
      FROM sup
    )"""
    parts = [head]
    for k in range(_MATCH_ROUNDS):
        parts.append(f""",
    mu{k} AS MATERIALIZED (
      SELECT x, CAST(min(w) AS BIGINT) AS mw FROM (
        SELECT u AS x, w FROM e{k} UNION ALL SELECT v AS x, w FROM e{k}
      ) GROUP BY x
    ),
    m{k} AS MATERIALIZED (
      SELECT e.u, e.v, e.w
      FROM e{k} e
      JOIN mu{k} a ON e.u = a.x AND e.w = a.mw
      JOIN mu{k} b ON e.v = b.x AND e.w = b.mw
    ),
    mv{k} AS MATERIALIZED (
      SELECT u AS x FROM m{k} UNION SELECT v FROM m{k}
    ),
    e{k + 1} AS MATERIALIZED (
      SELECT e.u, e.v, e.w FROM e{k} e
      WHERE e.u NOT IN (SELECT x FROM mv{k})
        AND e.v NOT IN (SELECT x FROM mv{k})
    )""")
    unions = " UNION ALL ".join(
        f"SELECT u, v, w FROM m{k}" for k in range(_MATCH_ROUNDS)
    )
    parts.append(f""",
    matched AS MATERIALIZED ({unions})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
           CAST(count(*) AS BIGINT) AS matching_size,
           CAST((SELECT count(*) FROM e{_MATCH_ROUNDS}) AS BIGINT)
             AS leftover_edges,
           CAST(sum(1000000 - w // 1000000000000) AS BIGINT)
             AS matched_support
    FROM matched""")
    return "".join(parts)


@register("greedy_maximal_matching", sql=_matching_oracle_sql())
def greedy_maximal_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R461 distributed greedy maximal matching (Israeli-Itai style)
    on the support-2 co-purchase graph with UNIQUE integer edge
    weights ((1e6 - support)·1e12 + u·1e6 + v — support-descending,
    lexicographic tie-break, so the greedy matching is deterministic
    on both engines): each round keeps the edges that are the
    minimum-weight incident edge of BOTH endpoints (mutual-min — a
    valid matching by construction), removes their endpoints, and
    repeats; 8 unrolled rounds with the LEFTOVER-EDGES SENTINEL
    column proving maximality (0 = no eligible edge remains — the
    k-core/ER convergence-sentinel discipline).  Matching is the
    primitive behind one-to-one entity linking and seat assignment
    that the registry's ER family (many-to-many clusters) does not
    provide.  Every round is one groupBy + two semi-joins over a
    shrinking edge frame — O(rounds) shuffles at 100 TB."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a0 = li.select(
        F.col("l_orderkey").alias("oa"), F.col("l_partkey").alias("pu")
    )
    b0 = li.select(
        F.col("l_orderkey").alias("ob"), F.col("l_partkey").alias("pv")
    )
    e = (
        a0.join(
            b0, (F.col("oa") == F.col("ob")) & (F.col("pu") < F.col("pv"))
        )
        .groupBy(F.col("pu").alias("u"), F.col("pv").alias("v"))
        .agg(F.count("*").cast("long").alias("s"))
        .where(F.col("s") >= 2)
        .select(
            "u",
            "v",
            (
                (1000000 - F.col("s")) * F.lit(1000000000000)
                + F.col("u") * 1000000
                + F.col("v")
            )
            .cast("long")
            .alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    matched_parts = []
    cur = e
    for _ in range(_MATCH_ROUNDS):
        ends = cur.select(F.col("u").alias("x"), "w").unionAll(
            cur.select(F.col("v").alias("x"), "w")
        )
        mu = ends.groupBy("x").agg(F.min("w").cast("long").alias("mw"))
        m = (
            cur.join(
                mu.select(F.col("x").alias("xu"), F.col("mw").alias("mwu")),
                (F.col("u") == F.col("xu")) & (F.col("w") == F.col("mwu")),
            )
            .join(
                mu.select(F.col("x").alias("xv"), F.col("mw").alias("mwv")),
                (F.col("v") == F.col("xv")) & (F.col("w") == F.col("mwv")),
            )
            .select("u", "v", "w")
            .localCheckpoint(eager=False)
        )
        matched_parts.append(m)
        mv = m.select(F.col("u").alias("x")).unionAll(
            m.select(F.col("v").alias("x"))
        ).distinct()
        cur = (
            cur.join(
                mv.select(F.col("x").alias("bu")),
                F.col("u") == F.col("bu"),
                "left_anti",
            )
            .join(
                mv.select(F.col("x").alias("bv")),
                F.col("v") == F.col("bv"),
                "left_anti",
            )
            .localCheckpoint(eager=False)
        )
    matched = matched_parts[0]
    for m in matched_parts[1:]:
        matched = matched.unionAll(m)
    leftover = cur.count()
    agg = matched.agg(
        F.count("*").cast("long").alias("matching_size"),
        F.sum(
            1000000 - F.floor(F.col("w") / F.lit(1000000000000)).cast("long")
        )
        .cast("long")
        .alias("matched_support"),
    )
    return agg.select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        "matching_size",
        F.lit(leftover).cast("long").alias("leftover_edges"),
        "matched_support",
    )


# ---------------------------------------------------------------------------
# R462 Luby-style maximal independent set (md5 priorities, unrolled)
# ---------------------------------------------------------------------------

_MIS_ROUNDS = 8


def _mis_oracle_sql() -> str:
    head = """
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sup AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    pr AS MATERIALIZED (
      SELECT x,
             CAST(('0x' || substring(md5(CAST(x AS VARCHAR)), 1, 10))
                  AS BIGINT) * 1000000 + x AS p
      FROM (SELECT u AS x FROM sup UNION SELECT v FROM sup)
    ),
    v0 AS MATERIALIZED (SELECT x, p FROM pr),
    e0 AS MATERIALIZED (
      SELECT s.u, s.v, pu.p AS pu, pv.p AS pv
      FROM sup s JOIN pr pu ON s.u = pu.x JOIN pr pv ON s.v = pv.x
    )"""
    parts = [head]
    for k in range(_MIS_ROUNDS):
        parts.append(f""",
    nbrmin{k} AS MATERIALIZED (
      SELECT x, CAST(min(p) AS BIGINT) AS mp FROM (
        SELECT u AS x, pv AS p FROM e{k}
        UNION ALL SELECT v AS x, pu AS p FROM e{k}
      ) GROUP BY x
    ),
    c{k} AS MATERIALIZED (
      SELECT v.x FROM v{k} v LEFT JOIN nbrmin{k} n ON v.x = n.x
      WHERE n.mp IS NULL OR v.p < n.mp
    ),
    rm{k} AS MATERIALIZED (
      SELECT x FROM c{k}
      UNION
      SELECT e.v AS x FROM e{k} e JOIN c{k} c ON e.u = c.x
      UNION
      SELECT e.u AS x FROM e{k} e JOIN c{k} c ON e.v = c.x
    ),
    v{k + 1} AS MATERIALIZED (
      SELECT v.x, v.p FROM v{k} v
      WHERE v.x NOT IN (SELECT x FROM rm{k})
    ),
    e{k + 1} AS MATERIALIZED (
      SELECT e.* FROM e{k} e
      WHERE e.u NOT IN (SELECT x FROM rm{k})
        AND e.v NOT IN (SELECT x FROM rm{k})
    )""")
    unions = " UNION ALL ".join(
        f"SELECT x FROM c{k}" for k in range(_MIS_ROUNDS)
    )
    parts.append(f""",
    mis AS MATERIALIZED ({unions})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v0) AS n_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
           CAST(count(*) AS BIGINT) AS mis_size,
           CAST((SELECT count(*) FROM v{_MIS_ROUNDS}) AS BIGINT)
             AS leftover_vertices
    FROM mis""")
    return "".join(parts)


@register("luby_maximal_independent_set", sql=_mis_oracle_sql())
def luby_maximal_independent_set(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R462 Luby-style maximal independent set on the support-2
    co-purchase graph with DETERMINISTIC priorities (the portable
    md5 integer ×1e6 + key — unique, so the local-minimum rule needs
    no randomness): each round admits every vertex whose priority
    beats all surviving neighbors (isolated survivors admit
    vacuously), removes the admitted vertices AND their neighbors,
    and repeats; 8 unrolled rounds with the LEFTOVER-VERTICES
    sentinel proving maximality (0 = every vertex is in the MIS or
    adjacent to it).  MIS is the symmetric primitive to R461's
    maximal matching (vertices vs edges) and the standard
    building block for distributed coloring/scheduling.  Each round
    is a groupBy + anti-joins over shrinking frames — O(rounds)
    shuffles, O(log n) rounds w.h.p. under hashed priorities."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a0 = li.select(
        F.col("l_orderkey").alias("oa"), F.col("l_partkey").alias("pu")
    )
    b0 = li.select(
        F.col("l_orderkey").alias("ob"), F.col("l_partkey").alias("pv")
    )
    sup = (
        a0.join(
            b0, (F.col("oa") == F.col("ob")) & (F.col("pu") < F.col("pv"))
        )
        .groupBy(F.col("pu").alias("u"), F.col("pv").alias("v"))
        .agg(F.count("*").alias("s"))
        .where(F.col("s") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    prio = (
        sup.select(F.col("u").alias("x"))
        .unionAll(sup.select(F.col("v").alias("x")))
        .distinct()
        .select(
            "x",
            (
                F.conv(
                    F.substring(F.md5(F.col("x").cast("string")), 1, 10),
                    16,
                    10,
                ).cast("long")
                * 1000000
                + F.col("x")
            ).alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    v = prio
    # n_vertices was always counted for the output; counting it BEFORE
    # the e-build lets the same paid count gate broadcast hints on every
    # node-sized frame below (prio here; nbrmin/c/rm in the rounds —
    # each holds <= n_vertices rows by construction). Checkpointed
    # frames scan as ExistingRDD with unknown stats, so without the
    # hint every round sort-merge-joins the edge frame against tables a
    # groupBy/distinct just proved are node-sized (r13 A/B at sf0.1:
    # 5.65 s shuffle vs 5.15 s broadcast, identical results); fails
    # closed to the shuffle join at billion-node scale.
    n_vertices = v.count()
    from zoom_spark.operators.sizing import broadcaster

    bc = broadcaster(n_vertices, 16)  # (x, p) pairs
    e = (
        sup.join(
            bc(prio.select(F.col("x").alias("xu"), F.col("p").alias("pu_"))),
            F.col("u") == F.col("xu"),
        )
        .join(
            bc(prio.select(F.col("x").alias("xv"), F.col("p").alias("pv_"))),
            F.col("v") == F.col("xv"),
        )
        .select("u", "v", F.col("pu_").alias("pu"), F.col("pv_").alias("pv"))
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    mis_parts = []
    for _ in range(_MIS_ROUNDS):
        nbrmin = (
            e.select(F.col("u").alias("x"), F.col("pv").alias("p"))
            .unionAll(e.select(F.col("v").alias("x"), F.col("pu").alias("p")))
            .groupBy("x")
            .agg(F.min("p").cast("long").alias("mp"))
        )
        c = (
            v.join(bc(nbrmin), on="x", how="left")
            .where(F.col("mp").isNull() | (F.col("p") < F.col("mp")))
            .select("x")
            .localCheckpoint(eager=False)
        )
        mis_parts.append(c)
        rm = (
            c.select("x")
            .unionAll(
                e.join(
                    bc(c.select(F.col("x").alias("cu"))),
                    F.col("u") == F.col("cu"),
                )
                .select(F.col("v").alias("x"))
            )
            .unionAll(
                e.join(
                    bc(c.select(F.col("x").alias("cv"))),
                    F.col("v") == F.col("cv"),
                )
                .select(F.col("u").alias("x"))
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        v = v.join(
            bc(rm.select(F.col("x").alias("rx"))),
            F.col("x") == F.col("rx"),
            "left_anti",
        ).localCheckpoint(eager=False)
        e = (
            e.join(
                bc(rm.select(F.col("x").alias("ru"))),
                F.col("u") == F.col("ru"),
                "left_anti",
            )
            .join(
                bc(rm.select(F.col("x").alias("rv"))),
                F.col("v") == F.col("rv"),
                "left_anti",
            )
            .localCheckpoint(eager=False)
        )
    mis = mis_parts[0]
    for c in mis_parts[1:]:
        mis = mis.unionAll(c)
    mis_size = mis.count()
    leftover = v.count()
    return (
        load_table(spark, sf_dir, "region")
        .limit(1)
        .select(
            F.lit(n_vertices).cast("long").alias("n_vertices"),
            F.lit(n_edges).cast("long").alias("n_edges"),
            F.lit(mis_size).cast("long").alias("mis_size"),
            F.lit(leftover).cast("long").alias("leftover_vertices"),
        )
    )


# ---------------------------------------------------------------------------
# R463-R465 clustering-evaluation metrics: int-Lloyd cells vs labels
# ---------------------------------------------------------------------------


def _cells_vs_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, label, nij) contingency between the memoized int-Lloyd
    cells (the kmeans/semdedup/IVF shared fit) and the embedding
    labels."""
    from zoom_spark.queries.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_QSCALE,
    )
    from zoom_spark.similarity.kmeans import (
        int_assign,
        int_lloyd_fit,
        int_quantize,
        lloyd_cache_key,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = int_quantize(emb, "embedding", "vec_id", KMEANS_QSCALE)
    cents = int_lloyd_fit(
        base,
        k=KMEANS_K,
        iters=KMEANS_ITERS,
        cache_key=lloyd_cache_key(
            sf_dir, "embeddings", "embedding", KMEANS_QSCALE
        ),
    )
    assigned = int_assign(base, cents).select(
        F.col("id").alias("vec_id"), "cell"
    )
    return (
        assigned.join(emb.select("vec_id", "label"), on="vec_id")
        .groupBy("cell", "label")
        .agg(F.count("*").cast("long").alias("nij"))
    )


def _ct_sql_prefix() -> str:
    from zoom_spark.queries.similarity_queries import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_QSCALE,
        int_lloyd_cte_sql,
    )

    return (
        int_lloyd_cte_sql(KMEANS_K, KMEANS_ITERS, KMEANS_QSCALE)
        + f""",
    ct AS MATERIALIZED (
      SELECT a.cell, e.label, CAST(count(*) AS BIGINT) AS nij
      FROM assign{KMEANS_ITERS} a JOIN embeddings e USING (vec_id)
      GROUP BY a.cell, e.label
    )"""
    )


@register(
    "adjusted_rand_index_cells",
    sql=_ct_sql_prefix()
    + """,
    marg AS (
      SELECT CAST(sum(nij) AS BIGINT) AS n,
             CAST(sum(nij * (nij - 1) / 2) AS BIGINT) AS tp,
             (SELECT CAST(sum(a * (a - 1) / 2) AS BIGINT)
              FROM (SELECT CAST(sum(nij) AS BIGINT) AS a FROM ct
                    GROUP BY cell)) AS sa,
             (SELECT CAST(sum(b * (b - 1) / 2) AS BIGINT)
              FROM (SELECT CAST(sum(nij) AS BIGINT) AS b FROM ct
                    GROUP BY label)) AS sb
      FROM ct
    )
    SELECT n AS n_points, tp AS pair_tp, sa AS pair_same_cluster,
           sb AS pair_same_label,
           round((CAST(tp AS DOUBLE)
                  - CAST(sa AS DOUBLE) * sb / (n * (n - 1.0) / 2.0))
                 / ((sa + sb) / 2.0
                    - CAST(sa AS DOUBLE) * sb / (n * (n - 1.0) / 2.0)),
                 6) AS ari,
           round(CAST(tp AS DOUBLE)
                 / sqrt(CAST(sa AS DOUBLE) * sb), 6) AS fowlkes_mallows,
           round((CAST(tp AS DOUBLE)
                  + (n * (n - 1.0) / 2.0 - sa - sb + tp))
                 / (n * (n - 1.0) / 2.0), 6) AS rand_index
    FROM marg
    """,
)
def adjusted_rand_index_cells(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R463 adjusted Rand index between the shared int-Lloyd cells
    and the embedding ground-truth labels — the chance-corrected
    pair-counting agreement (ARI = 0 for random clusterings, 1 for
    perfect), with Fowlkes-Mallows (geometric-mean precision/recall
    on pairs) and the raw Rand index alongside — the EXTERNAL
    cluster-validity family the registry lacked (silhouette/Dunn/CH
    are internal: no ground truth).  Every pair count (TP, same-
    cluster, same-label) is a pure BIGINT from the ≤ 80-cell
    contingency; the three indices are exact-operand closed forms.
    The contingency is one broadcast join over the fitted
    assignment — model-sized beyond the shared fit."""
    ct = _cells_vs_labels(spark, sf_dir).localCheckpoint(eager=False)
    marg = ct.agg(
        F.sum("nij").cast("long").alias("n"),
        F.sum((F.col("nij") * (F.col("nij") - 1) / 2).cast("long"))
        .cast("long")
        .alias("tp"),
    )
    sa = (
        ct.groupBy("cell")
        .agg(F.sum("nij").cast("long").alias("a"))
        .agg(
            F.sum((F.col("a") * (F.col("a") - 1) / 2).cast("long"))
            .cast("long")
            .alias("sa")
        )
    )
    sb = (
        ct.groupBy("label")
        .agg(F.sum("nij").cast("long").alias("b"))
        .agg(
            F.sum((F.col("b") * (F.col("b") - 1) / 2).cast("long"))
            .cast("long")
            .alias("sb")
        )
    )
    j = marg.crossJoin(sa).crossJoin(sb)
    npairs = F.col("n") * (F.col("n") - 1.0) / 2.0
    exp = F.col("sa").cast("double") * F.col("sb") / npairs
    return j.select(
        F.col("n").alias("n_points"),
        F.col("tp").alias("pair_tp"),
        F.col("sa").alias("pair_same_cluster"),
        F.col("sb").alias("pair_same_label"),
        F.round(
            (F.col("tp").cast("double") - exp)
            / ((F.col("sa") + F.col("sb")) / 2.0 - exp),
            6,
        ).alias("ari"),
        F.round(
            F.col("tp").cast("double")
            / F.sqrt(F.col("sa").cast("double") * F.col("sb")),
            6,
        ).alias("fowlkes_mallows"),
        F.round(
            (
                F.col("tp").cast("double")
                + (npairs - F.col("sa") - F.col("sb") + F.col("tp"))
            )
            / npairs,
            6,
        ).alias("rand_index"),
    )


@register(
    "bcubed_cluster_eval",
    sql=_ct_sql_prefix()
    + """,
    sizes AS MATERIALIZED (
      SELECT ct.cell, ct.label, ct.nij,
             ca.a, cb.b
      FROM ct
      JOIN (SELECT cell, CAST(sum(nij) AS BIGINT) AS a FROM ct
            GROUP BY cell) ca ON ct.cell = ca.cell
      JOIN (SELECT label, CAST(sum(nij) AS BIGINT) AS b FROM ct
            GROUP BY label) cb ON ct.label = cb.label
    ),
    agg AS (
      SELECT CAST(sum(nij) AS BIGINT) AS n,
             CAST(sum(CAST(floor(CAST(nij AS DOUBLE) * nij / a * 1e9
                  + 0.5) AS BIGINT)) AS BIGINT) AS p9,
             CAST(sum(CAST(floor(CAST(nij AS DOUBLE) * nij / b * 1e9
                  + 0.5) AS BIGINT)) AS BIGINT) AS r9
      FROM sizes
    )
    SELECT n AS n_points,
           round(p9 / 1e9 / n, 6) AS bcubed_precision,
           round(r9 / 1e9 / n, 6) AS bcubed_recall,
           round(2.0 * (p9 / 1e9 / n) * (r9 / 1e9 / n)
                 / (p9 / 1e9 / n + r9 / 1e9 / n), 6) AS bcubed_f1
    FROM agg
    """,
)
def bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R464 B-cubed precision/recall/F1 of the int-Lloyd cells
    against the embedding labels: per-POINT precision = the fraction
    of the point's cluster sharing its label (Σ n_ij²/a_i over n)
    and recall = the fraction of its label class sharing its cluster
    (Σ n_ij²/b_j over n) — the entity-resolution evaluation standard
    (Bagga-Baldwin) that, unlike pair counting (R463), weights
    every POINT equally and so is robust to one giant cluster.
    Per-cell terms n_ij²/a are exact-operand doubles snapped at 1e-9
    into order-free BIGINT reductions over the ≤ 80-cell frame."""
    ct = _cells_vs_labels(spark, sf_dir).localCheckpoint(eager=False)
    ca = ct.groupBy("cell").agg(F.sum("nij").cast("long").alias("a"))
    cb = ct.groupBy("label").agg(F.sum("nij").cast("long").alias("b"))
    sizes = ct.join(ca, on="cell").join(cb, on="label")
    agg = sizes.agg(
        F.sum("nij").cast("long").alias("n"),
        F.sum(
            F.floor(
                F.col("nij").cast("double")
                * F.col("nij")
                / F.col("a")
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("p9"),
        F.sum(
            F.floor(
                F.col("nij").cast("double")
                * F.col("nij")
                / F.col("b")
                * 1e9
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("r9"),
    )
    prec = F.col("p9") / 1e9 / F.col("n")
    rec = F.col("r9") / 1e9 / F.col("n")
    return agg.select(
        F.col("n").alias("n_points"),
        F.round(prec, 6).alias("bcubed_precision"),
        F.round(rec, 6).alias("bcubed_recall"),
        F.round(2.0 * prec * rec / (prec + rec), 6).alias("bcubed_f1"),
    )


@register(
    "vmeasure_nmi_cells",
    sql=_ct_sql_prefix()
    + """,
    n_t AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
    hc AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(a AS DOUBLE) / n) * ln(CAST(a AS DOUBLE) / n)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM (SELECT cell, CAST(sum(nij) AS BIGINT) AS a FROM ct
            GROUP BY cell), n_t
    ),
    hl AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(b AS DOUBLE) / n) * ln(CAST(b AS DOUBLE) / n)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM (SELECT label, CAST(sum(nij) AS BIGINT) AS b FROM ct
            GROUP BY label), n_t
    ),
    hcl AS (
      SELECT CAST(sum(CAST(floor(
               -(CAST(nij AS DOUBLE) / n) * ln(CAST(nij AS DOUBLE) / n)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM ct, n_t
    )
    SELECT n_t.n AS n_points,
           round(hc.h9 / 1e9, 6) AS h_cluster,
           round(hl.h9 / 1e9, 6) AS h_label,
           round((hc.h9 + hl.h9 - hcl.h9) / 1e9, 6) AS mutual_info,
           round(CAST(hc.h9 + hl.h9 - hcl.h9 AS DOUBLE) / hl.h9, 6)
             AS homogeneity,
           round(CAST(hc.h9 + hl.h9 - hcl.h9 AS DOUBLE) / hc.h9, 6)
             AS completeness,
           round(2.0 * (hc.h9 + hl.h9 - hcl.h9)
                 / (hc.h9 + hl.h9), 6) AS v_measure,
           round((hc.h9 + hl.h9 - hcl.h9)
                 / sqrt(CAST(hc.h9 AS DOUBLE) * hl.h9), 6) AS nmi
    FROM n_t, hc, hl, hcl
    """,
)
def vmeasure_nmi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R465 V-measure and normalized mutual information between the
    int-Lloyd cells and the embedding labels: homogeneity =
    MI/H(label) (each cluster holds one class), completeness =
    MI/H(cluster) (each class lands in one cluster), V = their
    harmonic mean, NMI = MI/√(H(C)H(L)) — the INFORMATION-THEORETIC
    external-validity trio completing R463's pair-counting and
    R464's point-averaged views (the three disagree exactly when
    cluster size skew matters; emitting all three is the evaluation
    standard).  The same snapped -p ln p discipline as the
    uncertainty-coefficient panel: every entropy is an order-free
    BIGINT reduction over the ≤ 80-cell contingency."""
    ct = _cells_vs_labels(spark, sf_dir).localCheckpoint(eager=False)
    n_t = ct.agg(F.sum("nij").cast("long").alias("n"))

    def h9(df: DataFrame, cnt: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n")
        return (
            df.crossJoin(F.broadcast(n_t))
            .select(
                F.floor(-p * F.log(p) * 1e9 + F.lit(0.5))
                .cast("long")
                .alias("t9")
            )
            .agg(F.sum("t9").cast("long").alias("h9"))
        )

    hc = h9(ct.groupBy("cell").agg(F.sum("nij").alias("a")), "a")
    hl = h9(ct.groupBy("label").agg(F.sum("nij").alias("b")), "b")
    hcl = h9(ct, "nij")
    out = (
        n_t.crossJoin(hc.withColumnRenamed("h9", "hc9"))
        .crossJoin(hl.withColumnRenamed("h9", "hl9"))
        .crossJoin(hcl.withColumnRenamed("h9", "hcl9"))
    )
    mi9 = F.col("hc9") + F.col("hl9") - F.col("hcl9")
    return out.select(
        F.col("n").alias("n_points"),
        F.round(F.col("hc9") / 1e9, 6).alias("h_cluster"),
        F.round(F.col("hl9") / 1e9, 6).alias("h_label"),
        F.round(mi9 / 1e9, 6).alias("mutual_info"),
        F.round(mi9.cast("double") / F.col("hl9"), 6).alias(
            "homogeneity"
        ),
        F.round(mi9.cast("double") / F.col("hc9"), 6).alias(
            "completeness"
        ),
        F.round(2.0 * mi9 / (F.col("hc9") + F.col("hl9")), 6).alias(
            "v_measure"
        ),
        F.round(
            mi9
            / F.sqrt(F.col("hc9").cast("double") * F.col("hl9")),
            6,
        ).alias("nmi"),
    )


# ---------------------------------------------------------------------------
# R466 greedy max-coverage document selection (submodular, unrolled)
# ---------------------------------------------------------------------------

_COV_ROUNDS = 10


def _coverage_oracle_sql() -> str:
    head = r"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    dt AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i + 1])) AS term
      FROM toks WHERE len(t) >= 2
    ),
    vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM dt),
    u0 AS MATERIALIZED (SELECT doc_id, term FROM dt)"""
    parts = [head]
    for r in range(_COV_ROUNDS):
        parts.append(f""",
    pick{r} AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
      FROM u{r} GROUP BY doc_id
      ORDER BY count(*) DESC, doc_id LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
      SELECT DISTINCT u.term FROM u{r} u
      JOIN pick{r} p ON u.doc_id = p.doc_id
    ),
    u{r + 1} AS MATERIALIZED (
      SELECT u.doc_id, u.term FROM u{r} u
      WHERE u.term NOT IN (SELECT term FROM cov{r})
    )""")
    sel = " UNION ALL ".join(
        f"SELECT {r} AS round, doc_id, gain FROM pick{r}"
        for r in range(_COV_ROUNDS)
    )
    parts.append(f""",
    picks AS MATERIALIZED ({sel})
    SELECT CAST(p.round AS BIGINT) AS round, p.doc_id,
           p.gain AS new_terms,
           CAST(sum(p.gain) OVER (ORDER BY p.round) AS BIGINT)
             AS cumulative_terms,
           round(CAST(sum(p.gain) OVER (ORDER BY p.round) AS DOUBLE)
                 / vocab.v, 6) AS coverage_frac
    FROM picks p CROSS JOIN vocab
    ORDER BY p.round""")
    return "".join(parts)


@register("greedy_max_coverage_docs", sql=_coverage_oracle_sql())
def greedy_max_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R466 greedy maximum-coverage document selection: 10 unrolled
    rounds of 'pick the document covering the most NOT-YET-COVERED
    vocabulary terms' (lexicographic doc_id tie-break) — the
    (1 - 1/e)-approximate submodular corpus-subset selection that
    LLM data pipelines use to seed diverse training mixtures (the
    registry's stratified/temperature samplers pick by METADATA;
    max-coverage picks by CONTENT, and its marginal-gain column
    shows the diminishing-returns curve directly).  Each round is
    one groupBy + a 1-row argmax + an anti-join that shrinks the
    uncovered posting frame — all integer counts, so the pick
    sequence is deterministic and engine-exact.  Scales as
    O(rounds) shuffles over the (doc, term) posting frame."""
    from zoom_spark.io import spread_scan

    # tokenize + bigram zip below the posting frame's first exchange:
    # spread the pruned single-split scan (no-op on a parallel scan)
    toks = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: x != "",
        ).alias("t"),
    ).where(F.size("t") >= 2)
    dt = (
        toks.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("term"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    vocab = dt.select("term").distinct().count()
    u = dt
    picks = []
    for r in range(_COV_ROUNDS):
        pick = (
            u.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("doc_id"))
            .limit(1)
            .localCheckpoint(eager=False)
        )
        picks.append(
            pick.select(
                F.lit(r).cast("long").alias("round"), "doc_id", "gain"
            )
        )
        # pick is LITERALLY one row (limit(1)) and cov is the term set
        # of that single document — both bounded by construction at any
        # scale, but checkpointed/aggregated frames scan with unknown
        # stats, so the planner would sort-merge-join the full posting
        # frame against them every round (guide §3.1)
        cov = (
            u.join(
                F.broadcast(pick.select(F.col("doc_id").alias("pd"))),
                F.col("doc_id") == F.col("pd"),
            )
            .select("term")
            .distinct()
        )
        u = u.join(
            F.broadcast(cov), on="term", how="left_anti"
        ).localCheckpoint(eager=False)
    allp = picks[0]
    for p in picks[1:]:
        allp = allp.unionAll(p)
    cum = F.sum("gain").over(
        Window.orderBy("round").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return allp.select(
        "round",
        "doc_id",
        F.col("gain").alias("new_terms"),
        cum.cast("long").alias("cumulative_terms"),
        F.round(cum.cast("double") / F.lit(vocab), 6).alias(
            "coverage_frac"
        ),
    ).orderBy("round")


# ---------------------------------------------------------------------------
# R467 k-center greedy (Gonzalez farthest-point) coreset selection
# ---------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle_sql() -> str:
    head = f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_SETQ} + 0.5)
                         AS BIGINT)) AS v
      FROM embeddings
    ),
    s0 AS MATERIALIZED (
      SELECT vec_id, v FROM iv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
    ),
    d0 AS MATERIALIZED (
      SELECT i.vec_id,
             CAST(list_sum(list_transform(list_zip(i.v, s.v),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS md2
      FROM iv i CROSS JOIN s0 s
    )"""
    parts = [head]
    for r in range(1, _KCENTER_K):
        parts.append(f""",
    p{r} AS MATERIALIZED (
      SELECT d.vec_id, i.v FROM d{r - 1} d JOIN iv i USING (vec_id)
      ORDER BY d.md2 DESC, d.vec_id LIMIT 1
    ),
    d{r} AS MATERIALIZED (
      SELECT d.vec_id,
             least(d.md2,
                   CAST(list_sum(list_transform(list_zip(i.v, p.v),
                        q -> (q[1] - q[2]) * (q[1] - q[2]))) AS BIGINT))
               AS md2
      FROM d{r - 1} d JOIN iv i USING (vec_id) CROSS JOIN p{r} p
    )""")
    sel = " UNION ALL ".join(
        ["SELECT 0 AS round, vec_id FROM s0"]
        + [f"SELECT {r}, vec_id FROM p{r}" for r in range(1, _KCENTER_K)]
    )
    parts.append(f""",
    centers AS MATERIALIZED ({sel}),
    radius AS (SELECT CAST(max(md2) AS BIGINT) AS r2
               FROM d{_KCENTER_K - 1})
    SELECT CAST(c.round AS BIGINT) AS round, c.vec_id,
           round(sqrt(CAST(radius.r2 AS DOUBLE)) / {_SETQ}, 6)
             AS final_radius
    FROM centers c CROSS JOIN radius
    ORDER BY c.round""")
    return "".join(parts)


@register("kcenter_greedy_embeddings", sql=_kcenter_oracle_sql())
def kcenter_greedy_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R467 k-center greedy (Gonzalez 1985 farthest-point traversal,
    k = 8) over the embedding corpus: start from the md5-minimal
    vector, repeatedly add the point FARTHEST from the selected set
    (deterministic vec_id tie-break), and report the final covering
    radius — the 2-approximate k-center CORESET selector that active
    learning and dataset-distillation pipelines use (R466's
    max-coverage picks for TEXT diversity; k-center picks for
    GEOMETRIC coverage of the embedding space — together they are
    the two standard subset-selection axes).  All distances are
    exact BIGINTs on the similarity family's 1e-6 grid, the running
    min-distance column updates by one broadcast join per round, and
    each argmax is a TakeOrdered — k-1 linear passes, no pair
    cloud."""
    iv = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * _SETQ + F.lit(0.5)
                ).cast("long"),
            ).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    s0 = (
        iv.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(1)
        .localCheckpoint(eager=False)
    )

    def d2(vb):
        return F.aggregate(
            F.zip_with("v", vb, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    d = iv.crossJoin(
        F.broadcast(s0.select(F.col("v").alias("sv")))
    ).select("vec_id", d2(F.col("sv")).cast("long").alias("md2"))
    centers = [s0.select(F.lit(0).cast("long").alias("round"), "vec_id")]
    for r in range(1, _KCENTER_K):
        p = (
            d.orderBy(F.col("md2").desc(), F.col("vec_id"))
            .limit(1)
            .join(iv.select(F.col("vec_id").alias("pid"), F.col("v").alias("pv")),
                  F.col("vec_id") == F.col("pid"))
            .select("vec_id", "pv")
            .localCheckpoint(eager=False)
        )
        centers.append(
            p.select(F.lit(r).cast("long").alias("round"), "vec_id")
        )
        d = (
            d.join(iv, on="vec_id")
            .crossJoin(F.broadcast(p.select(F.col("pv").alias("cv"))))
            .select(
                "vec_id",
                F.least(
                    F.col("md2"), d2(F.col("cv")).cast("long")
                ).alias("md2"),
            )
            .localCheckpoint(eager=False)
        )
    radius = d.agg(F.max("md2").cast("long").alias("r2"))
    cents = centers[0]
    for c in centers[1:]:
        cents = cents.unionAll(c)
    return (
        cents.crossJoin(F.broadcast(radius))
        .select(
            "round",
            "vec_id",
            F.round(F.sqrt(F.col("r2").cast("double")) / _SETQ, 6).alias(
                "final_radius"
            ),
        )
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# R468 Hill-numbers diversity profile per source (q = 0, 1, 2, inf)
# ---------------------------------------------------------------------------


@register(
    "hill_numbers_diversity",
    sql=r"""
    WITH tok AS MATERIALIZED (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(trim(text)),
                                '\s+'), x -> x <> '')) AS term
      FROM documents
    ),
    tf AS MATERIALIZED (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, term
    ),
    tf2 AS MATERIALIZED (
      SELECT source, c,
             CAST(floor(
               -(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY source))
               * ln(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY source))
               * 1e9 + 0.5) AS BIGINT) AS t9
      FROM tf
    ),
    mom AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS richness,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * c) AS BIGINT) AS s2,
             CAST(max(c) AS BIGINT) AS cmax,
             CAST(sum(t9) AS BIGINT) AS h9
      FROM tf2 GROUP BY source
    )
    SELECT source,
           richness AS hill_q0,
           round(exp(h9 / 1e9), 6) AS hill_q1,
           round(CAST(n AS DOUBLE) * n / s2, 6) AS hill_q2,
           round(CAST(n AS DOUBLE) / cmax, 6) AS hill_qinf
    FROM mom ORDER BY source
    """,
)
def hill_numbers_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R468 Hill-numbers diversity profile of each source's token
    distribution: the effective-species counts ⁰D = richness,
    ¹D = exp(Shannon), ²D = 1/Simpson = N²/Σc², and the Berger-Parker
    limit ∞D = N/c_max — the UNIFIED diversity spectrum (all four are
    the same Rényi family at q = 0, 1, 2, ∞) that puts the
    registry's separate richness/Simpson/entropy readings on one
    comparable 'effective vocabulary size' scale, the standard way
    to compare corpus sources whose raw entropies aren't
    commensurate.  Counts and Σc² are BIGINTs; the Shannon sum is
    the snapped -p ln p reduction (order-free); the window total
    inside the per-term probability uses the same partitioned sum on
    both engines.  One tokenize + one groupBy per source."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("term"),
    )
    tf = tok.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("c")
    )
    wsrc = Window.partitionBy("source")
    p = F.col("c").cast("double") / F.sum("c").over(wsrc)
    tf2 = tf.select(
        "source",
        "c",
        F.floor(-p * F.log(p) * 1e9 + F.lit(0.5)).cast("long").alias("t9"),
    )
    mom = tf2.groupBy("source").agg(
        F.count("*").cast("long").alias("richness"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.max("c").cast("long").alias("cmax"),
        F.sum("t9").cast("long").alias("h9"),
    )
    return mom.select(
        "source",
        F.col("richness").alias("hill_q0"),
        F.round(F.exp(F.col("h9") / 1e9), 6).alias("hill_q1"),
        F.round(
            F.col("n").cast("double") * F.col("n") / F.col("s2"), 6
        ).alias("hill_q2"),
        F.round(F.col("n").cast("double") / F.col("cmax"), 6).alias(
            "hill_qinf"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# R469 rarefaction curve per source (expected richness at subsample m)
# ---------------------------------------------------------------------------


@register(
    "rarefaction_curve_sources",
    sql=r"""
    WITH tok AS MATERIALIZED (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(trim(text)),
                                '\s+'), x -> x <> '')) AS term
      FROM documents
    ),
    tf AS MATERIALIZED (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, term
    ),
    ntot AS MATERIALIZED (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS s_obs
      FROM tf GROUP BY source
    ),
    ks AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY 1) AS BIGINT) AS k
      FROM tok
    ),
    lnf AS MATERIALIZED (
      SELECT k, sum(ln(CAST(k AS DOUBLE))) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
      FROM ks
      UNION ALL SELECT 0, 0.0
    ),
    grid AS MATERIALIZED (
      SELECT n2.source, g.lab,
             CASE WHEN g.lab = 'quarter' THEN n2.n // 4
                  ELSE n2.n // 2 END AS m,
             n2.n, n2.s_obs
      FROM ntot n2
      CROSS JOIN (SELECT unnest(['quarter', 'half']) AS lab) g
    ),
    terms AS (
      SELECT grid.source, grid.lab, grid.m, grid.n, grid.s_obs,
             CASE WHEN tf.c > grid.n - grid.m THEN CAST(1e9 AS BIGINT)
                  ELSE CAST(floor((1.0 - exp(
                         lnc.lf - lncm.lf - lnn.lf + lnnm.lf))
                       * 1e9 + 0.5) AS BIGINT) END AS t9
      FROM grid
      JOIN tf ON tf.source = grid.source
      JOIN lnf lnc ON lnc.k = grid.n - tf.c
      JOIN lnf lncm
        ON lncm.k = CASE WHEN tf.c > grid.n - grid.m THEN 0
                         ELSE grid.n - tf.c - grid.m END
      JOIN lnf lnn ON lnn.k = grid.n
      JOIN lnf lnnm ON lnnm.k = grid.n - grid.m
    )
    SELECT source, lab AS m_label, CAST(max(m) AS BIGINT) AS m,
           CAST(max(s_obs) AS BIGINT) AS observed_richness,
           round(sum(t9) / 1e9, 4) AS expected_richness
    FROM terms
    GROUP BY source, lab
    ORDER BY source, m_label
    """,
)
def rarefaction_curve_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R469 rarefaction curve per source: the EXPECTED vocabulary
    richness in a uniform subsample of m tokens, E[S_m] = Σ_terms
    (1 - C(N-c_i, m)/C(N, m)), evaluated at m = N/4 and N/2 — the
    fair-comparison companion to chao1 (extrapolates UP) and the
    Hill spectrum (whole-sample): rarefaction compares sources of
    unequal size at a COMMON depth, the standard corpus-growth
    diagnostic.  Binomial ratios resolve through the repo's
    DISTRIBUTED log-factorial table (ordered prefix sum of ln k —
    bit-identical on both engines, the fisher_exact/bayes_ab idiom;
    lf(m) cancels algebraically so each term needs 4 lookups);
    per-term probabilities snap at 1e-9 into order-free BIGINT
    reductions, and c > N-m terms short-circuit to exactly 1.
    One tokenize + integer-key equi-joins: no driver math."""
    from zoom_spark.operators.prefix import prefix_sum

    tok = load_table(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("term"),
    ).localCheckpoint(eager=False)
    tf = tok.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("c")
    )
    ntot = tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("s_obs"),
    )
    # r14: the k grid is the integers 1..(token count) — spark.range
    # after one count (which materializes the tok checkpoint the other
    # legs read anyway) replaces the former global_row_number
    # machinery; the running ln-factorial uses the literal-bucket
    # prefix_sum (known_range): one hash exchange, no sampling.
    n_tok = tok.count()
    ks = spark.range(1, n_tok + 1).select(F.col("id").alias("k"))
    lnk = ks.withColumn("lnk", F.log(F.col("k").cast("double")))
    lnf = (
        prefix_sum(lnk, "k", "lnk", out_col="lf", known_range=(1, n_tok))
        .select("k", "lf")
        .unionAll(
            local_frame(spark, [(0, 0.0)], "k bigint, lf double")
        )
        .localCheckpoint(eager=False)
    )
    grid = ntot.crossJoin(
        F.broadcast(
            local_frame(
                spark,
                [("quarter",), ("half",)], "lab string"
            )
        )
    ).select(
        "source",
        "lab",
        F.when(
            F.col("lab") == "quarter", F.floor(F.col("n") / 4)
        )
        .otherwise(F.floor(F.col("n") / 2))
        .cast("long")
        .alias("m"),
        "n",
        "s_obs",
    )
    j = (
        grid.join(tf, on="source")
        .withColumn("k_nc", (F.col("n") - F.col("c")).cast("long"))
        .withColumn(
            "k_ncm",
            F.when(
                F.col("c") > F.col("n") - F.col("m"), F.lit(0)
            )
            .otherwise(F.col("n") - F.col("c") - F.col("m"))
            .cast("long"),
        )
        .withColumn("k_n", F.col("n").cast("long"))
        .withColumn("k_nm", (F.col("n") - F.col("m")).cast("long"))
    )

    def lk(df, key, out):
        return df.join(
            lnf.select(F.col("k").alias(key + "_j"), F.col("lf").alias(out)),
            F.col(key) == F.col(key + "_j"),
        ).drop(key + "_j")

    j = lk(j, "k_nc", "lf_nc")
    j = lk(j, "k_ncm", "lf_ncm")
    j = lk(j, "k_n", "lf_n")
    j = lk(j, "k_nm", "lf_nm")
    t9 = F.when(
        F.col("c") > F.col("n") - F.col("m"),
        F.lit(1000000000).cast("long"),
    ).otherwise(
        F.floor(
            (
                1.0
                - F.exp(
                    F.col("lf_nc")
                    - F.col("lf_ncm")
                    - F.col("lf_n")
                    + F.col("lf_nm")
                )
            )
            * 1e9
            + F.lit(0.5)
        ).cast("long")
    )
    return (
        j.select("source", "lab", "m", "s_obs", t9.alias("t9"))
        .groupBy("source", "lab")
        .agg(
            F.max("m").cast("long").alias("m"),
            F.max("s_obs").cast("long").alias("observed_richness"),
            F.round(F.sum("t9") / 1e9, 4).alias("expected_richness"),
        )
        .select(
            "source",
            F.col("lab").alias("m_label"),
            "m",
            "observed_richness",
            "expected_richness",
        )
        .orderBy("source", "m_label")
    )


# ---------------------------------------------------------------------------
# R470 circular statistics of event time-of-day (Rayleigh test)
# ---------------------------------------------------------------------------


@register(
    "rayleigh_circular_hours",
    sql="""
    WITH ang AS MATERIALIZED (
      SELECT (CAST(hour(ts) AS BIGINT) * 3600
              + CAST(minute(ts) AS BIGINT) * 60
              + CAST(date_part('second', ts) AS BIGINT))
             * 2.0 * pi() / 86400.0 AS theta
      FROM events
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(cos(theta) * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS c9,
             CAST(sum(CAST(floor(sin(theta) * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS s9
      FROM ang
    ),
    r AS (
      SELECT n, c9, s9,
             sqrt((c9 / 1e9) * (c9 / 1e9) + (s9 / 1e9) * (s9 / 1e9)) / n
               AS rbar
      FROM s
    )
    SELECT n AS n_events,
           round(rbar, 6) AS mean_resultant_r,
           round(n * rbar * rbar, 6) AS rayleigh_z,
           round(exp(-n * rbar * rbar)
                 * (1.0 + (2.0 * n * rbar * rbar
                           - n * rbar * rbar * n * rbar * rbar)
                          / (4.0 * n)), 6) AS p_value,
           round(((CASE WHEN atan2(s9 / 1e9, c9 / 1e9) < 0
                        THEN atan2(s9 / 1e9, c9 / 1e9) + 2 * pi()
                        ELSE atan2(s9 / 1e9, c9 / 1e9) END)
                  / (2 * pi())) * 24.0, 6) AS mean_hour,
           round(sqrt(-2.0 * ln(rbar)) / (2 * pi()) * 24.0, 6)
             AS circular_std_hours
    FROM r
    """,
)
def rayleigh_circular_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R470 circular statistics of event TIME-OF-DAY: seconds-of-day
    map to angles θ = 2π·s/86400, the mean resultant length R̄ =
    |Σe^{iθ}|/n measures diurnal concentration, and the Rayleigh
    test z = nR̄² (with the standard (1+(2z-z²)/4n) small-sample
    p correction) asks whether activity has ANY preferred hour —
    the CIRCULAR family the registry lacked (its dow/hour
    seasonality queries bin the clock, which breaks at midnight;
    circular moments respect the wrap-around), plus the circular
    mean hour (atan2 of the component sums) and circular std.
    cos/sin terms snap at 1e-9 into order-free BIGINT reductions
    (the ln/exp/erf shared-libm discipline); the wrapped atan2 and
    all closed forms see identical snapped operands on both
    engines.  One scan + one aggregate."""
    import math as _math

    ang = load_table(spark, sf_dir, "events").select(
        (
            (
                F.hour("ts").cast("long") * 3600
                + F.minute("ts").cast("long") * 60
                + F.second("ts").cast("long")
            ).cast("double")
            * 2.0
            * _math.pi
            / 86400.0
        ).alias("theta")
    )
    s = ang.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.floor(F.cos(F.col("theta")) * 1e9 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("c9"),
        F.sum(
            F.floor(F.sin(F.col("theta")) * 1e9 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("s9"),
    )
    rbar = (
        F.sqrt(
            (F.col("c9") / 1e9) * (F.col("c9") / 1e9)
            + (F.col("s9") / 1e9) * (F.col("s9") / 1e9)
        )
        / F.col("n")
    )
    z = F.col("n") * rbar * rbar
    at = F.atan2(F.col("s9") / 1e9, F.col("c9") / 1e9)
    at_wrapped = F.when(at < 0, at + 2 * _math.pi).otherwise(at)
    return s.select(
        F.col("n").alias("n_events"),
        F.round(rbar, 6).alias("mean_resultant_r"),
        F.round(z, 6).alias("rayleigh_z"),
        F.round(
            F.exp(-z) * (1.0 + (2.0 * z - z * z) / (4.0 * F.col("n"))), 6
        ).alias("p_value"),
        F.round(at_wrapped / (2 * _math.pi) * 24.0, 6).alias("mean_hour"),
        F.round(
            F.sqrt(-2.0 * F.log(rbar)) / (2 * _math.pi) * 24.0, 6
        ).alias("circular_std_hours"),
    )
