"""Sequential experimentation operators (R196+): Wald's SPRT over the
event stream.

Engine-parity discipline: the log-likelihood-ratio increments are
PRECOMPUTED Python float literals inlined into BOTH the Spark plan and
the DuckDB oracle (never ln() evaluated per engine), and the running
LLR is reconstructed from exact integer prefix counts —
LLR_n = k1_n·C1 + (n−k1_n)·C0 — one multiply-add on exact integers,
so the trajectory is bit-identical across engines. The running counts
come from the repo's two-phase distributed prefix machinery (range
shuffle + O(P) offsets), never a single-task global window.

No analog in the reference connector (SURVEY.md §2.11 extension
family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

# H0: purchase share p0 vs H1: p1, alpha = beta = 0.05
SPRT_P0 = 0.15
SPRT_P1 = 0.20
SPRT_ALPHA = 0.05
SPRT_C1 = math.log(SPRT_P1 / SPRT_P0)  # increment for a success
SPRT_C0 = math.log((1 - SPRT_P1) / (1 - SPRT_P0))  # for a failure
SPRT_LN_A = math.log((1 - SPRT_ALPHA) / SPRT_ALPHA)  # accept-H1 bound
SPRT_LN_B = math.log(SPRT_ALPHA / (1 - SPRT_ALPHA))  # accept-H0 bound


@register(
    "sprt_purchase_rate",
    sql=f"""
    WITH s AS (
      SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS k1
      FROM events
    ),
    llr AS (
      SELECT n, k1,
             k1 * {SPRT_C1!r} + (n - k1) * {SPRT_C0!r} AS llr
      FROM s
    ),
    crossed AS (
      SELECT min(n) AS decision_n FROM llr
      WHERE llr >= {SPRT_LN_A!r} OR llr <= {SPRT_LN_B!r}
    ),
    fin AS (
      SELECT max(n) AS n_obs FROM llr
    )
    SELECT f.n_obs,
           c.decision_n,
           CASE WHEN c.decision_n IS NULL THEN 'continue'
                WHEN (SELECT llr FROM llr WHERE n = c.decision_n)
                     >= {SPRT_LN_A!r} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           round((SELECT llr FROM llr WHERE n = c.decision_n), 6)
             AS llr_at_decision,
           round((SELECT llr FROM llr WHERE n = f.n_obs), 6) AS llr_final
    FROM fin f CROSS JOIN crossed c
    """,
)
def sprt_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R196 Wald sequential probability ratio test on the purchase
    share of the event stream (H0: p={SPRT_P0} vs H1: p={SPRT_P1},
    α=β=0.05): the always-valid early-stopping monitor an
    experimentation platform runs instead of a fixed-horizon test.
    The LLR trajectory is k1·C1 + (n−k1)·C0 over EXACT integer
    running counts (two two-phase prefix passes — global row number +
    running success count — no single-task window); the first
    boundary crossing and the decision are one more aggregate. The
    C0/C1/lnA/lnB constants are Python float literals shared with the
    oracle, so the whole trajectory is bit-identical across engines
    before the 6dp output rounding."""
    from zoom_spark.operators.prefix import global_row_number, prefix_sum

    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("x"),
    )
    numbered = global_row_number(ev, ["ts", "event_id"], out_col="n")
    with_k = prefix_sum(numbered, "n", "x", out_col="k1")
    llr = with_k.select(
        "n",
        (
            F.col("k1") * F.lit(SPRT_C1)
            + (F.col("n") - F.col("k1")) * F.lit(SPRT_C0)
        ).alias("llr"),
    ).localCheckpoint(eager=False)
    crossed = llr.where(
        (F.col("llr") >= SPRT_LN_A) | (F.col("llr") <= SPRT_LN_B)
    ).agg(F.min("n").alias("decision_n"))
    fin = llr.agg(F.max("n").alias("n_obs"))
    # probe the big trajectory with 1-row BROADCAST keys (never
    # broadcast the trajectory itself), then re-aggregate to exactly
    # one row so a missing crossing still yields a NULL column
    at_val = (
        llr.join(F.broadcast(crossed), F.col("n") == F.col("decision_n"))
        .agg(F.min("llr").alias("llr_at_decision"))
    )
    fin_val = (
        llr.join(F.broadcast(fin), F.col("n") == F.col("n_obs"))
        .agg(F.min("llr").alias("llr_final"))
    )
    return (
        fin.crossJoin(F.broadcast(crossed))
        .crossJoin(F.broadcast(at_val))
        .crossJoin(F.broadcast(fin_val))
        .select(
            "n_obs",
            "decision_n",
            F.when(F.col("decision_n").isNull(), "continue")
            .when(F.col("llr_at_decision") >= SPRT_LN_A, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            F.round("llr_at_decision", 6).alias("llr_at_decision"),
            F.round("llr_final", 6).alias("llr_final"),
        )
    )


# ---------------------------------------------------------------------------
# R198: jackknife standard error for a ratio metric
# ---------------------------------------------------------------------------


@register(
    "jackknife_ratio_revenue_per_order",
    sql="""
    WITH unit AS (
      SELECT o_custkey AS u, round(sum(o_totalprice), 2) AS rev,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(rev) AS tr, CAST(sum(cnt) AS BIGINT) AS tn,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(rev) / CAST(sum(cnt) AS BIGINT), 6) AS theta
            FROM unit),
    loo AS (
      -- center each leave-one-out ratio at the ROUNDED global theta:
      -- dev terms are O(spread), so the second aggregate has no
      -- catastrophic cancellation for either engine to disagree on
      SELECT (t.tr - u.rev) / (t.tn - u.cnt) - t.theta AS dev,
             t.n, t.theta
      FROM unit u CROSS JOIN tot t
    ),
    agg AS (
      SELECT n, theta, sum(dev) AS sd, sum(dev * dev) AS sd2
      FROM loo GROUP BY n, theta
    ),
    se AS (
      SELECT n, theta,
             round(sqrt((n - 1.0) / n * (sd2 - sd * sd / n)), 4) AS se_jack
      FROM agg
    )
    SELECT n AS n_units, theta, se_jack,
           round(theta - 1.96 * se_jack, 4) AS ci_lo,
           round(theta + 1.96 * se_jack, 4) AS ci_hi
    FROM se
    """,
)
def jackknife_ratio_revenue_per_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R198 leave-one-unit-out jackknife SE for a RATIO metric
    (revenue per order, randomization unit = customer) — the variance
    tool ratio metrics need because orders within a customer are not
    independent (naive per-order SEs understate). Closed form: one
    per-unit aggregate (cent-grid exact), a 1-row totals broadcast,
    then θ_(i) = (R−r_i)/(N−n_i) per unit and
    SE² = (n−1)/n · (Σθ² − (Σθ)²/n) in a single second aggregate —
    no per-replicate recompute, O(units) total. The dev terms are
    centered at the ROUNDED global θ before squaring, so the second
    aggregate carries no catastrophic cancellation (raw Σθ² would —
    it flipped a rounding boundary in testing); the CI is assembled
    from the ROUNDED θ and SE so both engines agree exactly."""
    o = load_table(spark, sf_dir, "orders")
    unit = o.groupBy(F.col("o_custkey").alias("u")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    tot = unit.agg(
        F.sum("rev").alias("tr"),
        F.sum("cnt").cast("bigint").alias("tn"),
        F.count("*").cast("bigint").alias("n"),
    ).select(
        "tr",
        "tn",
        "n",
        F.round(F.col("tr") / F.col("tn"), 6).alias("theta"),
    )
    loo = unit.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("tr") - F.col("rev")) / (F.col("tn") - F.col("cnt"))
            - F.col("theta")
        ).alias("dev"),
        "n",
        "theta",
    )
    agg = loo.groupBy("n", "theta").agg(
        F.sum("dev").alias("sd"),
        F.sum(F.col("dev") * F.col("dev")).alias("sd2"),
    )
    se = agg.select(
        "n",
        "theta",
        F.round(
            F.sqrt(
                (F.col("n") - 1.0)
                / F.col("n")
                * (F.col("sd2") - F.col("sd") * F.col("sd") / F.col("n"))
            ),
            4,
        ).alias("se_jack"),
    )
    return se.select(
        F.col("n").alias("n_units"),
        "theta",
        "se_jack",
        F.round(F.col("theta") - 1.96 * F.col("se_jack"), 4).alias("ci_lo"),
        F.round(F.col("theta") + 1.96 * F.col("se_jack"), 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# R204: Wald-Wolfowitz runs test
# ---------------------------------------------------------------------------


@register(
    "runs_test_purchase_sequence",
    sql="""
    WITH s AS (
      SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS n,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    chg AS (
      SELECT a.x AS x_prev, b.x AS x_cur
      FROM s a JOIN s b ON b.n = a.n + 1
    ),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n,
             (SELECT CAST(sum(x) AS BIGINT) FROM s) AS n1,
             CAST(1 + sum(CASE WHEN x_prev <> x_cur THEN 1 ELSE 0 END)
                  AS BIGINT) AS runs
      FROM chg
    ),
    z AS (
      SELECT n, n1, n - n1 AS n0, runs,
             round((runs - (1 + 2.0 * n1 * (n - n1) / n))
                   / sqrt(2.0 * n1 * (n - n1)
                          * (2.0 * n1 * (n - n1) - n)
                          / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
      FROM agg
    )
    SELECT n AS n_obs, n1 AS n_success, runs AS n_runs, z,
           round(2 * 0.5 * ((0.254829592 * t - 0.284496736 * t * t
                  + 1.421413741 * t * t * t
                  - 1.453152027 * t * t * t * t
                  + 1.061405429 * t * t * t * t * t)
                 * exp(-(az * az) / 2)), 9) AS p_value
    FROM (SELECT n, n1, runs, z, abs(z) AS az,
                 1 / (1 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
          FROM z)
    """,
)
def runs_test_purchase_sequence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R204 Wald-Wolfowitz runs test on the purchase/non-purchase
    sequence in event order — the randomness check a training-shard
    interleave or an experiment's assignment stream should pass
    (too few runs = clumping, too many = alternation). The sequence
    collapses to (count, successes, runs); runs come from a
    consecutive-row-number SELF-JOIN on the two-phase global row
    number (range-co-partitioned equi-join — no single-task lag
    window on the data). Exact integer moments; z rounded at 6dp; p
    via the shared A-S erf polynomial."""
    from zoom_spark.operators.prefix import global_row_number

    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    s = global_row_number(ev, ["ts", "event_id"], out_col="n").select("n", "x")
    a = s.select(F.col("n").alias("na"), F.col("x").alias("x_prev"))
    b = s.select(F.col("n").alias("nb"), F.col("x").alias("x_cur"))
    chg = a.join(b, F.col("nb") == F.col("na") + 1)
    runs = chg.agg(
        (
            1
            + F.sum(
                F.when(F.col("x_prev") != F.col("x_cur"), 1).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs")
    )
    tot = s.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("n1"),
    )
    agg = tot.crossJoin(F.broadcast(runs))
    mu = 1 + 2.0 * F.col("n1") * (F.col("n") - F.col("n1")) / F.col("n")
    two_m = 2.0 * F.col("n1") * (F.col("n") - F.col("n1"))
    sig = F.sqrt(
        two_m
        * (two_m - F.col("n"))
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
    )
    z = agg.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).alias("n0"),
        "runs",
        F.round((F.col("runs") - mu) / sig, 6).alias("z"),
    )
    t = 1 / (1 + 0.3275911 * (F.abs(F.col("z")) / F.sqrt(F.lit(2.0))))
    poly = (
        0.254829592 * t
        - 0.284496736 * t * t
        + 1.421413741 * t * t * t
        - 1.453152027 * t * t * t * t
        + 1.061405429 * t * t * t * t * t
    )
    return z.select(
        F.col("n").alias("n_obs"),
        F.col("n1").alias("n_success"),
        F.col("runs").alias("n_runs"),
        "z",
        F.round(
            2
            * 0.5
            * (poly * F.exp(-(F.abs(F.col("z")) * F.abs(F.col("z"))) / 2)),
            9,
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R208: exact Bayesian A/B probability (Beta-Binomial closed form)
# ---------------------------------------------------------------------------

_BAYES_SQL = """
    WITH s AS (
      SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    cnt AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) + 1
               AS aa,
             CAST(sum(CASE WHEN arm = 0 THEN 1 - x ELSE 0 END) AS BIGINT) + 1
               AS ba,
             CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) + 1
               AS ab,
             CAST(sum(CASE WHEN arm = 1 THEN 1 - x ELSE 0 END) AS BIGINT) + 1
               AS bb
      FROM s
    ),
    ks AS (
      SELECT CAST(row_number() OVER () AS BIGINT) AS k FROM events
      UNION ALL
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM events) + u.x
      FROM (SELECT unnest([1, 2, 3, 4]) AS x) u
    ),
    lnf AS (
      SELECT k, sum(ln(CAST(k AS DOUBLE))) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
      FROM ks
      UNION ALL SELECT 0, 0.0
    ),
    keys AS (
      SELECT x.k - 1 AS i, c.aa, c.ba, c.ab, c.bb,
             c.aa + (x.k - 1) - 1 AS k1,
             c.ba + c.bb - 1 AS k2,
             c.aa + (x.k - 1) + c.ba + c.bb - 1 AS k3,
             x.k - 1 AS k4,
             c.bb - 1 AS k5,
             (x.k - 1) + c.bb AS k6,
             c.aa - 1 AS k7,
             c.ba - 1 AS k8,
             c.aa + c.ba - 1 AS k9
      FROM ks x CROSS JOIN cnt c
      WHERE x.k <= c.ab
    ),
    terms AS (
      SELECT exp(
          (l1.lf + l2.lf - l3.lf)
          - ln(CAST(y.bb + y.i AS DOUBLE))
          - (l4.lf + l5.lf - l6.lf)
          - (l7.lf + l8.lf - l9.lf)
        ) AS t
      FROM keys y
      JOIN lnf l1 ON l1.k = y.k1
      JOIN lnf l2 ON l2.k = y.k2
      JOIN lnf l3 ON l3.k = y.k3
      JOIN lnf l4 ON l4.k = y.k4
      JOIN lnf l5 ON l5.k = y.k5
      JOIN lnf l6 ON l6.k = y.k6
      JOIN lnf l7 ON l7.k = y.k7
      JOIN lnf l8 ON l8.k = y.k8
      JOIN lnf l9 ON l9.k = y.k9
    )
    SELECT c.aa - 1 AS s_a, c.ba - 1 AS f_a, c.ab - 1 AS s_b,
           c.bb - 1 AS f_b,
           round(CAST(c.ab - 1 AS DOUBLE) / (c.ab + c.bb - 2)
                 - CAST(c.aa - 1 AS DOUBLE) / (c.aa + c.ba - 2), 6)
             AS rate_lift,
           round((SELECT sum(t) FROM terms), 6) AS prob_b_beats_a
    FROM cnt c
"""


@register("bayes_ab_prob_purchase", sql=_BAYES_SQL)
def bayes_ab_prob_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R208 EXACT Bayesian A/B verdict P(p_B > p_A) under Beta(1,1)
    priors — Evan Miller's closed form
    h = Σ_{{i<a_B}} B(a_A+i, b_A+b_B) / ((b_B+i)·B(1+i, b_B)·B(a_A, b_A))
    with every log-Beta looked up from a DISTRIBUTED log-factorial
    table: ln k! is the two-phase prefix sum of ln k over k = 1..n+4
    (exactly the table both engines need — n events split 4 ways plus
    priors), and each of the a_B summation terms resolves its nine
    lnfact lookups through broadcast equi-joins on PRE-PROJECTED
    integer keys (expression join keys would degrade to nested
    loops — measured, not theoretical). The whole computation is
    joins + one aggregate: no UDF, no driver math, no sampling."""
    from zoom_spark.operators.prefix import prefix_sum

    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
    )
    s = ev.select(
        F.when(arm, 1).otherwise(0).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    cnt = s.agg(
        (F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("aa"),
        (F.sum(F.when(F.col("arm") == 0, 1 - F.col("x")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("ba"),
        (F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("ab"),
        (F.sum(F.when(F.col("arm") == 1, 1 - F.col("x")).otherwise(0)) + 1)
        .cast("bigint")
        .alias("bb"),
    )
    n_tot = ev.agg(F.count("*").cast("bigint").alias("n"))
    # r14: the k grid is the integers 1..N+4 — spark.range after one
    # count replaces the former global_row_number + appended tail
    # (sampling pass + two shuffles + offsets collect + join), and the
    # running ln-factorial uses the literal-bucket prefix_sum
    # (known_range): one hash exchange, no sampling.
    n_val = int(n_tot.first()["n"])
    ks = spark.range(1, n_val + 5).select(F.col("id").alias("k"))
    lnk = ks.withColumn("lnk", F.log(F.col("k").cast("double")))
    lnf = (
        prefix_sum(
            lnk, "k", "lnk", out_col="lf", known_range=(1, n_val + 4)
        )
        .select("k", "lf")
        .unionAll(
            local_frame(spark, [(0, 0.0)], "k bigint, lf double")
        )
        .localCheckpoint(eager=False)
    )
    keys = (
        ks.crossJoin(F.broadcast(cnt))
        .where(F.col("k") <= F.col("ab"))
        .select(
            (F.col("k") - 1).alias("i"),
            "aa",
            "ba",
            "ab",
            "bb",
            (F.col("aa") + (F.col("k") - 1) - 1).alias("k1"),
            (F.col("ba") + F.col("bb") - 1).alias("k2"),
            (
                F.col("aa")
                + (F.col("k") - 1)
                + F.col("ba")
                + F.col("bb")
                - 1
            ).alias("k3"),
            (F.col("k") - 1).alias("k4"),
            (F.col("bb") - 1).alias("k5"),
            ((F.col("k") - 1) + F.col("bb")).alias("k6"),
            (F.col("aa") - 1).alias("k7"),
            (F.col("ba") - 1).alias("k8"),
            (F.col("aa") + F.col("ba") - 1).alias("k9"),
        )
    )
    t = keys
    for j in range(1, 10):
        lj = lnf.select(
            F.col("k").alias(f"_k{j}"), F.col("lf").alias(f"lf{j}")
        )
        t = t.join(F.broadcast(lj), F.col(f"k{j}") == F.col(f"_k{j}")).drop(
            f"_k{j}"
        )
    term = F.exp(
        (F.col("lf1") + F.col("lf2") - F.col("lf3"))
        - F.log((F.col("bb") + F.col("i")).cast("double"))
        - (F.col("lf4") + F.col("lf5") - F.col("lf6"))
        - (F.col("lf7") + F.col("lf8") - F.col("lf9"))
    )
    prob = t.agg(F.sum(term).alias("p"))
    return (
        cnt.crossJoin(F.broadcast(prob))
        .select(
            (F.col("aa") - 1).alias("s_a"),
            (F.col("ba") - 1).alias("f_a"),
            (F.col("ab") - 1).alias("s_b"),
            (F.col("bb") - 1).alias("f_b"),
            F.round(
                (F.col("ab") - 1).cast("double")
                / (F.col("ab") + F.col("bb") - 2)
                - (F.col("aa") - 1).cast("double")
                / (F.col("aa") + F.col("ba") - 2),
                6,
            ).alias("rate_lift"),
            F.round(F.col("p"), 6).alias("prob_b_beats_a"),
        )
    )


# ---------------------------------------------------------------------------
# R210: exact order-statistic confidence interval for the median
# ---------------------------------------------------------------------------

_LN2 = math.log(2.0)
MEDCI_ALPHA = 0.05


@register(
    "median_ci_order_stats",
    sql=f"""
    WITH v AS (SELECT o_totalprice AS v FROM orders),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    ks AS (SELECT CAST(row_number() OVER () AS BIGINT) AS k FROM v),
    lnf AS (
      SELECT k, sum(ln(CAST(k AS DOUBLE))) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
      FROM ks
      UNION ALL SELECT 0, 0.0
    ),
    js AS (
      SELECT k - 1 AS j FROM ks
      UNION ALL SELECT n FROM nn
    ),
    keys AS (SELECT js.j, nn.n, nn.n - js.j AS nj FROM js CROSS JOIN nn),
    terms AS (
      SELECT y.j, exp(l1.lf - l2.lf - l3.lf - y.n * {_LN2!r}) AS t
      FROM keys y
      JOIN lnf l1 ON l1.k = y.n
      JOIN lnf l2 ON l2.k = y.j
      JOIN lnf l3 ON l3.k = y.nj
    ),
    cdf AS (
      SELECT j, sum(t) OVER (ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
      FROM terms
    ),
    lo AS (SELECT CAST(max(j) + 1 AS BIGINT) AS lo_rank FROM cdf
           WHERE c <= {MEDCI_ALPHA / 2!r}),
    hi AS (SELECT CAST(min(j) + 1 AS BIGINT) AS hi_rank FROM cdf
           WHERE c >= {1 - MEDCI_ALPHA / 2!r}),
    pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY v),
    cum AS (
      SELECT v, sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
      FROM pv
    ),
    vlo AS (SELECT min(v) AS ci_lo FROM cum CROSS JOIN lo
            WHERE cum >= lo_rank),
    vhi AS (SELECT min(v) AS ci_hi FROM cum CROSS JOIN hi
            WHERE cum >= hi_rank)
    SELECT nn.n, (SELECT round(quantile_cont(v, 0.5), 4) FROM v) AS median,
           lo.lo_rank, hi.hi_rank, vlo.ci_lo, vhi.ci_hi
    FROM nn CROSS JOIN lo CROSS JOIN hi CROSS JOIN vlo CROSS JOIN vhi
    """,
)
def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R210 exact (distribution-free) 95% confidence interval for the
    MEDIAN via order statistics: ranks l, u chosen from the exact
    Binomial(n, 1/2) tail — l = max{{k: F(k) ≤ α/2}}+1,
    u = min{{k: F(k) ≥ 1−α/2}}+1 — then X_(l), X_(u) selected with
    the distinct-value prefix-count selection (no global sort). The
    binomial CDF reuses the R208 distributed log-factorial machinery:
    terms exp(lnC(n,j) − n·ln2) from broadcast lnfact lookups, running
    CDF via the two-phase prefix scan. Everything is joins + scans —
    no UDF, no sampling, exact coverage guarantee (the textbook sign-
    test inversion)."""
    from zoom_spark.operators.prefix import prefix_sum

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    nn = o.agg(F.count("*").cast("bigint").alias("n"))
    # r14: the k grid is just the integers 1..N — spark.range after one
    # count replaces the former global_row_number over o_orderkey
    # (sampling pass + range shuffle + ENSURE_REQUIREMENTS hash
    # shuffle + offsets collect + broadcast join), and the running
    # ln-factorial uses the literal-bucket prefix_sum (known_range):
    # one hash exchange, no sampling, same two-phase scan semantics.
    n_val = int(nn.first()["n"])
    ks = spark.range(1, n_val + 1).select(F.col("id").alias("k"))
    lnk = ks.withColumn("lnk", F.log(F.col("k").cast("double")))
    lnf = (
        prefix_sum(lnk, "k", "lnk", out_col="lf", known_range=(1, n_val))
        .select("k", "lf")
        .unionAll(local_frame(spark, [(0, 0.0)], "k bigint, lf double"))
        .localCheckpoint(eager=False)
    )
    js = ks.select((F.col("k") - 1).alias("j")).unionAll(
        nn.select(F.col("n").alias("j"))
    )
    keys = js.crossJoin(F.broadcast(nn)).select(
        "j", "n", (F.col("n") - F.col("j")).alias("nj")
    )
    t = keys
    for j, keycol in [(1, "n"), (2, "j"), (3, "nj")]:
        lj = lnf.select(
            F.col("k").alias(f"_k{j}"), F.col("lf").alias(f"lf{j}")
        )
        t = t.join(F.broadcast(lj), F.col(keycol) == F.col(f"_k{j}")).drop(
            f"_k{j}"
        )
    terms = t.select(
        "j",
        F.exp(
            F.col("lf1") - F.col("lf2") - F.col("lf3") - F.col("n") * _LN2
        ).alias("t"),
    )
    cdf = prefix_sum(
        terms, "j", "t", out_col="c", known_range=(0, n_val)
    ).localCheckpoint(eager=False)
    lo = cdf.where(F.col("c") <= MEDCI_ALPHA / 2).agg(
        (F.max("j") + 1).cast("bigint").alias("lo_rank")
    )
    hi = cdf.where(F.col("c") >= 1 - MEDCI_ALPHA / 2).agg(
        (F.min("j") + 1).cast("bigint").alias("hi_rank")
    )
    pv = o.groupBy("v").agg(F.count("*").cast("bigint").alias("cnt"))
    cum = prefix_sum(pv, "v", "cnt", out_col="cum").localCheckpoint(
        eager=False
    )
    vlo = (
        cum.crossJoin(F.broadcast(lo))
        .where(F.col("cum") >= F.col("lo_rank"))
        .agg(F.min("v").alias("ci_lo"))
    )
    vhi = (
        cum.crossJoin(F.broadcast(hi))
        .where(F.col("cum") >= F.col("hi_rank"))
        .agg(F.min("v").alias("ci_hi"))
    )
    med = o.agg(F.round(F.expr("percentile(v, 0.5)"), 4).alias("median"))
    return (
        nn.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(vlo))
        .crossJoin(F.broadcast(vhi))
        .select("n", "median", "lo_rank", "hi_rank", "ci_lo", "ci_hi")
    )


# ---------------------------------------------------------------------------
# R215: Fisher's exact test (2x2 weekend x purchase)
# ---------------------------------------------------------------------------

_FISHER_TOL = 1.0000001  # scipy-style relative slack on the pmf cutoff

_FISHER_SQL = f"""
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
    ks AS (SELECT CAST(row_number() OVER () AS BIGINT) AS k FROM events),
    lnf AS (
      SELECT k, sum(ln(CAST(k AS DOUBLE))) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
      FROM ks
      UNION ALL SELECT 0, 0.0
    ),
    marg AS (
      SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
             a + b + c + d AS n,
             greatest(0, (a + c) - (c + d)) AS i_lo,
             least(a + b, a + c) AS i_hi
      FROM cnt
    ),
    keys AS (
      SELECT x.k AS i, m.*,
             m.c1 - x.k AS c1i
      FROM ks x CROSS JOIN marg m
      WHERE x.k BETWEEN m.i_lo AND m.i_hi
      UNION ALL
      SELECT 0, m.*, m.c1 FROM marg m WHERE m.i_lo = 0
    ),
    pmf AS (
      SELECT y.i, y.a,
             (lr1.lf - li.lf - lr1i.lf)
           + (lr2.lf - lc1i.lf - lr2c.lf)
           - (ln_.lf - lc1.lf - lnc1.lf) AS lnp
      FROM keys y
      JOIN lnf lr1  ON lr1.k  = y.r1
      JOIN lnf li   ON li.k   = y.i
      JOIN lnf lr1i ON lr1i.k = y.r1 - y.i
      JOIN lnf lr2  ON lr2.k  = y.r2
      JOIN lnf lc1i ON lc1i.k = y.c1i
      JOIN lnf lr2c ON lr2c.k = y.r2 - y.c1i
      JOIN lnf ln_  ON ln_.k  = y.n
      JOIN lnf lc1  ON lc1.k  = y.c1
      JOIN lnf lnc1 ON lnc1.k = y.n - y.c1
    ),
    obs AS (SELECT lnp AS lnp_obs FROM pmf, cnt WHERE pmf.i = cnt.a)
    SELECT cnt.a AS weekend_purchases, cnt.b AS weekend_other,
           cnt.c AS weekday_purchases, cnt.d AS weekday_other,
           round(CAST(cnt.a AS DOUBLE) * cnt.d
                 / (CAST(cnt.b AS DOUBLE) * cnt.c), 6) AS odds_ratio,
           round((SELECT sum(exp(lnp)) FROM pmf, obs
                  WHERE lnp <= lnp_obs + ln({_FISHER_TOL!r})), 6)
             AS p_two_sided,
           round((SELECT sum(exp(lnp)) FROM pmf, cnt
                  WHERE pmf.i >= cnt.a), 6) AS p_greater
    FROM cnt
"""


@register("fisher_exact_weekend_purchase", sql=_FISHER_SQL)
def fisher_exact_weekend_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R215 Fisher's EXACT test of independence for the 2x2
    weekend x purchase table: hypergeometric pmf over the full
    support, p_greater = exact right tail (threshold-free) and
    p_two_sided = sum of all outcomes no more likely than observed
    (scipy convention, with the standard 1+1e-7 relative slack on the
    pmf cutoff so boundary terms resolve identically on both
    engines). Every ln-binomial resolves through the distributed
    log-factorial table (two-phase prefix sum of ln k) via nine
    broadcast equi-joins on pre-projected integer keys — the R208
    pattern; the support is ~|purchases| rows, trivially parallel."""
    import math as _math

    from zoom_spark.operators.prefix import prefix_sum

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
    # r14: the k grid is the integers 1..N — spark.range after one
    # count replaces the former global_row_number machinery, and the
    # running ln-factorial uses the literal-bucket prefix_sum
    # (known_range): one hash exchange, no sampling.
    n_val = int(ev.agg(F.count("*").alias("n")).first()["n"])
    ks = spark.range(1, n_val + 1).select(F.col("id").alias("k"))
    lnk = ks.withColumn("lnk", F.log(F.col("k").cast("double")))
    lnf = (
        prefix_sum(lnk, "k", "lnk", out_col="lf", known_range=(1, n_val))
        .select("k", "lf")
        .unionAll(local_frame(spark, [(0, 0.0)], "k bigint, lf double"))
        .localCheckpoint(eager=False)
    )
    marg = cnt.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.col("a") + F.col("c")) - (F.col("c") + F.col("d")),
        ).alias("i_lo"),
        F.least(F.col("a") + F.col("b"), F.col("a") + F.col("c")).alias(
            "i_hi"
        ),
    )
    zero = local_frame(spark, [(0,)], "k bigint")
    keys = (
        ks.unionAll(zero)
        .crossJoin(F.broadcast(marg))
        .where(
            (F.col("k") >= F.col("i_lo")) & (F.col("k") <= F.col("i_hi"))
        )
        .select(
            F.col("k").alias("i"),
            "a",
            "r1",
            "r2",
            "c1",
            "n",
            (F.col("c1") - F.col("k")).alias("c1i"),
            (F.col("r1") - F.col("k")).alias("r1i"),
        )
        .withColumn("r2c", F.col("r2") - F.col("c1i"))
        .withColumn("nc1", F.col("n") - F.col("c1"))
    )
    t = keys
    for j, keycol in enumerate(
        ["r1", "i", "r1i", "r2", "c1i", "r2c", "n", "c1", "nc1"], start=1
    ):
        lj = lnf.select(
            F.col("k").alias(f"_k{j}"), F.col("lf").alias(f"lf{j}")
        )
        t = t.join(F.broadcast(lj), F.col(keycol) == F.col(f"_k{j}")).drop(
            f"_k{j}"
        )
    pmf = t.select(
        "i",
        "a",
        (
            (F.col("lf1") - F.col("lf2") - F.col("lf3"))
            + (F.col("lf4") - F.col("lf5") - F.col("lf6"))
            - (F.col("lf7") - F.col("lf8") - F.col("lf9"))
        ).alias("lnp"),
    ).localCheckpoint(eager=False)
    obs = pmf.where(F.col("i") == F.col("a")).select(
        F.col("lnp").alias("lnp_obs")
    )
    p2 = (
        pmf.crossJoin(F.broadcast(obs))
        .where(F.col("lnp") <= F.col("lnp_obs") + _math.log(_FISHER_TOL))
        .agg(F.round(F.sum(F.exp("lnp")), 6).alias("p_two_sided"))
    )
    pg = pmf.where(F.col("i") >= F.col("a")).agg(
        F.round(F.sum(F.exp("lnp")), 6).alias("p_greater")
    )
    return (
        cnt.crossJoin(F.broadcast(p2))
        .crossJoin(F.broadcast(pg))
        .select(
            F.col("a").alias("weekend_purchases"),
            F.col("b").alias("weekend_other"),
            F.col("c").alias("weekday_purchases"),
            F.col("d").alias("weekday_other"),
            F.round(
                F.col("a").cast("double")
                * F.col("d")
                / (F.col("b").cast("double") * F.col("c")),
                6,
            ).alias("odds_ratio"),
            "p_two_sided",
            "p_greater",
        )
    )


# ---------------------------------------------------------------------------
# R227: Hoeffding confidence sequence (anytime-valid CI) on purchase rate
# ---------------------------------------------------------------------------

CS_ALPHA = 0.05
CS_POINTS = 10
# ln(2k(k+1)/alpha) for k = 1..10, precomputed so BOTH engines consume
# the identical float literal (union-bound spending schedule
# delta_k = alpha / (k(k+1)))
CS_LNC = {
    k: math.log(2 * k * (k + 1) / CS_ALPHA) for k in range(1, CS_POINTS + 1)
}

_CS_VALUES = ", ".join(
    f"({k}, {CS_LNC[k]!r})" for k in range(1, CS_POINTS + 1)
)

_CS_SQL = f"""
    WITH seq AS (
      SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
               AS rn,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seq),
    ck AS (SELECT * FROM (VALUES {_CS_VALUES}) v(k, lnc)),
    grid AS (
      SELECT ck.k, ck.lnc,
             CAST(floor(nn.n * ck.k / {CS_POINTS}.0) AS BIGINT) AS n_k
      FROM ck CROSS JOIN nn
    ),
    pts AS (
      SELECT g.k, g.n_k, g.lnc,
             CAST(sum(s.x) AS BIGINT) AS k_purchases
      FROM grid g JOIN seq s ON s.rn <= g.n_k
      GROUP BY g.k, g.n_k, g.lnc
    )
    SELECT k, n_k, k_purchases,
           round(CAST(k_purchases AS DOUBLE) / n_k, 6) AS p_hat,
           round(greatest(CAST(k_purchases AS DOUBLE) / n_k
                 - sqrt(lnc / (2 * n_k)), 0.0), 6) AS ci_lo,
           round(least(CAST(k_purchases AS DOUBLE) / n_k
                 + sqrt(lnc / (2 * n_k)), 1.0), 6) AS ci_hi
    FROM pts
"""


@register("hoeffding_confidence_sequence", sql=_CS_SQL)
def hoeffding_confidence_sequence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R227 anytime-valid Hoeffding CONFIDENCE SEQUENCE for the
    purchase rate: at 10 stream checkpoints, the CI
    p̂ ± sqrt(ln(2k(k+1)/α) / 2n) with the union-bound spending
    schedule δ_k = α/(k(k+1)) — valid SIMULTANEOUSLY at every
    checkpoint (Σδ_k < α), which is what lets a monitor peek at the
    stream without inflating error (the always-valid cousin of the
    SPRT, R196). Running counts come from the two-phase global row
    number + one broadcast-grid join; the ln constants are
    precomputed literals identical on both engines."""
    from zoom_spark.operators.prefix import global_row_number

    ev = load_table(spark, sf_dir, "events")
    seq = global_row_number(
        ev.select(
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("x"),
        ),
        ["ts", "event_id"],
        out_col="rn",
    ).select("rn", "x")
    nn = seq.agg(F.count("*").cast("bigint").alias("n"))
    ck = local_frame(
        spark,
        [(k, CS_LNC[k]) for k in range(1, CS_POINTS + 1)], "k bigint, lnc double"
    )
    grid = ck.crossJoin(F.broadcast(nn)).select(
        "k",
        "lnc",
        F.floor(F.col("n") * F.col("k") / float(CS_POINTS))
        .cast("bigint")
        .alias("n_k"),
    )
    pts = (
        seq.crossJoin(F.broadcast(grid))
        .where(F.col("rn") <= F.col("n_k"))
        .groupBy("k", "n_k", "lnc")
        .agg(F.sum("x").cast("bigint").alias("k_purchases"))
    )
    phat = F.col("k_purchases").cast("double") / F.col("n_k")
    hw = F.sqrt(F.col("lnc") / (2 * F.col("n_k")))
    return pts.select(
        "k",
        "n_k",
        "k_purchases",
        F.round(phat, 6).alias("p_hat"),
        F.round(F.greatest(phat - hw, F.lit(0.0)), 6).alias("ci_lo"),
        F.round(F.least(phat + hw, F.lit(1.0)), 6).alias("ci_hi"),
    )
