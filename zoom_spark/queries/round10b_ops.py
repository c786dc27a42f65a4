"""Round-10 second-wave operator additions (R366+, SURVEY.md §2.19).

Families, concept-grepped against the 474-query registry first (the
round-7 lesson — cochran_armitage exists but Cochran's Q does not;
mcnemar exists but its k×k generalization Bowker does not;
jonckheere_terpstra exists but the rank-score Cuzick trend does not;
kpss/variance-ratio exist but the Dickey-Fuller unit-root regression
does not):

- repeated-measures binary: Cochran's Q test
- square-contingency symmetry: Bowker's test (McNemar k×k)
- ordered-group trend in ranks: Cuzick's trend test
- unit roots: augmented Dickey-Fuller (one lag)

Engine-parity discipline (shared with rounds 4-10a): integer-exact
arithmetic wherever inputs quantize once (cent/dollar grids, 2×midrank
grids, indicator sums); raw INTEGER moments kept in BIGINT and cast to
double only at the closed form (identical cast → identical doubles);
per-term 1e-9 snaps before cross-row double sums so the sum is a
BIGINT reduction (order-free); outputs snapped with the shared
round(x, 6) spelling.

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


# ---------------------------------------------------------------------------
# R366 Cochran's Q test — repeated-measures binary across 3 periods
# ---------------------------------------------------------------------------


@register(
    "cochrans_q_yearly_activity",
    sql="""
    WITH y0 AS (
      SELECT CAST(min(year(o_orderdate)) AS BIGINT) AS y0 FROM orders
    ),
    flags AS MATERIALIZED (
      SELECT c.c_custkey,
             CAST(max(CASE WHEN year(o.o_orderdate) = y0.y0
                           THEN 1 ELSE 0 END) AS BIGINT) AS x0,
             CAST(max(CASE WHEN year(o.o_orderdate) = y0.y0 + 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS x1,
             CAST(max(CASE WHEN year(o.o_orderdate) = y0.y0 + 2
                           THEN 1 ELSE 0 END) AS BIGINT) AS x2
      FROM customer c
      CROSS JOIN y0
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_subjects,
             CAST(sum(x0) AS BIGINT) AS c0,
             CAST(sum(x1) AS BIGINT) AS c1,
             CAST(sum(x2) AS BIGINT) AS c2,
             CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS sr2
      FROM flags
    )
    SELECT n_subjects, c0, c1, c2,
           CAST(2 * (3 * (c0*c0 + c1*c1 + c2*c2)
                     - (c0+c1+c2) * (c0+c1+c2)) AS BIGINT) AS q_num,
           CAST(3 * (c0+c1+c2) - sr2 AS BIGINT) AS q_den,
           round(CAST(2 * (3 * (c0*c0 + c1*c1 + c2*c2)
                           - (c0+c1+c2) * (c0+c1+c2)) AS DOUBLE)
                 / CAST(3 * (c0+c1+c2) - sr2 AS DOUBLE), 6) AS q_stat,
           round(exp(-0.5 *
                 CAST(2 * (3 * (c0*c0 + c1*c1 + c2*c2)
                           - (c0+c1+c2) * (c0+c1+c2)) AS DOUBLE)
                 / CAST(3 * (c0+c1+c2) - sr2 AS DOUBLE)), 6) AS p_value
    FROM m
    """,
)
def cochrans_q_yearly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R366 Cochran's Q test (1950) for k=3 related binary treatments:
    subjects are customers, treatment j is "placed ≥1 order in calendar
    year y0+j" (y0 = first year in the data).  Q = (k-1)(kΣC_j² - N²)
    / (kN - ΣR_i²) with C_j column (period) totals, R_i row (subject)
    totals, N total successes — the whole statistic is a ratio of two
    BIGINTs (all-zero and all-one subjects contribute nothing, so
    keeping every customer is harmless and keeps the frame
    join-pruned).  df = k-1 = 2, whose chi-square survival function is
    the CLOSED FORM exp(-Q/2) — no incomplete gamma needed, so the
    p-value is an exp of an exact-operand double.  One groupBy on the
    fact table + one 1-row broadcast (y0): scales as a single
    aggregation pass at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    y0 = orders.agg(
        F.min(F.year("o_orderdate")).cast("long").alias("y0")
    )
    flags = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(
            orders.select("o_custkey", F.year("o_orderdate").alias("yr"))
            .join(F.broadcast(y0))
            .groupBy("o_custkey")
            .agg(
                F.max(F.when(F.col("yr") == F.col("y0"), 1).otherwise(0))
                .cast("long")
                .alias("x0"),
                F.max(F.when(F.col("yr") == F.col("y0") + 1, 1).otherwise(0))
                .cast("long")
                .alias("x1"),
                F.max(F.when(F.col("yr") == F.col("y0") + 2, 1).otherwise(0))
                .cast("long")
                .alias("x2"),
            ),
            on=F.col("c_custkey") == F.col("o_custkey"),
            how="left",
        )
        .select(
            "c_custkey",
            F.coalesce("x0", F.lit(0)).alias("x0"),
            F.coalesce("x1", F.lit(0)).alias("x1"),
            F.coalesce("x2", F.lit(0)).alias("x2"),
        )
    )
    r = F.col("x0") + F.col("x1") + F.col("x2")
    m = flags.agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum("x0").cast("long").alias("c0"),
        F.sum("x1").cast("long").alias("c1"),
        F.sum("x2").cast("long").alias("c2"),
        F.sum(r * r).cast("long").alias("sr2"),
    )
    s = F.col("c0") + F.col("c1") + F.col("c2")
    ssq = (
        F.col("c0") * F.col("c0")
        + F.col("c1") * F.col("c1")
        + F.col("c2") * F.col("c2")
    )
    q_num = (2 * (3 * ssq - s * s)).cast("long")
    q_den = (3 * s - F.col("sr2")).cast("long")
    q = q_num.cast("double") / q_den.cast("double")
    return m.select(
        "n_subjects",
        "c0",
        "c1",
        "c2",
        q_num.alias("q_num"),
        q_den.alias("q_den"),
        F.round(q, 6).alias("q_stat"),
        F.round(F.exp(-0.5 * q), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R367 Bowker's test of symmetry — k×k McNemar on priority transitions
# ---------------------------------------------------------------------------

_PRIO_BUCKET_SQL = """
      CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0
           WHEN o_orderpriority = '3-MEDIUM' THEN 1
           ELSE 2 END
"""


@register(
    "bowker_symmetry_priority",
    sql=f"""
    WITH seq AS MATERIALIZED (
      SELECT o_custkey,
             CAST({_PRIO_BUCKET_SQL} AS BIGINT) AS b,
             lag(CAST({_PRIO_BUCKET_SQL} AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
             ) AS pb
      FROM orders
    ),
    t AS (
      SELECT pb AS i, b AS j, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE pb IS NOT NULL GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.i, a.j,
             a.n AS nij, COALESCE(bb.n, 0) AS nji,
             CAST(floor(1000000000.0 * (a.n - COALESCE(bb.n, 0))
                        * (a.n - COALESCE(bb.n, 0))
                        / (a.n + COALESCE(bb.n, 0))) AS BIGINT) AS term9
      FROM t a LEFT JOIN t bb ON bb.i = a.j AND bb.j = a.i
      WHERE a.i < a.j
    )
    SELECT CAST((SELECT sum(n) FROM t) AS BIGINT) AS n_transitions,
           CAST(max(CASE WHEN i=0 AND j=1 THEN nij END) AS BIGINT) AS n01,
           CAST(max(CASE WHEN i=0 AND j=1 THEN nji END) AS BIGINT) AS n10,
           CAST(max(CASE WHEN i=0 AND j=2 THEN nij END) AS BIGINT) AS n02,
           CAST(max(CASE WHEN i=0 AND j=2 THEN nji END) AS BIGINT) AS n20,
           CAST(max(CASE WHEN i=1 AND j=2 THEN nij END) AS BIGINT) AS n12,
           CAST(max(CASE WHEN i=1 AND j=2 THEN nji END) AS BIGINT) AS n21,
           round(CAST(sum(term9) AS DOUBLE) / 1e9, 6) AS chi2,
           CAST(3 AS BIGINT) AS df
    FROM pairs
    """,
)
def bowker_symmetry_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R367 Bowker (1948) test of symmetry — the k×k generalization of
    McNemar (the registry's mcnemar_paired_classifiers is the 2×2
    case): per customer, consecutive orders (ordered by date with
    orderkey tie-break) form transitions between 3 priority buckets
    (urgent/high, medium, notspec/low); H0 is n_ij = n_ji for the 3×3
    transition table.  chi2 = Σ_{{i<j}} (n_ij-n_ji)²/(n_ij+n_ji) with
    df = k(k-1)/2 = 3.  Each of the 3 pair terms is snapped to the
    1e-9 grid BEFORE the cross-pair sum (the round-10 Hellinger
    per-term-snap pattern), so the sum is a 3-row BIGINT reduction and
    engine summation order cannot matter.  One window + one groupBy on
    orders — a single shuffle on o_custkey at 100 TB."""
    bucket = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(2)
        .cast("long")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", bucket.alias("b"))
        .withColumn("pb", F.lag("b").over(w))
        .where(F.col("pb").isNotNull())
    )
    t = seq.groupBy(F.col("pb").alias("i"), F.col("b").alias("j")).agg(
        F.count("*").cast("long").alias("n")
    )
    a = t.alias("a")
    b = t.select(
        F.col("i").alias("ri"), F.col("j").alias("rj"), F.col("n").alias("rn")
    )
    pairs = (
        a.where(F.col("i") < F.col("j"))
        .join(
            F.broadcast(b),
            (F.col("ri") == F.col("j")) & (F.col("rj") == F.col("i")),
            "left",
        )
        .select(
            "i",
            "j",
            F.col("n").alias("nij"),
            F.coalesce("rn", F.lit(0)).cast("long").alias("nji"),
        )
        .withColumn(
            "term9",
            F.floor(
                1e9
                * (F.col("nij") - F.col("nji"))
                * (F.col("nij") - F.col("nji"))
                / (F.col("nij") + F.col("nji"))
            ).cast("long"),
        )
    )
    total = t.agg(F.sum("n").cast("long").alias("n_transitions"))

    def pick(i: int, j: int, col: str):
        return F.max(
            F.when((F.col("i") == i) & (F.col("j") == j), F.col(col))
        ).cast("long")

    return pairs.join(F.broadcast(total)).agg(
        F.max("n_transitions").cast("long").alias("n_transitions"),
        pick(0, 1, "nij").alias("n01"),
        pick(0, 1, "nji").alias("n10"),
        pick(0, 2, "nij").alias("n02"),
        pick(0, 2, "nji").alias("n20"),
        pick(1, 2, "nij").alias("n12"),
        pick(1, 2, "nji").alias("n21"),
        F.round(F.sum("term9").cast("double") / 1e9, 6).alias("chi2"),
        F.lit(3).cast("long").alias("df"),
    )


# ---------------------------------------------------------------------------
# R368 Cuzick's trend test — rank trend across ordered priority groups
# ---------------------------------------------------------------------------


@register(
    "cuzick_trend_priority_price",
    sql="""
    WITH obs AS MATERIALIZED (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS l,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    ranked AS MATERIALIZED (
      SELECT l, cents,
             CAST(2 * rank() OVER (ORDER BY cents)
                  + count(*) OVER (PARTITION BY cents) - 1
                  AS BIGINT) AS r2
      FROM obs
    ),
    ties AS (
      SELECT CAST(sum(t*t*t - t) AS BIGINT) AS tie3 FROM (
        SELECT CAST(count(*) AS BIGINT) AS t FROM obs GROUP BY cents
      )
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l * r2) AS BIGINT) AS t2,
             CAST(sum(l) AS BIGINT) AS sl,
             CAST(sum(l * l) AS BIGINT) AS sl2
      FROM ranked
    )
    SELECT m.n, m.t2,
           CAST((m.n + 1) * m.sl AS BIGINT) AS e2,
           round((CAST(m.t2 AS DOUBLE) - CAST((m.n + 1) * m.sl AS DOUBLE))
                 / (2.0 * sqrt(
                     CAST(m.n * m.sl2 - m.sl * m.sl AS DOUBLE)
                     * (CAST(m.n + 1 AS DOUBLE) / 12.0)
                     * (1.0 - CAST(ties.tie3 AS DOUBLE)
                        / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n)))), 6)
             AS z_stat
    FROM m, ties
    """,
)
def cuzick_trend_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R368 Cuzick (1985) nonparametric trend test across ordered
    groups — the rank-score companion to the registry's
    jonckheere_terpstra (JT counts pairwise exceedances; Cuzick is the
    Wilcoxon-style linear-rank form): groups are the 5 ordered order
    priorities with scores l = 1..5, observations are order totals on
    the exact cent grid, midranked globally.  T = Σ l_i·rank_i;
    E[T] = (N+1)·Σl/2; Var[T] = (N+1)/12·(NΣl² - (Σl)²)·tie_corr.
    The engine carries 2×midrank (= 2·rank + ties - 1, an INTEGER) so
    T2 = 2T and E2 = 2E are exact BIGINTs; z = (T2-E2)/(2·sqrt(Var))
    is one exact-operand double.  Scale shape (the MWU discipline,
    rank_stats.py:126): rows collapse to per-(cents, l) counts in one
    hash aggregate; the global midrank comes from the TWO-PHASE
    distributed prefix scan over the distinct-value frame (never an
    unpartitioned window over raw rows — that single-task sort is
    what dies at 100 TB); T2 = Σ c_{{v,l}}·l·r2(v) is one more
    aggregate."""
    from zoom_spark.operators.prefix import prefix_sum

    obs = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("l"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cell = obs.groupBy("cents", "l").agg(
        F.count("*").cast("long").alias("c")
    )
    per_v = cell.groupBy("cents").agg(F.sum("c").cast("long").alias("t"))
    # inclusive running count in cents order -> r2(v) = 2*(cum-t)+t+1
    cum = prefix_sum(per_v, "cents", "t", out_col="cum").select(
        "cents",
        "t",
        (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1)
        .cast("long")
        .alias("r2"),
    )
    ties = per_v.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3")
    )
    m = cell.join(cum.select("cents", "r2"), on="cents").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("l") * F.col("r2"))
        .cast("long")
        .alias("t2"),
        F.sum(F.col("c") * F.col("l")).cast("long").alias("sl"),
        F.sum(F.col("c") * F.col("l") * F.col("l"))
        .cast("long")
        .alias("sl2"),
    )
    n = F.col("n").cast("double")
    e2 = ((F.col("n") + 1) * F.col("sl")).cast("long")
    var_core = (
        (F.col("n") * F.col("sl2") - F.col("sl") * F.col("sl")).cast("double")
        * ((F.col("n") + 1).cast("double") / 12.0)
        * (
            1.0
            - F.col("tie3").cast("double") / (n * n * n - n)
        )
    )
    return m.join(F.broadcast(ties)).select(
        "n",
        "t2",
        e2.alias("e2"),
        F.round(
            (F.col("t2").cast("double") - e2.cast("double"))
            / (2.0 * F.sqrt(var_core)),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# R369 augmented Dickey-Fuller unit-root test (one lag) on daily revenue
# ---------------------------------------------------------------------------

_ADF_SERIES_SQL = """
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CAST(row_number() OVER (ORDER BY CAST(o_orderdate AS DATE))
                  AS BIGINT) AS t
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
"""


@register(
    "adf_unit_root_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    reg AS MATERIALIZED (
      SELECT cur.y - p1.y AS dy,
             p1.y AS ylag,
             p1.y - p2.y AS dylag
      FROM d cur
      JOIN d p1 ON p1.t = cur.t - 1
      JOIN d p2 ON p2.t = cur.t - 2
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ylag) AS BIGINT) AS sx1,
             CAST(sum(dylag) AS BIGINT) AS sx2,
             CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(ylag * ylag) AS BIGINT) AS s11,
             CAST(sum(ylag * dylag) AS BIGINT) AS s12,
             CAST(sum(dylag * dylag) AS BIGINT) AS s22,
             CAST(sum(ylag * dy) AS BIGINT) AS s1y,
             CAST(sum(dylag * dy) AS BIGINT) AS s2y,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM reg
    ),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * s11 - CAST(sx1 AS DOUBLE) * sx1 AS a11,
             CAST(n AS DOUBLE) * s12 - CAST(sx1 AS DOUBLE) * sx2 AS a12,
             CAST(n AS DOUBLE) * s22 - CAST(sx2 AS DOUBLE) * sx2 AS a22,
             CAST(n AS DOUBLE) * s1y - CAST(sx1 AS DOUBLE) * sy AS b1,
             CAST(n AS DOUBLE) * s2y - CAST(sx2 AS DOUBLE) * sy AS b2,
             CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy_c,
             CAST(sx1 AS DOUBLE) / n AS mx1,
             CAST(sx2 AS DOUBLE) / n AS mx2,
             CAST(sy AS DOUBLE) / n AS my
      FROM m
    ),
    fit AS (
      SELECT n, mx1, mx2, my, syy_c, a11, a12, a22, b1, b2,
             (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS rho,
             (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS phi
      FROM c
    )
    SELECT n AS n_obs,
           round(rho, 6) AS rho,
           round(phi, 6) AS phi,
           round(my - rho * mx1 - phi * mx2, 2) AS const,
           round(rho / sqrt(
             ((syy_c - (rho * b1 + phi * b2) / n) / (n - 3))
             * n * a22 / (a11 * a22 - a12 * a12)), 6) AS adf_t
    FROM fit
    """,
)
def adf_unit_root_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R369 augmented Dickey-Fuller unit-root test, one augmentation
    lag: Δy_t = c + ρ·y_{{t-1}} + φ·Δy_{{t-1}} + ε over the daily
    revenue series (exact whole-dollar grid, floor(cents/100), the
    chow_break_daily spelling).  The registry has stationarity tests
    AROUND this (kpss_level_revenue tests the level-stationary null,
    variance_ratio_test_revenue the random-walk null) but not the DF
    regression itself.  ADF t = ρ̂/se(ρ̂) with the 2-regressor normal
    equations solved in CLOSED FORM (Cramer on centered BIGINT
    moments; se from the (X'X)⁻¹ diagonal cofactor) — every input to
    every double op is an exact BIGINT, so both engines compute
    bit-identical doubles.  Two self-joins on the day index (calendar-
    bounded frame) + one aggregate; the fact-table pass is a single
    groupBy at 100 TB."""
    daily = (
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .select("y", "t")
    )
    cur = daily.select(F.col("t").alias("tc"), F.col("y").alias("yc"))
    p1 = daily.select(F.col("t").alias("t1"), F.col("y").alias("y1"))
    p2 = daily.select(F.col("t").alias("t2x"), F.col("y").alias("y2"))
    reg = (
        cur.join(p1, F.col("t1") == F.col("tc") - 1)
        .join(p2, F.col("t2x") == F.col("tc") - 2)
        .select(
            (F.col("yc") - F.col("y1")).alias("dy"),
            F.col("y1").alias("ylag"),
            (F.col("y1") - F.col("y2")).alias("dylag"),
        )
    )
    m = reg.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ylag").cast("long").alias("sx1"),
        F.sum("dylag").cast("long").alias("sx2"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("ylag") * F.col("ylag")).cast("long").alias("s11"),
        F.sum(F.col("ylag") * F.col("dylag")).cast("long").alias("s12"),
        F.sum(F.col("dylag") * F.col("dylag")).cast("long").alias("s22"),
        F.sum(F.col("ylag") * F.col("dy")).cast("long").alias("s1y"),
        F.sum(F.col("dylag") * F.col("dy")).cast("long").alias("s2y"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("s11") - F.col("sx1").cast("double") * F.col("sx1")
    a12 = nd * F.col("s12") - F.col("sx1").cast("double") * F.col("sx2")
    a22 = nd * F.col("s22") - F.col("sx2").cast("double") * F.col("sx2")
    b1 = nd * F.col("s1y") - F.col("sx1").cast("double") * F.col("sy")
    b2 = nd * F.col("s2y") - F.col("sx2").cast("double") * F.col("sy")
    det = a11 * a22 - a12 * a12
    rho = (b1 * a22 - b2 * a12) / det
    phi = (b2 * a11 - b1 * a12) / det
    syy_c = F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy") / nd
    mx1 = F.col("sx1").cast("double") / nd
    mx2 = F.col("sx2").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    s2 = (syy_c - (rho * b1 + phi * b2) / nd) / (nd - 3)
    se_rho = F.sqrt(s2 * nd * a22 / det)
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(rho, 6).alias("rho"),
        F.round(phi, 6).alias("phi"),
        F.round(my - rho * mx1 - phi * mx2, 2).alias("const"),
        F.round(rho / se_rho, 6).alias("adf_t"),
    )


# ---------------------------------------------------------------------------
# R370 synchronous label propagation communities over the co-purchase graph
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4
_LPA_MIN_SUPPORT = 2

# unweighted co-purchase adjacency (the adamic_adar edge set)
_COPURCHASE_NBR_SQL = """
    pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nbr AS MATERIALIZED (
      SELECT u AS z, v AS x FROM pairs UNION ALL SELECT v, u FROM pairs
    )
"""

# support-thresholded adjacency: pairs co-purchased in >= _LPA_MIN_SUPPORT
# distinct orders (the market-basket min-support sparsification)
_LPA_EDGES_SQL = f"""
    pairs AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_LPA_MIN_SUPPORT}
    ),
    nbr AS MATERIALIZED (
      SELECT u AS z, v AS x FROM pairs UNION ALL SELECT v, u FROM pairs
    )
"""


def _lpa_oracle_sql() -> str:
    """Unrolled synchronous-LPA oracle: _LPA_ROUNDS rounds as chained
    MATERIALIZED CTEs (the pagerank/katz unroll pattern — DuckDB
    inlines plain CTEs and each round references the previous twice).
    Each round takes, per node, the most frequent neighbor label with
    ties broken toward the SMALLEST label — fully deterministic, no
    float anywhere."""
    parts = [f"WITH {_LPA_EDGES_SQL},"]
    parts.append(
        "l0 AS MATERIALIZED (SELECT DISTINCT z AS node, z AS lab FROM nbr)"
    )
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(
            f""",
    c{r} AS MATERIALIZED (
      SELECT nbr.x AS node, {prev}.lab AS lab,
             CAST(count(*) AS BIGINT) AS cnt
      FROM nbr JOIN {prev} ON {prev}.node = nbr.z
      GROUP BY 1, 2
    ),
    l{r} AS MATERIALIZED (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, lab
               ) AS rn
        FROM c{r}
      ) WHERE rn = 1
    )"""
        )
        prev = f"l{r}"
    parts.append(
        f"""
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS size,
           CAST(min(node) AS BIGINT) AS min_node
    FROM {prev} GROUP BY lab
    """
    )
    return "".join(parts)


@register("label_propagation_copurchase", sql=_lpa_oracle_sql())
def label_propagation_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R370 synchronous label propagation (Raghavan 2007) over the
    co-purchase graph, _LPA_ROUNDS fixed rounds: every node starts as
    its own label; each round it adopts the most frequent label among
    its neighbors, ties toward the smallest label (the deterministic
    variant — classic LPA breaks ties randomly, which can never
    cross-engine hash).  Complements the registry's modularity-greedy
    louvain_moves_copurchase: LPA is the label-message twin (no
    modularity objective, pure plurality dynamics).  The graph is the
    min-support sparsification (pairs co-purchased in >=
    _LPA_MIN_SUPPORT distinct orders — the market-basket support
    notion): on the raw support-1 graph LPA degenerates to one giant
    community at every SF (verified), while support-2 yields a real
    community structure (349 communities at sf0.01).  Per round: ONE
    shuffle (groupBy node,label) + a per-node window top-1 — the same
    message-passing shape as pagerank_parts, linear in edges per
    round at 100 TB; lineage is truncated per round with a lazy
    localCheckpoint.  Output is the community histogram (label, size,
    min member) — model-sized."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a_, b_ = li.alias("a"), li.alias("b")
    e = (
        a_.join(b_, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count("*").alias("supp"))
        .where(F.col("supp") >= _LPA_MIN_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    nbr = (
        e.select(F.col("u").alias("z"), F.col("v").alias("x"))
        .unionAll(e.select(F.col("v").alias("z"), F.col("u").alias("x")))
        .localCheckpoint(eager=False)
    )
    lab = nbr.select(F.col("z").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lab"))
    for _ in range(_LPA_ROUNDS):
        msgs = nbr.join(
            lab.withColumnRenamed("node", "z"), on="z"
        ).select(F.col("x").alias("node"), "lab")
        cnt = msgs.groupBy("node", "lab").agg(
            F.count("*").cast("long").alias("cnt")
        )
        lab = (
            cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lab")
            .localCheckpoint(eager=False)
        )
    return lab.groupBy(F.col("lab").alias("community")).agg(
        F.count("*").cast("long").alias("size"),
        F.min("node").cast("long").alias("min_node"),
    )


# ---------------------------------------------------------------------------
# R371 classic link-prediction index panel (CN / Jaccard / PA / RA)
# ---------------------------------------------------------------------------

_LP_TOPK = 50
_LP_QUERY_PREFIX = "1"  # disjoint from adamic_adar's "0" query set


@register(
    "link_prediction_panel",
    sql=f"""
    WITH {_COPURCHASE_NBR_SQL},
    deg AS MATERIALIZED (
      SELECT z, CAST(count(*) AS BIGINT) AS d FROM nbr GROUP BY z
    ),
    q AS (
      SELECT DISTINCT x FROM nbr
      WHERE substring(md5(CAST(x AS VARCHAR)), 1, 1) = '{_LP_QUERY_PREFIX}'
        AND substring(md5(CAST(x AS VARCHAR)), 2, 1) < '4'
    ),
    wedges AS (
      SELECT e1.x AS a, e2.x AS b, deg.d AS dz
      FROM nbr e1
      JOIN q ON q.x = e1.x
      JOIN nbr e2 ON e1.z = e2.z AND e1.x <> e2.x
      JOIN deg ON deg.z = e1.z
    ),
    scored AS (
      SELECT a, b,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(CAST(floor(1000000000 / dz) AS BIGINT)) AS BIGINT)
               AS ra9
      FROM wedges GROUP BY a, b
    ),
    non_edges AS (
      SELECT s.* FROM scored s
      LEFT JOIN nbr e ON s.a = e.z AND s.b = e.x
      WHERE e.z IS NULL
    )
    SELECT n.a, n.b, n.cn,
           round(CAST(n.cn AS DOUBLE)
                 / CAST(da.d + db.d - n.cn AS DOUBLE), 6) AS jaccard,
           CAST(da.d * db.d AS BIGINT) AS pref_attach,
           round(CAST(n.ra9 AS DOUBLE) / 1e9, 6) AS resource_alloc
    FROM non_edges n
    JOIN deg da ON da.z = n.a
    JOIN deg db ON db.z = n.b
    ORDER BY n.cn DESC, n.a, n.b LIMIT {_LP_TOPK}
    """,
)
def link_prediction_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R371 the four classic link-prediction indices (Liben-Nowell &
    Kleinberg 2003) that adamic_adar_link_prediction does NOT cover:
    common neighbors |Γa∩Γb|, Jaccard |Γa∩Γb|/|Γa∪Γb|, preferential
    attachment |Γa|·|Γb|, and resource allocation Σ 1/deg(z) — over
    the co-purchase graph for a deterministic md5 query set (prefix
    '1*', disjoint from AA's '0*' set; same production rationale:
    candidate scoring is for a query cohort, never all |V|²).  Exact-
    ness: CN and PA are pure BIGINTs; Jaccard is one exact-operand
    division; RA sums per-wedge floor(1e9/deg) INTEGERS (the per-term
    snap pattern), so no float crosses a row boundary — unlike AA
    whose 1/ln(d) terms are inherently transcendental.  Wedge
    enumeration is the bounded equi-join on the wedge center; work is
    Σ_{{z}} deg_Q(z)·deg(z), linear in the query set at 100 TB."""
    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    e = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    nbr = (
        e.select(F.col("u").alias("z"), F.col("v").alias("x"))
        .unionAll(e.select(F.col("v").alias("z"), F.col("u").alias("x")))
        .localCheckpoint(eager=False)
    )
    deg = nbr.groupBy("z").agg(F.count("*").cast("long").alias("d"))
    md5c = F.md5(F.col("x").cast("string"))
    q = (
        nbr.select("x")
        .where(
            (F.substring(md5c, 1, 1) == _LP_QUERY_PREFIX)
            & (F.substring(md5c, 2, 1) < "4")
        )
        .distinct()
    )
    e1 = nbr.join(q, on="x").select("z", F.col("x").alias("a"))
    e2 = nbr.select("z", F.col("x").alias("b"))
    wedges = (
        e1.join(e2, on="z")
        .where(F.col("a") != F.col("b"))
        .join(deg, on="z")
        .select("a", "b", F.col("d").alias("dz"))
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("cn"),
        F.sum(F.floor(F.lit(1000000000) / F.col("dz")).cast("long"))
        .cast("long")
        .alias("ra9"),
    )
    adj = nbr.select(F.col("z").alias("a"), F.col("x").alias("b"))
    non_edges = scored.join(adj, on=["a", "b"], how="left_anti")
    da = deg.select(F.col("z").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("z").alias("b"), F.col("d").alias("db"))
    return (
        non_edges.join(da, on="a")
        .join(db, on="b")
        .select(
            "a",
            "b",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
            (F.col("da") * F.col("db")).cast("long").alias("pref_attach"),
            F.round(F.col("ra9").cast("double") / 1e9, 6).alias(
                "resource_alloc"
            ),
        )
        .orderBy(F.col("cn").desc(), "a", "b")
        .limit(_LP_TOPK)
    )


# ---------------------------------------------------------------------------
# R372 expected reciprocal rank (ERR) — cascade-model ranking metric
# ---------------------------------------------------------------------------

_ERR_DEPTH = 15


@register(
    "err_ranking_segments",
    sql=f"""
    WITH RECURSIVE spend AS MATERIALIZED (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ranked AS MATERIALIZED (
      SELECT segment, r, g FROM (
        SELECT segment,
               CAST(row_number() OVER (
                 PARTITION BY segment ORDER BY cents DESC, c_custkey
               ) AS BIGINT) AS r,
               CAST(least(4, n_orders // 4) AS BIGINT) AS g
        FROM spend
      ) WHERE r <= {_ERR_DEPTH}
    ),
    fold AS (
      SELECT segment, r,
             CAST(17 - (1 << g) AS BIGINT) AS prod,
             CAST(floor(CAST((1 << g) - 1 AS DOUBLE) / 16.0 * 1e9 + 0.5)
                  AS BIGINT) AS err9
      FROM ranked WHERE r = 1
      UNION ALL
      SELECT nxt.segment, nxt.r,
             CAST(f.prod * (17 - (1 << nxt.g)) AS BIGINT) AS prod,
             CAST(f.err9 + floor(
               CAST(((1 << nxt.g) - 1) * f.prod AS DOUBLE)
               / (CAST(nxt.r AS DOUBLE) * power(16.0, nxt.r))
               * 1e9 + 0.5) AS BIGINT) AS err9
      FROM fold f
      JOIN ranked nxt ON nxt.segment = f.segment AND nxt.r = f.r + 1
    )
    SELECT segment, CAST(max(r) AS BIGINT) AS n_ranked,
           round(CAST(max_by(err9, r) AS DOUBLE) / 1e9, 6) AS err
    FROM fold GROUP BY segment
    """,
)
def err_ranking_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R372 expected reciprocal rank (Chapelle 2009), the cascade-model
    ranking metric the registry's mrr/ndcg/average-precision family
    does not cover (MRR is ERR's binary special case; NDCG has no
    cascade): per market segment, customers ranked by exact-cent spend
    (custkey tie-break) to depth 15, graded g = min(4, n_orders/4);
    ERR = Σ_r (1/r)·R_r·Π_{{i<r}}(1-R_i) with R = (2^g-1)/16.
    Exactness: R's denominator is 16, so the survival product
    Π(17-2^g)/16^(r-1) has an exact BIGINT numerator (≤16^14 < 2^63 at
    depth 15 — the depth is chosen BY the overflow bound) and a
    power-of-two denominator that is exact in ANY IEEE double; each
    rank's term is one exact-operand division snapped to the 1e-9 grid
    before the cross-rank sum.  The engine folds the 15-element
    per-segment array with F.aggregate (sequential, deterministic);
    the oracle replays the identical fold as a recursive CTE.  One
    groupBy + one per-segment top-15 window: a single shuffle at
    100 TB."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(
            F.sum("cents").cast("long").alias("cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("cents").desc(), F.col("c_custkey")
    )
    ranked = (
        spend.withColumn("r", F.row_number().over(w).cast("long"))
        .where(F.col("r") <= _ERR_DEPTH)
        .select(
            "segment",
            "r",
            F.least(F.lit(4), F.floor(F.col("n_orders") / 4))
            .cast("long")
            .alias("g"),
        )
    )
    arr = ranked.groupBy("segment").agg(
        F.array_sort(F.collect_list(F.struct("r", "g"))).alias("xs"),
        F.count("*").cast("long").alias("n_ranked"),
    )
    init = F.struct(
        F.lit(1).cast("long").alias("prod"),
        F.lit(0).cast("long").alias("err9"),
    )
    # 2^g for g in 0..4 (power-of-two doubles are exact; cast is exact)
    gain = lambda x: F.pow(F.lit(2.0), x["g"].cast("double")).cast(  # noqa: E731
        "long"
    )
    fold = F.aggregate(
        F.col("xs"),
        init,
        lambda acc, x: F.struct(
            (acc["prod"] * (F.lit(17) - gain(x))).cast("long").alias("prod"),
            (
                acc["err9"]
                + F.floor(
                    ((gain(x) - 1) * acc["prod"]).cast("double")
                    / (
                        x["r"].cast("double")
                        * F.pow(F.lit(16.0), x["r"].cast("double"))
                    )
                    * 1e9
                    + 0.5
                ).cast("long")
            ).alias("err9"),
        ),
    )
    return arr.select(
        "segment",
        "n_ranked",
        F.round(fold["err9"].cast("double") / 1e9, 6).alias("err"),
    )


# ---------------------------------------------------------------------------
# R373 rank-biased overlap (RBO) between two nation rankings
# ---------------------------------------------------------------------------

_RBO_DEPTH = 20


@register(
    "rbo_nation_rankings",
    sql=f"""
    WITH per_nation AS MATERIALIZED (
      SELECT n.n_nationkey AS nation,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM nation n
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    both_ranks AS MATERIALIZED (
      SELECT nation,
             CAST(row_number() OVER (ORDER BY cents DESC, nation)
                  AS BIGINT) AS ra,
             CAST(row_number() OVER (ORDER BY n_orders DESC, nation)
                  AS BIGINT) AS rb
      FROM per_nation
    ),
    ovl AS (
      SELECT d.d,
             CAST(count(*) FILTER (
               WHERE greatest(br.ra, br.rb) <= d.d) AS BIGINT) AS xd
      FROM (SELECT CAST(range AS BIGINT) AS d
            FROM range(1, {_RBO_DEPTH} + 1)) d
      CROSS JOIN both_ranks br
      GROUP BY d.d
    ),
    terms AS (
      SELECT d, xd,
             CAST(floor(CAST(xd AS DOUBLE)
                        / (CAST(d AS DOUBLE) * power(2.0, d))
                        * 1e9 + 0.5) AS BIGINT) AS t9
      FROM ovl
    )
    SELECT CAST((SELECT count(*) FROM per_nation) AS BIGINT) AS n_items,
           CAST(max(CASE WHEN d = 10 THEN xd END) AS BIGINT) AS x10,
           CAST(max(CASE WHEN d = {_RBO_DEPTH} THEN xd END) AS BIGINT)
             AS x20,
           round(CAST(sum(t9) AS DOUBLE) / 1e9, 6) AS rbo
    FROM terms
    """,
)
def rbo_nation_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R373 rank-biased overlap (Webber 2010) with persistence p = 1/2
    to depth 20, between the nation-by-revenue and nation-by-order-
    count rankings — the top-weighted ranking-agreement measure the
    registry's kendall_tau_topk / nation_rank_stability (footrule,
    Spearman) family lacks (those weight all ranks equally; RBO
    geometrically discounts depth, the standard IR comparison).
    RBO_d = (1-p)·Σ p^(d-1)·X_d/d = Σ X_d/(d·2^d) at p=1/2: overlap
    counts X_d are pure integers (X_d = #{{items: max(ra,rb) ≤ d}}),
    2^d is exact in any double, so each depth term is one exact-
    operand division snapped at 1e-9 before the 20-row BIGINT sum.
    Two 25-row window ranks + a 20×25 broadcast grid join: driver-
    bounded, scan-dominated at 100 TB."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per_nation = (
        n.join(c, n.n_nationkey == c.c_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .groupBy(F.col("n_nationkey").alias("nation"))
        .agg(
            F.sum("cents").cast("long").alias("cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )
    both = per_nation.select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), "nation"))
        .cast("long")
        .alias("ra"),
        F.row_number()
        .over(Window.orderBy(F.col("n_orders").desc(), "nation"))
        .cast("long")
        .alias("rb"),
    )
    grid = spark.range(1, _RBO_DEPTH + 1).select(
        F.col("id").cast("long").alias("d")
    )
    overlaps = (
        grid.crossJoin(F.broadcast(both))
        .groupBy("d")
        .agg(
            F.sum(
                F.when(
                    F.greatest("ra", "rb") <= F.col("d"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("xd")
        )
    )
    terms = overlaps.select(
        "d",
        "xd",
        F.floor(
            F.col("xd").cast("double")
            / (F.col("d").cast("double") * F.pow(F.lit(2.0), F.col("d")))
            * 1e9
            + 0.5
        )
        .cast("long")
        .alias("t9"),
    )
    n_items = per_nation.agg(F.count("*").cast("long").alias("n_items"))
    return terms.join(F.broadcast(n_items)).agg(
        F.max("n_items").cast("long").alias("n_items"),
        F.max(F.when(F.col("d") == 10, F.col("xd"))).cast("long").alias(
            "x10"
        ),
        F.max(F.when(F.col("d") == _RBO_DEPTH, F.col("xd")))
        .cast("long")
        .alias("x20"),
        F.round(F.sum("t9").cast("double") / 1e9, 6).alias("rbo"),
    )


# ---------------------------------------------------------------------------
# R374 corpus frequency-spectrum richness (Yule / Simpson / Sichel / Honoré)
# ---------------------------------------------------------------------------


@register(
    "corpus_richness_spectrum",
    sql=r"""
    WITH tok AS MATERIALIZED (
      SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                                                   '\s+'),
                    t -> t <> '')) AS token
      FROM documents
    ),
    freq AS MATERIALIZED (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
    ),
    m AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(sum(n * n) AS BIGINT) AS s2,
             CAST(sum(n * (n - 1)) AS BIGINT) AS pair2
      FROM freq
    )
    SELECT big_n AS n_tokens, v AS n_types, v1, v2,
           round(10000.0 * CAST(s2 - big_n AS DOUBLE)
                 / (CAST(big_n AS DOUBLE) * big_n), 6) AS yules_k,
           round(CAST(pair2 AS DOUBLE)
                 / (CAST(big_n AS DOUBLE) * (big_n - 1)), 6) AS simpson_d,
           round(CAST(v2 AS DOUBLE) / v, 6) AS sichel_s,
           round(100.0 * ln(CAST(big_n AS DOUBLE))
                 / (1.0 - CAST(v1 AS DOUBLE) / v), 6) AS honore_r
    FROM m
    """,
)
def corpus_richness_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R374 corpus-level vocabulary-richness panel from the token
    frequency spectrum — Yule's K = 10⁴(Σn²-N)/N², Simpson's
    repeat-rate D = Σn(n-1)/(N(N-1)), Sichel's S = V₂/V, Honoré's
    R = 100·lnN/(1-V₁/V).  Complements the registry's PER-DOCUMENT
    diversity (lexical_diversity_docs: TTR/Herdan) and the V₁/N
    unseen-mass estimate (good_turing_unseen_mass): these four are the
    corpus-wide spectrum statistics (authorship / corpus-drift
    fingerprints).  Every numerator and denominator is a BIGINT
    spectrum moment (K and D are exact rationals; Honoré's ln is one
    exact-operand transcendental).  One explode + two aggregations —
    the token frequency table is the same shuffle any vocabulary
    build needs at 100 TB."""
    from zoom_spark.functions.text import ws_tokens

    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(ws_tokens(F.lower(F.trim(F.col("text"))))).alias(
                "token"
            )
        )
    )
    freq = tok.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    m = freq.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.count("*").cast("long").alias("v"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("v1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
        .cast("long")
        .alias("v2"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("pair2"),
    )
    nn = F.col("big_n").cast("double")
    return m.select(
        F.col("big_n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        "v1",
        "v2",
        F.round(
            10000.0 * (F.col("s2") - F.col("big_n")).cast("double") / (nn * nn),
            6,
        ).alias("yules_k"),
        F.round(
            F.col("pair2").cast("double") / (nn * (F.col("big_n") - 1)), 6
        ).alias("simpson_d"),
        F.round(F.col("v2").cast("double") / F.col("v"), 6).alias("sichel_s"),
        F.round(
            100.0
            * F.log(nn)
            / (1.0 - F.col("v1").cast("double") / F.col("v")),
            6,
        ).alias("honore_r"),
    )


# ---------------------------------------------------------------------------
# R375 inequality panel extras: Hoover index, Palma ratio, tail shares
# ---------------------------------------------------------------------------


@register(
    "hoover_palma_spend",
    sql="""
    WITH spend AS MATERIALIZED (
      SELECT c.c_custkey,
             CAST(COALESCE(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                                    AS BIGINT)), 0) AS BIGINT) AS cents
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
      FROM spend
    ),
    ranked AS MATERIALIZED (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, c_custkey)
                  AS BIGINT) AS r
      FROM spend
    ),
    agg AS (
      SELECT
        CAST(sum(abs(tot.n * ranked.cents - tot.s)) AS BIGINT) AS dev,
        CAST(sum(CASE WHEN ranked.r <= tot.n * 4 // 10
                      THEN ranked.cents ELSE 0 END) AS BIGINT) AS bot40,
        CAST(sum(CASE WHEN ranked.r > tot.n - tot.n // 10
                      THEN ranked.cents ELSE 0 END) AS BIGINT) AS top10,
        CAST(sum(CASE WHEN ranked.r > tot.n - tot.n // 100
                      THEN ranked.cents ELSE 0 END) AS BIGINT) AS top1
      FROM ranked CROSS JOIN tot
    )
    SELECT tot.n AS n_customers,
           round(CAST(agg.dev AS DOUBLE) / (2.0 * tot.n * tot.s), 6)
             AS hoover,
           round(CAST(agg.top10 AS DOUBLE) / agg.bot40, 6) AS palma,
           round(CAST(agg.top10 AS DOUBLE) / tot.s, 6) AS top10_share,
           round(CAST(agg.bot40 AS DOUBLE) / tot.s, 6) AS bottom40_share,
           round(CAST(agg.top1 AS DOUBLE) / tot.s, 6) AS top1_share
    FROM agg CROSS JOIN tot
    """,
)
def hoover_palma_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R375 inequality panel over customer spend (exact cents; never-
    ordered customers enter at 0) — the three standard measures the
    registry's gini/atkinson/theil/lorenz family does not include:
    Hoover (Robin Hood) index Σ|x-μ|/(2Σx) — spelled Σ|N·x_i - S| /
    (2NS) so the deviation sum is a PURE BIGINT (no float mean) —
    Palma ratio (top-10% share / bottom-40% share, rank cutoffs
    floor(N/10)/floor(4N/10) with custkey tie-break), and the
    top-1%/top-10%/bottom-40% shares themselves.  All sums are
    BIGINT cent totals; the only doubles are the final ratios.  Scale
    shape: the global rank comes from the TWO-PHASE prefix scan
    (operators/prefix.py — range shuffle + P-row offsets), never an
    unpartitioned window over the customer frame."""
    from zoom_spark.operators.prefix import prefix_sum

    spend = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("c"),
            ),
            on=F.col("c_custkey") == F.col("o_custkey"),
            how="left",
        )
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("cents"))
    )
    tot = spend.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    ranked = prefix_sum(
        spend.withColumn("one", F.lit(1)),
        ["cents", "c_custkey"],
        "one",
        out_col="r",
    ).select("cents", F.col("r").cast("long").alias("r"))
    j = ranked.join(F.broadcast(tot))
    agg = j.agg(
        F.sum(F.abs(F.col("n") * F.col("cents") - F.col("s")))
        .cast("long")
        .alias("dev"),
        F.sum(
            F.when(
                F.col("r") <= F.floor(F.col("n") * 4 / 10), F.col("cents")
            ).otherwise(0)
        )
        .cast("long")
        .alias("bot40"),
        F.sum(
            F.when(
                F.col("r") > F.col("n") - F.floor(F.col("n") / 10),
                F.col("cents"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("top10"),
        F.sum(
            F.when(
                F.col("r") > F.col("n") - F.floor(F.col("n") / 100),
                F.col("cents"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("top1"),
        F.max("n").cast("long").alias("n"),
        F.max("s").cast("long").alias("s"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(
            F.col("dev").cast("double")
            / (2.0 * F.col("n").cast("double") * F.col("s").cast("double")),
            6,
        ).alias("hoover"),
        F.round(F.col("top10").cast("double") / F.col("bot40"), 6).alias(
            "palma"
        ),
        F.round(F.col("top10").cast("double") / F.col("s"), 6).alias(
            "top10_share"
        ),
        F.round(F.col("bot40").cast("double") / F.col("s"), 6).alias(
            "bottom40_share"
        ),
        F.round(F.col("top1").cast("double") / F.col("s"), 6).alias(
            "top1_share"
        ),
    )


# ---------------------------------------------------------------------------
# R376 Youden-J optimal threshold (≡ KS discrimination point) for a scorer
# ---------------------------------------------------------------------------


@register(
    "youden_j_threshold",
    sql="""
    WITH labeled AS MATERIALIZED (
      SELECT c.c_custkey,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS score,
             CASE WHEN EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT'
             ) THEN 1 ELSE 0 END AS y
      FROM customer c
    ),
    tot AS (
      SELECT CAST(sum(y) AS BIGINT) AS pos,
             CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM labeled
    ),
    per_thresh AS (
      SELECT score,
             CAST(sum(y) AS BIGINT) AS tp_here,
             CAST(count(*) - sum(y) AS BIGINT) AS fp_here
      FROM labeled GROUP BY score
    ),
    cum AS (
      SELECT score,
             CAST(sum(tp_here) OVER (
               ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS tp,
             CAST(sum(fp_here) OVER (
               ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS fp
      FROM per_thresh
    ),
    best AS (
      SELECT cum.score, cum.tp, cum.fp,
             CAST(cum.tp * tot.neg - cum.fp * tot.pos AS BIGINT) AS j_scaled
      FROM cum CROSS JOIN tot
      ORDER BY j_scaled DESC, score ASC LIMIT 1
    )
    SELECT tot.pos AS n_pos, tot.neg AS n_neg,
           best.score AS threshold_cents,
           best.tp, best.fp,
           round(CAST(best.tp AS DOUBLE) / tot.pos, 6) AS tpr,
           round(CAST(best.fp AS DOUBLE) / tot.neg, 6) AS fpr,
           round(CAST(best.j_scaled AS DOUBLE)
                 / (CAST(tot.pos AS DOUBLE) * tot.neg), 6) AS youden_j
    FROM best CROSS JOIN tot
    """,
)
def youden_j_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R376 Youden-J-optimal operating point for the account-balance
    scorer predicting "customer has ≥1 urgent order" — J(s) = TPR(s)
    - FPR(s) maximized over all thresholds; the maximizing J equals
    the two-sample KS separation between the score distributions, so
    this is also the model-discrimination KS point (the registry's
    roc_auc_purchase_value integrates the same curve, ks_test_*
    compares OTHER variables; the optimal-threshold selection step is
    new).  Exactness: J is ranked by the INTEGER J_scaled = TP·Nneg
    - FP·Npos (= Npos·Nneg·J), ties toward the smallest threshold —
    argmax needs no float at all.  Cumulative TP/FP over per-score
    groups (distinct thresholds, not rows) via the TWO-PHASE prefix
    scan in descending-score order — both counters ride ONE scan by
    packing (tp << 32 | fp) into a single additive value (each
    cumulative count < 2^32 up to ~4e9 subjects, far past 100 TB
    customer cardinality), so there is no unpartitioned window and
    no second range shuffle."""
    from zoom_spark.operators.prefix import prefix_sum

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("score"),
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    labeled = c.join(
        urgent.withColumn("y1", F.lit(1)),
        on=F.col("c_custkey") == F.col("o_custkey"),
        how="left",
    ).select("score", F.coalesce("y1", F.lit(0)).cast("long").alias("y"))
    tot = labeled.agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg"),
    )
    per = labeled.groupBy("score").agg(
        F.sum("y").cast("long").alias("tp_here"),
        (F.count("*") - F.sum("y")).cast("long").alias("fp_here"),
    )
    packed = per.select(
        "score",
        (-F.col("score")).alias("neg_score"),
        (
            F.col("tp_here") * F.lit(4294967296).cast("long")
            + F.col("fp_here")
        ).alias("pk"),
    )
    cum = prefix_sum(packed, "neg_score", "pk", out_col="cpk").select(
        "score",
        F.floor(F.col("cpk") / F.lit(4294967296)).cast("long").alias("tp"),
        (F.col("cpk") % F.lit(4294967296)).cast("long").alias("fp"),
    )
    best = (
        cum.join(F.broadcast(tot))
        .withColumn(
            "j_scaled",
            (F.col("tp") * F.col("neg") - F.col("fp") * F.col("pos")).cast(
                "long"
            ),
        )
        .orderBy(F.col("j_scaled").desc(), F.col("score").asc())
        .limit(1)
    )
    return best.select(
        F.col("pos").alias("n_pos"),
        F.col("neg").alias("n_neg"),
        F.col("score").alias("threshold_cents"),
        "tp",
        "fp",
        F.round(F.col("tp").cast("double") / F.col("pos"), 6).alias("tpr"),
        F.round(F.col("fp").cast("double") / F.col("neg"), 6).alias("fpr"),
        F.round(
            F.col("j_scaled").cast("double")
            / (F.col("pos").cast("double") * F.col("neg").cast("double")),
            6,
        ).alias("youden_j"),
    )


# ---------------------------------------------------------------------------
# R377 theta-method forecast (θ = 2) of daily revenue
# ---------------------------------------------------------------------------

_THETA_H = 7
_THETA_DAILY_SQL = """
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CAST(row_number() OVER (ORDER BY CAST(o_orderdate AS DATE))
                  AS BIGINT) AS t
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
"""


@register(
    "theta_forecast_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_THETA_DAILY_SQL}),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(t * y) AS BIGINT) AS sty
      FROM d
    ),
    line AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
             (CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                * st) / n AS a
      FROM m
    ),
    ses AS (
      -- SES(alpha=1/2) of the theta-2 line z_t = 2y_t - (a + b t):
      -- L_T = sum_{{j=0..T-2}} z_(T-j)/2^(j+1) + z_1/2^(T-1);
      -- weights are exact powers of two, each term snapped to the
      -- 1e-6 grid before the BIGINT sum (order-free)
      SELECT CAST(sum(CAST(floor(
               (2.0 * d.y - line.a - line.b * d.t)
               * (CASE WHEN d.t = 1
                       THEN power(0.5, CAST(line.n - 1 AS DOUBLE))
                       ELSE power(0.5, CAST(line.n - d.t + 1 AS DOUBLE))
                  END) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS l6
      FROM d CROSS JOIN line
    )
    SELECT CAST(h.h AS BIGINT) AS h,
           line.n AS n_days,
           round(line.a, 4) AS intercept,
           round(line.b, 6) AS slope,
           round(CAST(ses.l6 AS DOUBLE) / 1e6, 4) AS theta2_level,
           round(0.5 * (line.a + line.b * (line.n + h.h))
                 + 0.5 * (CAST(ses.l6 AS DOUBLE) / 1e6), 4) AS yhat
    FROM line CROSS JOIN ses
    CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS h) h
    """,
)
def theta_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R377 theta-method forecast (Assimakopoulos & Nikolopoulos 2000,
    θ = 2 — the M3 benchmark winner), horizon 7 days, on the exact
    whole-dollar daily revenue series: decompose into the θ=0 line
    (the OLS trend, extrapolated) and the θ=2 line z_t = 2y_t -
    trend_t (SES-smoothed, α = 1/2), forecast = their mean.
    Complements holt/holt-winters (different smoothing family) and
    two_segment_trend_fit.  Determinism without recursion: α = 1/2
    makes every SES weight an exact power of two (2^-k is exact in
    ANY IEEE double down to underflow, which is itself deterministic),
    so L_T = Σ z_t·2^-(T-t+1) + z_1·2^-(T-1) is computed as a
    PER-TERM-SNAPPED (1e-6 grid) BIGINT sum — order-free, no
    recursive state, unlike the applyInPandas recursion holt needs
    for general α.  OLS a,b come from exact BIGINT moments.  One
    groupBy + two scalar joins: single-pass at 100 TB."""
    daily = (
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .select("y", "t")
    )
    m = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    a = (F.col("sy").cast("double") - b * F.col("st")) / nd
    line = m.select("n", a.alias("a"), b.alias("b"))
    z = 2.0 * F.col("y") - F.col("a") - F.col("b") * F.col("t")
    wgt = F.when(
        F.col("t") == 1,
        F.pow(F.lit(0.5), (F.col("n") - 1).cast("double")),
    ).otherwise(F.pow(F.lit(0.5), (F.col("n") - F.col("t") + 1).cast("double")))
    ses = (
        daily.join(F.broadcast(line))
        .select(
            F.floor(z * wgt * 1e6 + 0.5).cast("long").alias("term6")
        )
        .agg(F.sum("term6").cast("long").alias("l6"))
    )
    hs = spark.range(1, _THETA_H + 1).select(
        F.col("id").cast("long").alias("h")
    )
    lvl = F.col("l6").cast("double") / 1e6
    return (
        line.join(F.broadcast(ses))
        .join(F.broadcast(hs))
        .select(
            "h",
            F.col("n").alias("n_days"),
            F.round(F.col("a"), 4).alias("intercept"),
            F.round(F.col("b"), 6).alias("slope"),
            F.round(lvl, 4).alias("theta2_level"),
            F.round(
                0.5 * (F.col("a") + F.col("b") * (F.col("n") + F.col("h")))
                + 0.5 * lvl,
                4,
            ).alias("yhat"),
        )
    )


# ---------------------------------------------------------------------------
# R378 proximity search over positional postings (terms within a window)
# ---------------------------------------------------------------------------

_PROX_W1, _PROX_W2 = "join", "filter"
_PROX_WIN = 5


@register(
    "proximity_search_postings",
    sql=f"""
    WITH pos AS MATERIALIZED (
      SELECT doc_id, CAST(t.i AS BIGINT) AS p, ws[t.i] AS w
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
      )
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(ws))) AS i
      ) t
      WHERE ws[t.i] IN ('{_PROX_W1}', '{_PROX_W2}')
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(abs(a.p - b.p)) AS BIGINT) AS min_dist,
           CAST(min(least(a.p, b.p)) AS BIGINT) AS first_pos
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id
     AND abs(a.p - b.p) <= {_PROX_WIN}
    WHERE a.w = '{_PROX_W1}' AND b.w = '{_PROX_W2}'
    GROUP BY a.doc_id
    """,
)
def proximity_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R378 proximity search ("{_PROX_W1}" NEAR/{_PROX_WIN}
    "{_PROX_W2}", unordered) over positional postings — the windowed
    companion to phrase_search_postings (which requires EXACT
    adjacency): per document, count the position pairs of the two
    terms within {_PROX_WIN} tokens and report the closest distance
    and earliest hit.  Pure-integer positions from one posting build
    (explode with ordinality, filtered to the two query terms BEFORE
    the self-join — the postings-list pruning that makes this linear
    in the two terms' posting sizes, not in corpus length); the
    band |pa-pb| <= {_PROX_WIN} keeps the per-doc join output-bounded.
    At 100 TB this is the standard positional-index probe: doc_id
    hash-partitioned, term-pruned scan."""
    from zoom_spark.functions.text import ws_tokens

    pos = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(ws_tokens(F.lower(F.trim(F.col("text"))))).alias(
                "p0", "w"
            ),
        )
        .where(F.col("w").isin(_PROX_W1, _PROX_W2))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("p"), "w")
    )
    a = pos.where(F.col("w") == _PROX_W1).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = pos.where(F.col("w") == _PROX_W2).select(
        "doc_id", F.col("p").alias("pb")
    )
    return (
        a.join(b, on="doc_id")
        .where(F.abs(F.col("pa") - F.col("pb")) <= _PROX_WIN)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb")))
            .cast("long")
            .alias("min_dist"),
            F.min(F.least("pa", "pb")).cast("long").alias("first_pos"),
        )
    )


# ---------------------------------------------------------------------------
# R379 Breslow-Day homogeneity-of-odds-ratios test (with MH common OR)
# ---------------------------------------------------------------------------

_BD_STRATA_SQL = """
      SELECT o_orderpriority AS stratum,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS e,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
      FROM orders
"""


@register(
    "breslow_day_weekend_value",
    sql=f"""
    WITH o AS ({_BD_STRATA_SQL}),
    tab AS MATERIALIZED (
      SELECT stratum,
             CAST(sum(e * y) AS BIGINT) AS a,
             CAST(sum(e * (1 - y)) AS BIGINT) AS b,
             CAST(sum((1 - e) * y) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY stratum
    ),
    mh AS (
      -- per-stratum 1e-9 snap, then BIGINT sums (order-free), then
      -- one exact-operand division: psi_MH
      SELECT CAST(sum(CAST(floor(CAST(a AS DOUBLE) * d / n * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS ad9,
             CAST(sum(CAST(floor(CAST(b AS DOUBLE) * c / n * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS bc9
      FROM tab
    ),
    fit AS (
      SELECT t.stratum, t.a, t.n,
             CAST(t.a + t.b AS BIGINT) AS n1,
             CAST(t.c + t.d AS BIGINT) AS n0,
             CAST(t.a + t.c AS BIGINT) AS m1,
             CAST(mh.ad9 AS DOUBLE) / mh.bc9 AS psi
      FROM tab t CROSS JOIN mh
    ),
    sol AS (
      -- admissible root of (1-psi) A^2 + [(n1+m1) psi + n0-m1] A
      --                      - psi n1 m1 = 0
      SELECT stratum, a, n1, n0, m1, psi,
             ((
               -(CAST(n1 + m1 AS DOUBLE) * psi + (n0 - m1))
               + sqrt(power(CAST(n1 + m1 AS DOUBLE) * psi + (n0 - m1), 2)
                      + 4.0 * (1.0 - psi) * psi * n1 * m1)
             ) / (2.0 * (1.0 - psi))) AS atil
      FROM fit
    ),
    terms AS (
      SELECT CAST(floor(
               power(CAST(a AS DOUBLE) - atil, 2)
               * (1.0 / atil + 1.0 / (n1 - atil) + 1.0 / (m1 - atil)
                  + 1.0 / (n0 - m1 + atil))
               * 1e9 + 0.5) AS BIGINT) AS t9
      FROM sol
    )
    SELECT CAST((SELECT count(*) FROM tab) AS BIGINT) AS n_strata,
           round((SELECT CAST(ad9 AS DOUBLE) / bc9 FROM mh), 6) AS or_mh,
           round(CAST(sum(t9) AS DOUBLE) / 1e9, 6) AS bd_chi2,
           CAST((SELECT count(*) - 1 FROM tab) AS BIGINT) AS df
    FROM terms
    """,
)
def breslow_day_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R379 Breslow-Day (1980) test for HOMOGENEITY of odds ratios
    across strata — the companion the registry's Mantel-Haenszel
    estimators assume but never test (mantel_haenszel_weekend_value
    pools the same priority-stratified weekend×high-value 2×2 tables;
    BD asks whether one common OR is even justified).  Per stratum
    the fitted cell ã solves the quadratic ψ(n1-ã)(m1-ã) =
    ã(n0-m1+ã) under the MH common ψ (admissible root via one sqrt of
    exact-operand doubles); X²_BD = Σ (a-ã)²·[1/ã + 1/(n1-ã) +
    1/(m1-ã) + 1/(n0-m1+ã)] with each stratum term snapped to 1e-9
    before the 5-row BIGINT sum.  ψ itself uses per-stratum-snapped
    ad/n, bc/n integer sums (order-free, unlike the raw double sums
    of the MH query).  One hash aggregate to 5 rows: scan-bound at
    100 TB."""
    wk = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        % 7
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        F.when(wk.isin(5, 6), 1).otherwise(0).alias("e"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("y"),
    )
    tab = o.groupBy("stratum").agg(
        F.sum(F.col("e") * F.col("y")).cast("long").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("long").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("long").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("long").alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    nd = F.col("n").cast("double")
    mh = tab.agg(
        F.sum(
            F.floor(
                F.col("a").cast("double") * F.col("d") / nd * 1e9 + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("ad9"),
        F.sum(
            F.floor(
                F.col("b").cast("double") * F.col("c") / nd * 1e9 + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("bc9"),
        F.count("*").cast("long").alias("n_strata"),
    )
    fit = tab.join(F.broadcast(mh)).select(
        "a",
        (F.col("a") + F.col("b")).cast("long").alias("n1"),
        (F.col("c") + F.col("d")).cast("long").alias("n0"),
        (F.col("a") + F.col("c")).cast("long").alias("m1"),
        (F.col("ad9").cast("double") / F.col("bc9")).alias("psi"),
        "n_strata",
        "ad9",
        "bc9",
    )
    lin = (F.col("n1") + F.col("m1")).cast("double") * F.col("psi") + (
        F.col("n0") - F.col("m1")
    ).cast("double")
    atil = (
        -lin
        + F.sqrt(
            F.pow(lin, 2)
            + 4.0
            * (1.0 - F.col("psi"))
            * F.col("psi")
            * F.col("n1").cast("double")
            * F.col("m1").cast("double")
        )
    ) / (2.0 * (1.0 - F.col("psi")))
    term9 = F.floor(
        F.pow(F.col("a").cast("double") - atil, 2)
        * (
            1.0 / atil
            + 1.0 / (F.col("n1") - atil)
            + 1.0 / (F.col("m1") - atil)
            + 1.0 / (F.col("n0") - F.col("m1") + atil)
        )
        * 1e9
        + 0.5
    ).cast("long")
    return (
        fit.withColumn("atil", atil)
        .select("n_strata", "ad9", "bc9", term9.alias("t9"))
        .groupBy("n_strata", "ad9", "bc9")
        .agg(F.sum("t9").cast("long").alias("s9"))
        .select(
            "n_strata",
            F.round(F.col("ad9").cast("double") / F.col("bc9"), 6).alias(
                "or_mh"
            ),
            F.round(F.col("s9").cast("double") / 1e9, 6).alias("bd_chi2"),
            (F.col("n_strata") - 1).cast("long").alias("df"),
        )
    )


# ---------------------------------------------------------------------------
# R380 Stuart-Maxwell marginal-homogeneity test (3×3, exact BIGINT form)
# ---------------------------------------------------------------------------


@register(
    "stuart_maxwell_priority",
    sql=f"""
    WITH seq AS MATERIALIZED (
      SELECT o_custkey,
             CAST({_PRIO_BUCKET_SQL} AS BIGINT) AS b,
             lag(CAST({_PRIO_BUCKET_SQL} AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
             ) AS pb
      FROM seq_base
    ),
    t AS (
      SELECT pb AS i, b AS j, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE pb IS NOT NULL GROUP BY 1, 2
    ),
    cells AS (
      SELECT CAST(COALESCE(sum(CASE WHEN i = 0 AND j = 0 THEN n END), 0)
                  AS BIGINT) AS n00,
             CAST(COALESCE(sum(CASE WHEN i = 0 AND j = 1 THEN n END), 0)
                  AS BIGINT) AS n01,
             CAST(COALESCE(sum(CASE WHEN i = 0 AND j = 2 THEN n END), 0)
                  AS BIGINT) AS n02,
             CAST(COALESCE(sum(CASE WHEN i = 1 AND j = 0 THEN n END), 0)
                  AS BIGINT) AS n10,
             CAST(COALESCE(sum(CASE WHEN i = 1 AND j = 1 THEN n END), 0)
                  AS BIGINT) AS n11,
             CAST(COALESCE(sum(CASE WHEN i = 1 AND j = 2 THEN n END), 0)
                  AS BIGINT) AS n12,
             CAST(COALESCE(sum(CASE WHEN i = 2 AND j = 0 THEN n END), 0)
                  AS BIGINT) AS n20,
             CAST(COALESCE(sum(CASE WHEN i = 2 AND j = 1 THEN n END), 0)
                  AS BIGINT) AS n21,
             CAST(COALESCE(sum(CASE WHEN i = 2 AND j = 2 THEN n END), 0)
                  AS BIGINT) AS n22
      FROM t
    ),
    dd AS (
      SELECT
        CAST((n00+n01+n02) - (n00+n10+n20) AS BIGINT) AS d0,
        CAST((n10+n11+n12) - (n01+n11+n21) AS BIGINT) AS d1,
        CAST((n00+n01+n02) + (n00+n10+n20) - 2*n00 AS BIGINT) AS s00,
        CAST((n10+n11+n12) + (n01+n11+n21) - 2*n11 AS BIGINT) AS s11,
        CAST(-(n01 + n10) AS BIGINT) AS s01,
        CAST(n00+n01+n02+n10+n11+n12+n20+n21+n22 AS BIGINT)
          AS n_transitions
      FROM cells
    )
    SELECT n_transitions, d0, d1,
           CAST(d0*d0*s11 - 2*d0*d1*s01 + d1*d1*s00 AS BIGINT) AS chi2_num,
           CAST(s00*s11 - s01*s01 AS BIGINT) AS chi2_den,
           round(CAST(d0*d0*s11 - 2*d0*d1*s01 + d1*d1*s00 AS DOUBLE)
                 / (s00*s11 - s01*s01), 6) AS chi2,
           round(exp(-0.5 * CAST(d0*d0*s11 - 2*d0*d1*s01 + d1*d1*s00
                                 AS DOUBLE)
                     / (s00*s11 - s01*s01)), 6) AS p_value
    FROM dd
    """.replace("FROM seq_base", "FROM orders"),
)
def stuart_maxwell_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R380 Stuart-Maxwell (1955/1970) marginal-homogeneity test on
    the 3×3 priority-transition table — Bowker (R367) tests cell
    SYMMETRY n_ij = n_ji; Stuart-Maxwell tests the weaker marginal
    claim row_i = col_i (did the priority MIX drift between
    consecutive orders?).  With d = row-col margins (which sum to 0,
    so drop the 3rd) and the 2×2 covariance S (S_ii = row_i + col_i
    - 2n_ii, S_ij = -(n_ij+n_ji)), X² = d'S⁻¹d — via the 2×2 inverse
    this is a RATIO OF TWO BIGINTS (both emitted), the cleanest
    exactness class; df = 2 so the p-value is the closed-form
    exp(-X²/2).  Same one-window one-aggregate shape as Bowker:
    single o_custkey shuffle at 100 TB."""
    bucket = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(2)
        .cast("long")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", bucket.alias("b"))
        .withColumn("pb", F.lag("b").over(w))
        .where(F.col("pb").isNotNull())
    )
    t = seq.groupBy(F.col("pb").alias("i"), F.col("b").alias("j")).agg(
        F.count("*").cast("long").alias("n")
    )

    def cell(i: int, j: int):
        return (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("i") == i) & (F.col("j") == j), F.col("n")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
        )

    cells = t.agg(
        *[
            cell(i, j).alias(f"n{i}{j}")
            for i in range(3)
            for j in range(3)
        ]
    )
    row = lambda i: sum(F.col(f"n{i}{j}") for j in range(3))  # noqa: E731
    col = lambda j: sum(F.col(f"n{i}{j}") for i in range(3))  # noqa: E731
    dd = cells.select(
        (row(0) - col(0)).cast("long").alias("d0"),
        (row(1) - col(1)).cast("long").alias("d1"),
        (row(0) + col(0) - 2 * F.col("n00")).cast("long").alias("s00"),
        (row(1) + col(1) - 2 * F.col("n11")).cast("long").alias("s11"),
        (-(F.col("n01") + F.col("n10"))).cast("long").alias("s01"),
        sum(
            F.col(f"n{i}{j}") for i in range(3) for j in range(3)
        )
        .cast("long")
        .alias("n_transitions"),
    )
    num = (
        F.col("d0") * F.col("d0") * F.col("s11")
        - 2 * F.col("d0") * F.col("d1") * F.col("s01")
        + F.col("d1") * F.col("d1") * F.col("s00")
    ).cast("long")
    den = (F.col("s00") * F.col("s11") - F.col("s01") * F.col("s01")).cast(
        "long"
    )
    chi2 = num.cast("double") / den.cast("double")
    return dd.select(
        "n_transitions",
        "d0",
        "d1",
        num.alias("chi2_num"),
        den.alias("chi2_den"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.exp(-0.5 * chi2), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R381 Fisher linear discriminant (2-class, 2-feature, closed form)
# ---------------------------------------------------------------------------

_LDA_FEATURES_SQL = """
      SELECT c.c_custkey,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x1,
             CAST(count(o.o_orderkey) AS BIGINT) AS x2,
             CASE WHEN sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                                THEN 1 ELSE 0 END) > 0
                  THEN 1 ELSE 0 END AS y
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal
"""


@register(
    "lda_urgent_classifier",
    sql=f"""
    WITH feats AS MATERIALIZED ({_LDA_FEATURES_SQL}),
    m AS (
      SELECT y, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1,
             CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x2 * x2) AS BIGINT) AS s22
      FROM feats GROUP BY y
    ),
    pool AS (
      SELECT
        CAST(sum(n) AS BIGINT) AS n,
        CAST(max(CASE WHEN y = 1 THEN n END) AS BIGINT) AS n1,
        CAST(max(CASE WHEN y = 0 THEN n END) AS BIGINT) AS n0,
        max(CASE WHEN y = 1 THEN CAST(sx1 AS DOUBLE) / n END) AS mu1x1,
        max(CASE WHEN y = 1 THEN CAST(sx2 AS DOUBLE) / n END) AS mu1x2,
        max(CASE WHEN y = 0 THEN CAST(sx1 AS DOUBLE) / n END) AS mu0x1,
        max(CASE WHEN y = 0 THEN CAST(sx2 AS DOUBLE) / n END) AS mu0x2,
        sum(CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n)
          / (sum(n) - 2) AS c11,
        sum(CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)
          / (sum(n) - 2) AS c12,
        sum(CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n)
          / (sum(n) - 2) AS c22
      FROM m
    ),
    wvec AS (
      SELECT n, n1, n0, mu1x1, mu1x2, mu0x1, mu0x2,
             (c22 * (mu1x1 - mu0x1) - c12 * (mu1x2 - mu0x2))
               / (c11 * c22 - c12 * c12) AS w1,
             (c11 * (mu1x2 - mu0x2) - c12 * (mu1x1 - mu0x1))
               / (c11 * c22 - c12 * c12) AS w2
      FROM pool
    ),
    thr AS (
      SELECT n, n1, n0, w1, w2,
             0.5 * (w1 * (mu1x1 + mu0x1) + w2 * (mu1x2 + mu0x2))
               - ln(CAST(n1 AS DOUBLE) / n0) AS c
      FROM wvec
    ),
    scored AS (
      SELECT f.y,
             CASE WHEN t.w1 * f.x1 + t.w2 * f.x2 > t.c
                  THEN 1 ELSE 0 END AS yhat
      FROM feats f CROSS JOIN thr t
    ),
    conf AS (
      SELECT CAST(sum(y * yhat) AS BIGINT) AS tp,
             CAST(sum((1 - y) * yhat) AS BIGINT) AS fp,
             CAST(sum(y * (1 - yhat)) AS BIGINT) AS fn,
             CAST(sum((1 - y) * (1 - yhat)) AS BIGINT) AS tn
      FROM scored
    )
    SELECT t.n AS n_customers, t.n1 AS n_pos, t.n0 AS n_neg,
           round(t.w1 * 1e6, 6) AS w1_scaled,
           round(t.w2, 6) AS w2,
           conf.tp, conf.fp, conf.fn, conf.tn,
           round(CAST(conf.tp + conf.tn AS DOUBLE) / t.n, 6) AS accuracy
    FROM thr t CROSS JOIN conf
    """,
)
def lda_urgent_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R381 Fisher linear discriminant analysis, 2 classes × 2
    features in closed form: predict "customer has ≥1 urgent order"
    from (acctbal cents, order count); w = Σ_pooled⁻¹(μ₁-μ₀) with the
    pooled within-class covariance from per-class BIGINT raw moments
    and the 2×2 inverse written out (no iterative solver — the
    registry's logreg/ridge/naive-bayes classifiers are iterative or
    independence-based; LDA is the closed-form Gaussian discriminant,
    trained in ONE aggregation pass).  Decision: w·x > ½w·(μ₁+μ₀) -
    ln(n₁/n₀) (prior-adjusted midpoint).  Every double on both
    engines is built from the same BIGINTs by the same expression
    tree, so per-row classification (integer features × shared
    weights) is bit-deterministic; the confusion matrix is then pure
    counts.  Train = one groupBy to 2 rows; score = map-side
    broadcast — the canonical scalable LDA shape at 100 TB."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("x1"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
    )
    feats = (
        c.join(o, on=F.col("c_custkey") == F.col("o_custkey"), how="left")
        .groupBy("c_custkey", "x1")
        .agg(
            F.count("o_custkey").cast("long").alias("x2"),
            F.when(
                F.coalesce(F.sum("urgent"), F.lit(0)) > 0, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("y"),
        )
        .select("x1", "x2", "y")
    )
    m = feats.groupBy("y").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
    )
    nd = F.col("n").cast("double")
    pool = m.agg(
        F.sum("n").cast("long").alias("n"),
        F.max(F.when(F.col("y") == 1, F.col("n"))).cast("long").alias("n1"),
        F.max(F.when(F.col("y") == 0, F.col("n"))).cast("long").alias("n0"),
        F.max(
            F.when(F.col("y") == 1, F.col("sx1").cast("double") / nd)
        ).alias("mu1x1"),
        F.max(
            F.when(F.col("y") == 1, F.col("sx2").cast("double") / nd)
        ).alias("mu1x2"),
        F.max(
            F.when(F.col("y") == 0, F.col("sx1").cast("double") / nd)
        ).alias("mu0x1"),
        F.max(
            F.when(F.col("y") == 0, F.col("sx2").cast("double") / nd)
        ).alias("mu0x2"),
        (
            F.sum(
                F.col("s11").cast("double")
                - F.col("sx1").cast("double") * F.col("sx1") / nd
            )
            / (F.sum("n") - 2)
        ).alias("c11"),
        (
            F.sum(
                F.col("s12").cast("double")
                - F.col("sx1").cast("double") * F.col("sx2") / nd
            )
            / (F.sum("n") - 2)
        ).alias("c12"),
        (
            F.sum(
                F.col("s22").cast("double")
                - F.col("sx2").cast("double") * F.col("sx2") / nd
            )
            / (F.sum("n") - 2)
        ).alias("c22"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    w1 = (
        F.col("c22") * (F.col("mu1x1") - F.col("mu0x1"))
        - F.col("c12") * (F.col("mu1x2") - F.col("mu0x2"))
    ) / det
    w2 = (
        F.col("c11") * (F.col("mu1x2") - F.col("mu0x2"))
        - F.col("c12") * (F.col("mu1x1") - F.col("mu0x1"))
    ) / det
    thr = pool.select(
        "n",
        "n1",
        "n0",
        w1.alias("w1"),
        w2.alias("w2"),
        (
            0.5
            * (
                w1 * (F.col("mu1x1") + F.col("mu0x1"))
                + w2 * (F.col("mu1x2") + F.col("mu0x2"))
            )
            - F.log(F.col("n1").cast("double") / F.col("n0"))
        ).alias("c"),
    )
    scored = feats.join(F.broadcast(thr)).select(
        "y",
        "n",
        "n1",
        "n0",
        "w1",
        "w2",
        F.when(
            F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
            > F.col("c"),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("yhat"),
    )
    conf = scored.groupBy("n", "n1", "n0", "w1", "w2").agg(
        F.sum(F.col("y") * F.col("yhat")).cast("long").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat")).cast("long").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yhat"))).cast("long").alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat")))
        .cast("long")
        .alias("tn"),
    )
    return conf.select(
        F.col("n").alias("n_customers"),
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(F.col("w1") * 1e6, 6).alias("w1_scaled"),
        F.round("w2", 6).alias("w2"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            (F.col("tp") + F.col("tn")).cast("double") / F.col("n"), 6
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# R382 turning-points randomness test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "turning_points_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    tp AS (
      SELECT cur.t,
             CASE WHEN (cur.y > p.y AND cur.y > nx.y)
                    OR (cur.y < p.y AND cur.y < nx.y)
                  THEN 1 ELSE 0 END AS is_tp
      FROM d cur
      JOIN d p ON p.t = cur.t - 1
      JOIN d nx ON nx.t = cur.t + 1
    ),
    m AS (
      SELECT CAST((SELECT max(t) FROM d) AS BIGINT) AS n,
             CAST(sum(is_tp) AS BIGINT) AS t_count
      FROM tp
    )
    SELECT n AS n_days, t_count AS n_turning,
           round(2.0 * (n - 2) / 3.0, 6) AS e_turning,
           round((CAST(t_count AS DOUBLE) - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z_stat
    FROM m
    """,
)
def turning_points_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R382 turning-points test of randomness (Kendall) on the daily
    revenue series: count strict local extrema (y_t above or below
    BOTH neighbors — ties break neither way, the discrete-data
    convention, documented because cents can tie); under i.i.d.
    randomness E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90, z = (T-E)/
    sqrt(Var).  Complements runs_test_purchase_sequence (sign runs vs
    a threshold) and mann_kendall (monotone trend): turning points
    detect OSCILLATION-rate departures.  The count is a pure integer
    from two calendar-index self-joins; E and Var are rationals of n.
    Scan + day-frame joins only at 100 TB."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .select("y", "t")
        .localCheckpoint(eager=False)
    )
    cur = d.select(F.col("t").alias("tc"), F.col("y").alias("yc"))
    p = d.select(F.col("t").alias("tp_"), F.col("y").alias("yp"))
    nx = d.select(F.col("t").alias("tn"), F.col("y").alias("yn"))
    tp = (
        cur.join(p, F.col("tp_") == F.col("tc") - 1)
        .join(nx, F.col("tn") == F.col("tc") + 1)
        .select(
            F.when(
                ((F.col("yc") > F.col("yp")) & (F.col("yc") > F.col("yn")))
                | ((F.col("yc") < F.col("yp")) & (F.col("yc") < F.col("yn"))),
                1,
            )
            .otherwise(0)
            .alias("is_tp")
        )
    )
    nrow = d.agg(F.max("t").cast("long").alias("n"))
    m = tp.agg(F.sum("is_tp").cast("long").alias("t_count")).join(
        F.broadcast(nrow)
    )
    nd = F.col("n").cast("double")
    e = 2.0 * (nd - 2) / 3.0
    return m.select(
        F.col("n").alias("n_days"),
        F.col("t_count").alias("n_turning"),
        F.round(e, 6).alias("e_turning"),
        F.round(
            (F.col("t_count").cast("double") - e)
            / F.sqrt((16.0 * nd - 29.0) / 90.0),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# R383 Bartels rank von Neumann randomness test
# ---------------------------------------------------------------------------


@register(
    "bartels_rvn_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    ranked AS MATERIALIZED (
      SELECT t,
             CAST(2 * rank() OVER (ORDER BY y)
                  + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS r2
      FROM d
    ),
    num AS (
      SELECT CAST(sum((a.r2 - b.r2) * (a.r2 - b.r2)) AS BIGINT) AS nsum
      FROM ranked a JOIN ranked b ON b.t = a.t + 1
    ),
    den AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2) AS BIGINT) AS s,
             CAST(sum(r2 * r2) AS BIGINT) AS ss
      FROM ranked
    )
    SELECT den.n AS n_days,
           num.nsum AS num4,
           CAST(den.n * den.ss - den.s * den.s AS BIGINT) AS den4n,
           round(CAST(den.n AS DOUBLE) * num.nsum
                 / (den.n * den.ss - CAST(den.s AS DOUBLE) * den.s), 6)
             AS rvn,
           round((CAST(den.n AS DOUBLE) * num.nsum
                  / (den.n * den.ss - CAST(den.s AS DOUBLE) * den.s) - 2.0)
                 / sqrt(4.0 * (den.n - 2) * (5.0 * den.n * den.n
                                             - 2.0 * den.n - 9.0)
                        / (5.0 * den.n * (den.n + 1.0)
                           * (den.n - 1.0) * (den.n - 1.0))), 6) AS z_stat
    FROM num CROSS JOIN den
    """,
)
def bartels_rvn_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R383 Bartels (1982) rank von Neumann ratio test of randomness
    on daily revenue: RVN = Σ(r_t - r_{{t+1}})² / Σ(r_t - r̄)² over
    midranks; E[RVN] = 2, Var = 4(n-2)(5n²-2n-9)/(5n(n+1)(n-1)²) —
    the rank (outlier-robust) analogue of the von-Neumann/Durbin-
    Watson successive-difference family the registry gates on raw
    values.  Carrying 2×midrank (integer) makes BOTH quadratic forms
    exact BIGINTs (the 4× scale cancels in the ratio; numerator and
    n·denominator are emitted for the hash); z is one exact-operand
    closed form.  One global rank + one lag join over the calendar-
    bounded day frame."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
    )
    ranked = d.select(
        "t",
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count("*").over(Window.partitionBy("y"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    ).localCheckpoint(eager=False)
    a = ranked.select(F.col("t").alias("ta"), F.col("r2").alias("ra"))
    b = ranked.select(F.col("t").alias("tb"), F.col("r2").alias("rb"))
    num = a.join(b, F.col("tb") == F.col("ta") + 1).agg(
        F.sum((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb")))
        .cast("long")
        .alias("nsum")
    )
    den = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r2").cast("long").alias("s"),
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("ss"),
    )
    m = num.join(F.broadcast(den))
    nd = F.col("n").cast("double")
    rvn = (
        nd
        * F.col("nsum")
        / (
            F.col("n") * F.col("ss")
            - F.col("s").cast("double") * F.col("s")
        )
    )
    var = (
        4.0
        * (F.col("n") - 2)
        * (5.0 * nd * nd - 2.0 * nd - 9.0)
        / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.col("nsum").alias("num4"),
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        .cast("long")
        .alias("den4n"),
        F.round(rvn, 6).alias("rvn"),
        F.round((rvn - 2.0) / F.sqrt(var), 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# R384 X̄-R control chart over weekly subgroups of daily revenue
# ---------------------------------------------------------------------------

# Shewhart constants for subgroup size n = 7
_XBAR_A2 = 0.419
_XBAR_D3 = 0.076
_XBAR_D4 = 1.924
_XBAR_N = 7


@register(
    "xbar_r_control_chart",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    grp AS MATERIALIZED (
      SELECT CAST((t - 1) // {_XBAR_N} AS BIGINT) AS g,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(max(y) - min(y) AS BIGINT) AS r
      FROM d GROUP BY 1
      HAVING count(*) = {_XBAR_N}
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(s) AS BIGINT) AS ssum,
             CAST(sum(r) AS BIGINT) AS rsum
      FROM grp
    ),
    lim AS (
      SELECT m,
             CAST(ssum AS DOUBLE) / (m * {_XBAR_N}) AS xbb,
             CAST(rsum AS DOUBLE) / m AS rbar
      FROM tot
    )
    SELECT lim.m AS n_subgroups,
           round(lim.xbb, 4) AS xbar_bar,
           round(lim.rbar, 4) AS r_bar,
           round(lim.xbb + {_XBAR_A2} * lim.rbar, 4) AS ucl_x,
           round(lim.xbb - {_XBAR_A2} * lim.rbar, 4) AS lcl_x,
           round({_XBAR_D4} * lim.rbar, 4) AS ucl_r,
           round({_XBAR_D3} * lim.rbar, 4) AS lcl_r,
           CAST(sum(CASE WHEN CAST(grp.s AS DOUBLE) / {_XBAR_N}
                              > lim.xbb + {_XBAR_A2} * lim.rbar
                           OR CAST(grp.s AS DOUBLE) / {_XBAR_N}
                              < lim.xbb - {_XBAR_A2} * lim.rbar
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_x_ooc,
           CAST(sum(CASE WHEN CAST(grp.r AS DOUBLE)
                              > {_XBAR_D4} * lim.rbar
                           OR CAST(grp.r AS DOUBLE)
                              < {_XBAR_D3} * lim.rbar
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_r_ooc
    FROM grp CROSS JOIN lim
    GROUP BY lim.m, lim.xbb, lim.rbar
    """,
)
def xbar_r_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R384 Shewhart X̄-R control chart over complete 7-day subgroups
    of daily revenue (whole-dollar grid): center lines X̄̄ and R̄,
    limits X̄̄ ± A₂R̄ and D₃R̄/D₄R̄ with the tabled n=7 constants
    (A₂=0.419, D₃=0.076, D₄=1.924 — Montgomery SPC tables), plus the
    out-of-control subgroup counts — the SPC monitoring primitive the
    registry's anomaly family (zscore/MAD/CUSUM/Page-Hinkley) does
    not cover (subgrouped common-cause limits vs individual scores).
    Subgroup sums/ranges are BIGINTs; limits and per-subgroup
    comparisons are the same exact-operand expressions on both
    engines, so the OOC counts are deterministic integers.  One
    groupBy on the day index: scan-bound at 100 TB."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
    )
    grp = (
        d.groupBy(F.floor((F.col("t") - 1) / _XBAR_N).cast("long").alias("g"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("y").cast("long").alias("s"),
            (F.max("y") - F.min("y")).cast("long").alias("r"),
        )
        .where(F.col("cnt") == _XBAR_N)
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("s").cast("long").alias("ssum"),
        F.sum("r").cast("long").alias("rsum"),
    )
    xbb = F.col("ssum").cast("double") / (F.col("m") * _XBAR_N)
    rbar = F.col("rsum").cast("double") / F.col("m")
    lim = tot.select("m", xbb.alias("xbb"), rbar.alias("rbar"))
    j = grp.join(F.broadcast(lim))
    xbar_g = F.col("s").cast("double") / _XBAR_N
    ucl_x = F.col("xbb") + _XBAR_A2 * F.col("rbar")
    lcl_x = F.col("xbb") - _XBAR_A2 * F.col("rbar")
    ucl_r = _XBAR_D4 * F.col("rbar")
    lcl_r = _XBAR_D3 * F.col("rbar")
    return j.groupBy("m", "xbb", "rbar").agg(
        F.sum(
            F.when((xbar_g > ucl_x) | (xbar_g < lcl_x), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_x_ooc"),
        F.sum(
            F.when(
                (F.col("r").cast("double") > ucl_r)
                | (F.col("r").cast("double") < lcl_r),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_r_ooc"),
    ).select(
        F.col("m").alias("n_subgroups"),
        F.round(F.col("xbb"), 4).alias("xbar_bar"),
        F.round(F.col("rbar"), 4).alias("r_bar"),
        F.round(F.col("xbb") + _XBAR_A2 * F.col("rbar"), 4).alias("ucl_x"),
        F.round(F.col("xbb") - _XBAR_A2 * F.col("rbar"), 4).alias("lcl_x"),
        F.round(_XBAR_D4 * F.col("rbar"), 4).alias("ucl_r"),
        F.round(_XBAR_D3 * F.col("rbar"), 4).alias("lcl_r"),
        "n_x_ooc",
        "n_r_ooc",
    )


# ---------------------------------------------------------------------------
# R385 Cronbach's alpha over yearly spend "items"
# ---------------------------------------------------------------------------


@register(
    "cronbach_alpha_yearly_spend",
    sql="""
    WITH y0 AS (
      SELECT CAST(min(year(o_orderdate)) AS BIGINT) AS y0 FROM orders
    ),
    items AS MATERIALIZED (
      SELECT c.c_custkey,
             CAST(COALESCE(sum(CASE WHEN year(o.o_orderdate) = y0.y0
                   THEN CAST(floor(o.o_totalprice / 100) AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS x0,
             CAST(COALESCE(sum(CASE WHEN year(o.o_orderdate) = y0.y0 + 1
                   THEN CAST(floor(o.o_totalprice / 100) AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS x1,
             CAST(COALESCE(sum(CASE WHEN year(o.o_orderdate) = y0.y0 + 2
                   THEN CAST(floor(o.o_totalprice / 100) AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS x2
      FROM customer c
      CROSS JOIN y0
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x0) AS BIGINT) AS s0,
             CAST(sum(x1) AS BIGINT) AS s1,
             CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(x0*x0) AS BIGINT) AS q0,
             CAST(sum(x1*x1) AS BIGINT) AS q1,
             CAST(sum(x2*x2) AS BIGINT) AS q2,
             CAST(sum((x0+x1+x2)*(x0+x1+x2)) AS BIGINT) AS qt,
             CAST(sum(x0+x1+x2) AS BIGINT) AS st
      FROM items
    )
    SELECT n AS n_subjects,
           CAST(3 AS BIGINT) AS k_items,
           round((CAST(n AS DOUBLE) * qt - CAST(st AS DOUBLE) * st)
                 / (CAST(n AS DOUBLE) * n), 4) AS var_total_n,
           round(((CAST(n AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
                  + (CAST(n AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                  + (CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2))
                 / (CAST(n AS DOUBLE) * n), 4) AS var_items_n,
           round((3.0 / 2.0) * (1.0 -
                 ((CAST(n AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
                  + (CAST(n AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                  + (CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2))
                 / (CAST(n AS DOUBLE) * qt - CAST(st AS DOUBLE) * st)), 6)
             AS alpha
    FROM m
    """,
)
def cronbach_alpha_yearly_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R385 Cronbach's alpha internal-consistency coefficient with
    k = 3 "items" = customer spend (whole hundred-dollar units) in
    each of the first three calendar years: alpha = k/(k-1)·(1 -
    Σσ²_item/σ²_total) — the CONTINUOUS-score reliability companion
    to the registry's categorical agreement family (fleiss/
    krippendorff/ICC test other designs; alpha is the classic scale-
    reliability statistic).  Every variance is the n-scaled integer
    form n·Σx² - (Σx)² (pure BIGINT; the common 1/n² factor cancels
    in alpha), so alpha is one exact-operand double.  One groupBy
    over the fact table: single-pass at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    y0 = orders.agg(F.min(F.year("o_orderdate")).cast("long").alias("y0"))
    hund = F.floor(F.col("o_totalprice") / 100).cast("long")
    per = (
        orders.select(
            "o_custkey", F.year("o_orderdate").alias("yr"), hund.alias("h")
        )
        .join(F.broadcast(y0))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("yr") == F.col("y0"), F.col("h")).otherwise(0))
            .cast("long")
            .alias("x0"),
            F.sum(
                F.when(F.col("yr") == F.col("y0") + 1, F.col("h")).otherwise(0)
            )
            .cast("long")
            .alias("x1"),
            F.sum(
                F.when(F.col("yr") == F.col("y0") + 2, F.col("h")).otherwise(0)
            )
            .cast("long")
            .alias("x2"),
        )
    )
    items = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(per, on=F.col("c_custkey") == F.col("o_custkey"), how="left")
        .select(
            F.coalesce("x0", F.lit(0)).cast("long").alias("x0"),
            F.coalesce("x1", F.lit(0)).cast("long").alias("x1"),
            F.coalesce("x2", F.lit(0)).cast("long").alias("x2"),
        )
    )
    t = F.col("x0") + F.col("x1") + F.col("x2")
    m = items.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x0").cast("long").alias("s0"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x0") * F.col("x0")).cast("long").alias("q0"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("q1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("q2"),
        F.sum(t * t).cast("long").alias("qt"),
        F.sum(t).cast("long").alias("st"),
    )
    nd = F.col("n").cast("double")
    vt = nd * F.col("qt") - F.col("st").cast("double") * F.col("st")
    vi = (
        (nd * F.col("q0") - F.col("s0").cast("double") * F.col("s0"))
        + (nd * F.col("q1") - F.col("s1").cast("double") * F.col("s1"))
        + (nd * F.col("q2") - F.col("s2").cast("double") * F.col("s2"))
    )
    return m.select(
        F.col("n").alias("n_subjects"),
        F.lit(3).cast("long").alias("k_items"),
        F.round(vt / (nd * nd), 4).alias("var_total_n"),
        F.round(vi / (nd * nd), 4).alias("var_items_n"),
        F.round((3.0 / 2.0) * (1.0 - vi / vt), 6).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# R386 spectral entropy of daily revenue over the fixed period grid
# ---------------------------------------------------------------------------

_SPEC_PERIODS = (7, 14, 30, 91, 182, 365)


@register(
    "spectral_entropy_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM d
    ),
    grid AS (
      SELECT unnest(ARRAY[{", ".join(str(p) for p in _SPEC_PERIODS)}])
        AS period
    ),
    terms AS (
      -- centered series scaled by n (n*y_t - S is a pure BIGINT);
      -- each cos/sin product snapped to the unit grid before the
      -- BIGINT sum (order-free)
      SELECT g.period,
             CAST(sum(CAST(floor(
               (CAST(tot.n AS DOUBLE) * d.y - tot.s)
               * cos(2 * pi() * (d.t - 1) / g.period) + 0.5)
               AS BIGINT)) AS BIGINT) AS c1,
             CAST(sum(CAST(floor(
               (CAST(tot.n AS DOUBLE) * d.y - tot.s)
               * sin(2 * pi() * (d.t - 1) / g.period) + 0.5)
               AS BIGINT)) AS BIGINT) AS s1
      FROM d CROSS JOIN grid g CROSS JOIN tot
      GROUP BY g.period
    ),
    pw AS (
      SELECT period,
             CAST(c1 AS DOUBLE) * c1 + CAST(s1 AS DOUBLE) * s1 AS p
      FROM terms
    ),
    ps AS (SELECT CAST(sum(p) AS DOUBLE) AS ptot FROM pw),
    ent AS (
      SELECT CAST(sum(CAST(floor(
               CASE WHEN pw.p > 0
                    THEN -(pw.p / ps.ptot) * ln(pw.p / ps.ptot)
                    ELSE 0 END * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h9
      FROM pw CROSS JOIN ps
    ),
    dom AS (
      SELECT CAST(period AS BIGINT) AS dominant_period
      FROM pw ORDER BY p DESC, period LIMIT 1
    )
    SELECT (SELECT n FROM tot) AS n_days,
           dom.dominant_period,
           round(CAST(ent.h9 AS DOUBLE) / 1e9, 6) AS spectral_entropy,
           round(CAST(ent.h9 AS DOUBLE) / 1e9
                 / ln({len(_SPEC_PERIODS)}.0), 6) AS spectral_entropy_norm
    FROM ent CROSS JOIN dom
    """,
)
def spectral_entropy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R386 spectral entropy of daily revenue over the fixed period
    grid {_SPEC_PERIODS}: normalize the per-period DFT powers (the
    periodogram_fixed_bins probe) to a distribution and report its
    Shannon entropy — the standard "forecastability" feature
    (low entropy = concentrated spectrum = predictable seasonality;
    the tsfeatures/catch22 headline statistic), which the registry's
    periodogram/seasonality-strength queries do not reduce to.
    Determinism: the centered series is the n-scaled BIGINT n·y_t -
    S; each cos/sin product is snapped to the UNIT grid before the
    per-period BIGINT sum (relative error ~1e-10 on the ~1e10-scale
    operands, far below the 6dp output); powers are exact-operand
    doubles of those integers; the 6 entropy terms are 1e-9-snapped
    then integer-summed.  Same single-pass map-side cos/sin shape as
    the gated periodogram at 100 TB."""
    import math as _math

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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .localCheckpoint(eager=False)
    )
    tot = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    grid = local_frame(
        spark,
        [(p,) for p in _SPEC_PERIODS], "period int"
    )
    centered = F.col("n").cast("double") * F.col("y") - F.col("s")
    ang = 2 * _math.pi * (F.col("t") - 1) / F.col("period")
    terms = (
        d.crossJoin(F.broadcast(grid))
        .join(F.broadcast(tot))
        .groupBy("period")
        .agg(
            F.sum(F.floor(centered * F.cos(ang) + 0.5).cast("long"))
            .cast("long")
            .alias("c1"),
            F.sum(F.floor(centered * F.sin(ang) + 0.5).cast("long"))
            .cast("long")
            .alias("s1"),
        )
    )
    pw = terms.select(
        "period",
        (
            F.col("c1").cast("double") * F.col("c1")
            + F.col("s1").cast("double") * F.col("s1")
        ).alias("p"),
    ).localCheckpoint(eager=False)
    ps = pw.agg(F.sum("p").alias("ptot"))
    ent = (
        pw.join(F.broadcast(ps))
        .select(
            F.floor(
                F.when(
                    F.col("p") > 0,
                    -(F.col("p") / F.col("ptot"))
                    * F.log(F.col("p") / F.col("ptot")),
                ).otherwise(0.0)
                * 1e9
                + 0.5
            )
            .cast("long")
            .alias("t9")
        )
        .agg(F.sum("t9").cast("long").alias("h9"))
    )
    dom = pw.orderBy(F.col("p").desc(), "period").limit(1).select(
        F.col("period").cast("long").alias("dominant_period")
    )
    return (
        tot.select("n")
        .join(F.broadcast(ent))
        .join(F.broadcast(dom))
        .select(
            F.col("n").alias("n_days"),
            "dominant_period",
            F.round(F.col("h9").cast("double") / 1e9, 6).alias(
                "spectral_entropy"
            ),
            F.round(
                F.col("h9").cast("double")
                / 1e9
                / _math.log(len(_SPEC_PERIODS)),
                6,
            ).alias("spectral_entropy_norm"),
        )
    )


# ---------------------------------------------------------------------------
# R387 detrended fluctuation analysis (DFA) of daily revenue
# ---------------------------------------------------------------------------

_DFA_BOXES = (8, 16, 32, 64)


@register(
    "dfa_alpha_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM d
    ),
    prof AS MATERIALIZED (
      -- integer profile on the thousand-dollar grid:
      -- zk_t = floor((cumsum_t - t*mean) / 1000) via the n-scaled
      -- BIGINT n*cumsum_t - t*S
      SELECT d.t,
             CAST(floor((CAST(sum(d2.y) AS DOUBLE) * tot.n
                         - CAST(d.t AS DOUBLE) * tot.s)
                        / (1000.0 * tot.n)) AS BIGINT) AS zk
      FROM d
      JOIN d d2 ON d2.t <= d.t
      CROSS JOIN tot
      GROUP BY d.t, tot.n, tot.s
    ),
    grid AS (
      SELECT unnest(ARRAY[{", ".join(str(b) for b in _DFA_BOXES)}]) AS b
    ),
    boxed AS MATERIALIZED (
      SELECT g.b,
             CAST((p.t - 1) // g.b AS BIGINT) AS box,
             CAST((p.t - 1) % g.b + 1 AS BIGINT) AS i,
             p.zk
      FROM prof p CROSS JOIN grid g
    ),
    bm AS MATERIALIZED (
      SELECT b, box,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(i) AS BIGINT) AS si,
             CAST(sum(zk) AS BIGINT) AS sz,
             CAST(sum(i * i) AS BIGINT) AS sii,
             CAST(sum(i * zk) AS BIGINT) AS siz,
             CAST(sum(zk * zk) AS BIGINT) AS szz
      FROM boxed GROUP BY b, box
      HAVING count(*) = b
    ),
    rss AS (
      -- per-box OLS detrend RSS (closed form from BIGINT moments),
      -- snapped to the 1e-3 grid before the cross-box BIGINT sum
      SELECT b, box, cnt,
             CAST(floor((
               (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / cnt)
               - power(CAST(siz AS DOUBLE) - CAST(si AS DOUBLE) * sz / cnt, 2)
                 / (CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * si / cnt)
             ) * 1e3 + 0.5) AS BIGINT) AS rss3
      FROM bm
    ),
    fb AS MATERIALIZED (
      SELECT b,
             CAST(count(*) AS BIGINT) AS n_boxes,
             sqrt(CAST(sum(rss3) AS DOUBLE) / 1e3
                  / (count(*) * b)) AS f
      FROM rss GROUP BY b
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(ln(CAST(b AS DOUBLE))) AS sx,
             sum(ln(f)) AS sy,
             sum(ln(CAST(b AS DOUBLE)) * ln(CAST(b AS DOUBLE))) AS sxx,
             sum(ln(CAST(b AS DOUBLE)) * ln(f)) AS sxy
      FROM fb
    )
    SELECT (SELECT n FROM tot) AS n_days,
           round((SELECT f FROM fb WHERE b = 8), 4) AS f8,
           round((SELECT f FROM fb WHERE b = 16), 4) AS f16,
           round((SELECT f FROM fb WHERE b = 32), 4) AS f32,
           round((SELECT f FROM fb WHERE b = 64), 4) AS f64,
           round((fit.k * fit.sxy - fit.sx * fit.sy)
                 / (fit.k * fit.sxx - fit.sx * fit.sx), 4) AS dfa_alpha
    FROM fit
    """,
)
def dfa_alpha_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R387 detrended fluctuation analysis (Peng 1994) scaling
    exponent of daily revenue — the OTHER standard long-range-
    dependence estimator next to the registry's hurst_exponent_revenue
    (R/S): integrate the centered series into a profile, split into
    boxes of size b ∈ {_DFA_BOXES}, OLS-detrend each box, and fit the
    log-log slope of the RMS fluctuation F(b).  Exactness chain: the
    profile is the n-scaled BIGINT n·cumsum_t - t·S floored onto the
    thousand-dollar grid (integer zk; 1e3 granularity is ~2e-5
    relative on the ~5e7-dollar profile — invisible at the 4dp
    output); per-box moments are pure BIGINTs; each box's closed-form
    RSS is snapped to 1e-3 before the cross-box BIGINT sum; the
    4-point log-log fit is exact-operand.  The windowed cumulative
    sum is ONE ordered prefix window (not the quadratic join the
    oracle unrolls — DuckDB's day frame is calendar-bounded);
    everything else is two hash aggregates.  α≈0.5 = white noise,
    α≈1 = 1/f, α≈1.5 = random walk."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
    )
    tot = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    cum = d.withColumn(
        "cs",
        F.sum("y").over(
            Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    prof = (
        cum.join(F.broadcast(tot))
        .select(
            "t",
            F.floor(
                (
                    F.col("cs").cast("double") * F.col("n")
                    - F.col("t").cast("double") * F.col("s")
                )
                / (1000.0 * F.col("n"))
            )
            .cast("long")
            .alias("zk"),
        )
        .localCheckpoint(eager=False)
    )
    grid = local_frame(spark, [(b,) for b in _DFA_BOXES], "b int")
    boxed = prof.crossJoin(F.broadcast(grid)).select(
        "b",
        F.floor((F.col("t") - 1) / F.col("b")).cast("long").alias("box"),
        ((F.col("t") - 1) % F.col("b") + 1).cast("long").alias("i"),
        "zk",
    )
    bm = (
        boxed.groupBy("b", "box")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("i").cast("long").alias("si"),
            F.sum("zk").cast("long").alias("sz"),
            F.sum(F.col("i") * F.col("i")).cast("long").alias("sii"),
            F.sum(F.col("i") * F.col("zk")).cast("long").alias("siz"),
            F.sum(F.col("zk") * F.col("zk")).cast("long").alias("szz"),
        )
        .where(F.col("cnt") == F.col("b"))
    )
    cd = F.col("cnt").cast("double")
    szz_c = F.col("szz").cast("double") - F.col("sz").cast("double") * F.col(
        "sz"
    ) / cd
    siz_c = F.col("siz").cast("double") - F.col("si").cast("double") * F.col(
        "sz"
    ) / cd
    sii_c = F.col("sii").cast("double") - F.col("si").cast("double") * F.col(
        "si"
    ) / cd
    rss = bm.select(
        "b",
        F.floor((szz_c - F.pow(siz_c, 2) / sii_c) * 1e3 + 0.5)
        .cast("long")
        .alias("rss3"),
    )
    fb = rss.groupBy("b").agg(
        F.count("*").cast("long").alias("n_boxes"),
        F.sqrt(
            F.sum("rss3").cast("double")
            / 1e3
            / (F.count("*") * F.col("b"))
        ).alias("f"),
    ).localCheckpoint(eager=False)
    lb = F.log(F.col("b").cast("double"))
    fit = fb.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(lb).alias("sx"),
        F.sum(F.log("f")).alias("sy"),
        F.sum(lb * lb).alias("sxx"),
        F.sum(lb * F.log("f")).alias("sxy"),
    )

    def f_at(b: int):
        return fb.where(F.col("b") == b).select(
            F.round("f", 4).alias(f"f{b}")
        )

    out = tot.select(F.col("n").alias("n_days"))
    for b in _DFA_BOXES:
        out = out.join(F.broadcast(f_at(b)))
    slope = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return out.join(F.broadcast(fit)).select(
        "n_days",
        "f8",
        "f16",
        "f32",
        "f64",
        F.round(slope, 4).alias("dfa_alpha"),
    )


# ---------------------------------------------------------------------------
# R388 Higuchi fractal dimension of daily revenue
# ---------------------------------------------------------------------------

_HIGUCHI_KMAX = 8


@register(
    "higuchi_fd_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    grid AS (
      SELECT unnest(generate_series(1, {_HIGUCHI_KMAX})) AS k
    ),
    steps AS (
      -- all step-k absolute differences, keyed by the offset class
      -- m = (t-1) % k + 1 (pure integers)
      SELECT g.k,
             CAST((a.t - 1) % g.k + 1 AS BIGINT) AS m,
             CAST(abs(b.y - a.y) AS BIGINT) AS ad
      FROM d a
      CROSS JOIN grid g
      JOIN d b ON b.t = a.t + g.k
    ),
    perm AS (
      -- L_m(k) = S_m * (n-1) / (q_m * k * k), snapped at 1e-6 before
      -- the per-k BIGINT mean
      SELECT k, m,
             CAST(sum(ad) AS BIGINT) AS s_m,
             CAST(count(*) AS BIGINT) AS q_m
      FROM steps GROUP BY k, m
    ),
    lk AS MATERIALIZED (
      SELECT perm.k,
             CAST(sum(CAST(floor(
               CAST(perm.s_m AS DOUBLE) * (tot.n - 1)
               / (CAST(perm.q_m AS DOUBLE) * perm.k * perm.k)
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS lsum6,
             CAST(count(*) AS BIGINT) AS n_offsets
      FROM perm CROSS JOIN tot
      GROUP BY perm.k
    ),
    pts AS (
      SELECT k,
             ln(CAST(lsum6 AS DOUBLE) / 1e6 / n_offsets) AS ly,
             ln(1.0 / k) AS lx
      FROM lk
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS kk,
             sum(lx) AS sx, sum(ly) AS sy,
             sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
      FROM pts
    )
    SELECT (SELECT n FROM tot) AS n_days,
           round((SELECT CAST(lsum6 AS DOUBLE) / 1e6 / n_offsets
                  FROM lk WHERE k = 1), 4) AS l1,
           round((SELECT CAST(lsum6 AS DOUBLE) / 1e6 / n_offsets
                  FROM lk WHERE k = {_HIGUCHI_KMAX}), 4)
             AS l{_HIGUCHI_KMAX},
           round((fit.kk * fit.sxy - fit.sx * fit.sy)
                 / (fit.kk * fit.sxx - fit.sx * fit.sx), 4) AS higuchi_fd
    FROM fit
    """,
)
def higuchi_fd_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R388 Higuchi (1988) fractal dimension of daily revenue, kmax =
    {_HIGUCHI_KMAX}: for each lag k and offset class m, the curve
    length L_m(k) = Σ|y_(m+ik) - y_(m+(i-1)k)| · (n-1)/(q·k²); FD is
    the slope of ln L̄(k) on ln(1/k) — the third fractal/memory
    estimator next to hurst (R/S) and dfa_alpha (detrended RMS),
    each with different finite-sample bias (reporting all three is
    the standard practice).  Step sums are PURE BIGINTs from one
    step-k self-join on the day index; each offset's normalized
    length is snapped at 1e-6 before the per-k integer mean; the
    8-point log-log fit is exact-operand.  FD∈[1,2]: 1.5 ≈ random
    walk increments, →2 = plane-filling noise."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .localCheckpoint(eager=False)
    )
    tot = d.agg(F.count("*").cast("long").alias("n"))
    grid = spark.range(1, _HIGUCHI_KMAX + 1).select(
        F.col("id").cast("int").alias("k")
    )
    a = d.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = d.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    steps = (
        a.crossJoin(F.broadcast(grid))
        .join(b, F.col("tb") == F.col("ta") + F.col("k"))
        .select(
            "k",
            ((F.col("ta") - 1) % F.col("k") + 1).cast("long").alias("m"),
            F.abs(F.col("yb") - F.col("ya")).cast("long").alias("ad"),
        )
    )
    perm = steps.groupBy("k", "m").agg(
        F.sum("ad").cast("long").alias("s_m"),
        F.count("*").cast("long").alias("q_m"),
    )
    lk = (
        perm.join(F.broadcast(tot))
        .select(
            "k",
            F.floor(
                F.col("s_m").cast("double")
                * (F.col("n") - 1)
                / (
                    F.col("q_m").cast("double")
                    * F.col("k")
                    * F.col("k")
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("l6"),
        )
        .groupBy("k")
        .agg(
            F.sum("l6").cast("long").alias("lsum6"),
            F.count("*").cast("long").alias("n_offsets"),
        )
        .localCheckpoint(eager=False)
    )
    pts = lk.select(
        "k",
        F.log(
            F.col("lsum6").cast("double") / 1e6 / F.col("n_offsets")
        ).alias("ly"),
        F.log(1.0 / F.col("k")).alias("lx"),
    )
    fit = pts.agg(
        F.count("*").cast("long").alias("kk"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    lmean = lambda kv: lk.where(F.col("k") == kv).select(  # noqa: E731
        F.round(
            F.col("lsum6").cast("double") / 1e6 / F.col("n_offsets"), 4
        ).alias(f"l{kv}")
    )
    slope = (F.col("kk") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("kk") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        tot.select(F.col("n").alias("n_days"))
        .join(F.broadcast(lmean(1)))
        .join(F.broadcast(lmean(_HIGUCHI_KMAX)))
        .join(F.broadcast(fit))
        .select(
            "n_days",
            "l1",
            f"l{_HIGUCHI_KMAX}",
            F.round(slope, 4).alias("higuchi_fd"),
        )
    )


# ---------------------------------------------------------------------------
# R389 survey sampling: ratio and regression estimators vs HT baseline
# ---------------------------------------------------------------------------


@register(
    "ratio_regression_estimator",
    sql="""
    WITH pop AS MATERIALIZED (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             l.x,
             CASE WHEN substring(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 1)
                       < '4' THEN 1 ELSE 0 END AS in_s
      FROM orders o
      JOIN (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                 AS x
        FROM lineitem GROUP BY l_orderkey
      ) l ON l.l_orderkey = o.o_orderkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(in_s) AS BIGINT) AS n_s,
             CAST(sum(y) AS BIGINT) AS ty,
             CAST(sum(x) AS BIGINT) AS tx,
             CAST(sum(in_s * y) AS BIGINT) AS sy,
             CAST(sum(in_s * x) AS BIGINT) AS sx,
             CAST(sum(in_s * x * y) AS BIGINT) AS sxy,
             CAST(sum(in_s * x * x) AS BIGINT) AS sxx
      FROM pop
    )
    SELECT n_pop, n_s, ty AS true_total_cents,
           round(CAST(n_pop AS DOUBLE) / n_s * sy, 0) AS ht_est,
           round(CAST(sy AS DOUBLE) / sx * tx, 0) AS ratio_est,
           round(CAST(n_pop AS DOUBLE) * (
             CAST(sy AS DOUBLE) / n_s
             + (CAST(n_s AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n_s AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * (CAST(tx AS DOUBLE) / n_pop - CAST(sx AS DOUBLE) / n_s)
           ), 0) AS reg_est,
           round(abs(CAST(n_pop AS DOUBLE) / n_s * sy - ty)
                 / ty * 1e4, 2) AS ht_err_bp,
           round(abs(CAST(sy AS DOUBLE) / sx * tx - ty)
                 / ty * 1e4, 2) AS ratio_err_bp,
           round(abs(CAST(n_pop AS DOUBLE) * (
             CAST(sy AS DOUBLE) / n_s
             + (CAST(n_s AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n_s AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * (CAST(tx AS DOUBLE) / n_pop - CAST(sx AS DOUBLE) / n_s)
           ) - ty) / ty * 1e4, 2) AS reg_err_bp
    FROM m
    """,
)
def ratio_regression_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R389 classical survey-sampling estimators of total revenue from
    a deterministic md5 25% order sample, using total line quantity
    as the auxiliary with KNOWN population total: the expansion (HT)
    estimator N/n·Σy, the ratio estimator (Σy/Σx)·X, and the linear
    regression estimator N(ȳ + b(X̄-x̄)) — the model-assisted family
    the registry's horvitz_thompson/neyman_allocation queries do not
    include (those do design weights/allocation; ratio/regression
    exploit an auxiliary).  Every moment is a BIGINT over the joined
    frame (x·y ≤ ~3e10 per row); estimators and their basis-point
    errors vs the exact true total are exact-operand doubles.  One
    fact-fact equi-join + one aggregate: the standard audit-sampling
    shape at 100 TB."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    lx = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("x"))
    )
    pop = o.join(lx, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "y",
        "x",
        F.when(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
            < "4",
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("in_s"),
    )
    m = pop.agg(
        F.count("*").cast("long").alias("n_pop"),
        F.sum("in_s").cast("long").alias("n_s"),
        F.sum("y").cast("long").alias("ty"),
        F.sum("x").cast("long").alias("tx"),
        F.sum(F.col("in_s") * F.col("y")).cast("long").alias("sy"),
        F.sum(F.col("in_s") * F.col("x")).cast("long").alias("sx"),
        F.sum(F.col("in_s") * F.col("x") * F.col("y"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.col("in_s") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("sxx"),
    )
    npop = F.col("n_pop").cast("double")
    ns = F.col("n_s").cast("double")
    ht = npop / ns * F.col("sy")
    ratio = F.col("sy").cast("double") / F.col("sx") * F.col("tx")
    b = (ns * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        ns * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    reg = npop * (
        F.col("sy").cast("double") / ns
        + b * (F.col("tx").cast("double") / npop - F.col("sx").cast("double") / ns)
    )
    ty = F.col("ty").cast("double")
    return m.select(
        "n_pop",
        "n_s",
        F.col("ty").alias("true_total_cents"),
        F.round(ht, 0).alias("ht_est"),
        F.round(ratio, 0).alias("ratio_est"),
        F.round(reg, 0).alias("reg_est"),
        F.round(F.abs(ht - ty) / ty * 1e4, 2).alias("ht_err_bp"),
        F.round(F.abs(ratio - ty) / ty * 1e4, 2).alias("ratio_err_bp"),
        F.round(F.abs(reg - ty) / ty * 1e4, 2).alias("reg_err_bp"),
    )


# ---------------------------------------------------------------------------
# R390 association-rule metric panel (conviction / leverage / Zhang / Jaccard)
# ---------------------------------------------------------------------------

_RULE_TOPK = 30


@register(
    "basket_rule_metrics",
    sql=f"""
    WITH baskets AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS item
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM baskets),
    item_n AS MATERIALIZED (
      SELECT item, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY item
    ),
    pair_n AS MATERIALIZED (
      SELECT a.item AS ante, b.item AS cons, CAST(count(*) AS BIGINT) AS c
      FROM baskets a JOIN baskets b ON a.o = b.o AND a.item <> b.item
      GROUP BY 1, 2
    ),
    top_rules AS (
      SELECT ante, cons, c FROM pair_n
      ORDER BY c DESC, ante, cons LIMIT {_RULE_TOPK}
    )
    SELECT r.ante, r.cons, r.c AS n_both,
           round(CAST(r.c AS DOUBLE) / ia.c, 6) AS confidence,
           round((1.0 - CAST(ic.c AS DOUBLE) / nb.n)
                 / (1.0 - CAST(r.c AS DOUBLE) / ia.c), 6) AS conviction,
           round(CAST(r.c AS DOUBLE) / nb.n
                 - (CAST(ia.c AS DOUBLE) / nb.n)
                   * (CAST(ic.c AS DOUBLE) / nb.n), 6) AS leverage,
           round((CAST(r.c AS DOUBLE) / nb.n
                  - (CAST(ia.c AS DOUBLE) / nb.n)
                    * (CAST(ic.c AS DOUBLE) / nb.n))
                 / greatest(
                     (CAST(r.c AS DOUBLE) / nb.n)
                     * (1.0 - CAST(ia.c AS DOUBLE) / nb.n),
                     (CAST(ia.c AS DOUBLE) / nb.n)
                     * (CAST(ic.c AS DOUBLE) / nb.n
                        - CAST(r.c AS DOUBLE) / nb.n)), 6) AS zhang,
           round(CAST(r.c AS DOUBLE) / (ia.c + ic.c - r.c), 6) AS jaccard
    FROM top_rules r
    JOIN item_n ia ON ia.item = r.ante
    JOIN item_n ic ON ic.item = r.cons
    CROSS JOIN nb
    """,
)
def basket_rule_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R390 the four association-rule interestingness measures beyond
    support/confidence/lift (which association_rules_pairs already
    gates): conviction (1-supp(B))/(1-conf), leverage supp(AB)-
    supp(A)supp(B), Zhang's metric (leverage normalized by its
    maximum — the direction-corrected lift), and rule Jaccard — over
    the top-{_RULE_TOPK} brand co-occurrence rules (brand baskets
    keep the item dimension model-sized; ties broken by pair name).
    All measures are exact rationals of three BIGINT counts
    (basket, item, pair) composed with the same expression tree on
    both engines.  One distinct-projection + one self-equi-join on
    the order key: the standard market-basket shape, linear in
    baskets at 100 TB."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            load_table(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            on=F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nb = baskets.agg(F.countDistinct("o").cast("long").alias("n"))
    item_n = baskets.groupBy("item").agg(
        F.count("*").cast("long").alias("c")
    )
    a = baskets.select(F.col("o"), F.col("item").alias("ante"))
    b = baskets.select(F.col("o"), F.col("item").alias("cons"))
    pair_n = (
        a.join(b, on="o")
        .where(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = pair_n.orderBy(F.col("c").desc(), "ante", "cons").limit(_RULE_TOPK)
    ia = item_n.select(F.col("item").alias("ante"), F.col("c").alias("ca"))
    ic = item_n.select(F.col("item").alias("cons"), F.col("c").alias("cc"))
    j = (
        top.join(F.broadcast(ia), on="ante")
        .join(F.broadcast(ic), on="cons")
        .join(F.broadcast(nb))
    )
    nd = F.col("n").cast("double")
    supp_ab = F.col("c").cast("double") / nd
    supp_a = F.col("ca").cast("double") / nd
    supp_b = F.col("cc").cast("double") / nd
    conf = F.col("c").cast("double") / F.col("ca")
    lev = supp_ab - supp_a * supp_b
    return j.select(
        "ante",
        "cons",
        F.col("c").alias("n_both"),
        F.round(conf, 6).alias("confidence"),
        F.round((1.0 - supp_b) / (1.0 - conf), 6).alias("conviction"),
        F.round(lev, 6).alias("leverage"),
        F.round(
            lev
            / F.greatest(
                supp_ab * (1.0 - supp_a), supp_a * (supp_b - supp_ab)
            ),
            6,
        ).alias("zhang"),
        F.round(
            F.col("c").cast("double")
            / (F.col("ca") + F.col("cc") - F.col("c")),
            6,
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# R391 Gwet's AC1 agreement coefficient (same 3-rater design as Fleiss)
# ---------------------------------------------------------------------------


def _gwet_oracle_sql() -> str:
    """AC1 over the SAME rater CTEs the gated Fleiss oracle uses
    (round10_ops._RATERS_SQL ends in `counts(n, pairs, n0, n1, n2)`)."""
    from zoom_spark.queries.round10_ops import _RATERS_SQL

    pi = lambda c: f"(CAST({c} AS DOUBLE) / (3.0 * n))"  # noqa: E731
    pe = (
        f"(({pi('n0')} * (1.0 - {pi('n0')})"
        f" + {pi('n1')} * (1.0 - {pi('n1')})"
        f" + {pi('n2')} * (1.0 - {pi('n2')})) / 2.0)"
    )
    pa = "(CAST(pairs AS DOUBLE) / (3.0 * n))"
    return f"""
    WITH {_RATERS_SQL.strip()}
    SELECT n AS n_items,
           round({pa}, 6) AS p_a,
           round({pe}, 6) AS p_e_gwet,
           round(({pa} - {pe}) / (1.0 - {pe}), 6) AS ac1
    FROM counts
    """


@register("gwet_ac1_orders", sql=_gwet_oracle_sql())
def gwet_ac1_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R391 Gwet's AC1 (2008) chance-corrected agreement over the
    SAME 3-rater × 3-category order-size design as the gated
    fleiss_kappa_orders (R348) — AC1's chance model Pe = 1/(k-1) ·
    Σ_q π̄_q(1-π̄_q) is robust to the kappa paradox (Fleiss' kappa
    collapses under prevalence skew; reporting both is the standard
    agreement-study practice, and the shared design makes the
    contrast interpretable).  Pa reduces to the equal-pair count as
    in Fleiss; π̄_q = n_q/(3n).  All numerators BIGINT; AC1 is one
    exact-operand expression.  Same single join + aggregate shape."""
    li = (
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
    rated = (
        load_table(spark, sf_dir, "orders")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.when(F.col("o_totalprice") < 77000, 0)
            .when(F.col("o_totalprice") < 150000, 1)
            .otherwise(2)
            .alias("c1"),
            F.when(F.col("gross") < 7500000, 0)
            .when(F.col("gross") < 14500000, 1)
            .otherwise(2)
            .alias("c2"),
            F.when(F.col("qty") < 60, 0)
            .when(F.col("qty") < 120, 1)
            .otherwise(2)
            .alias("c3"),
        )
    )
    eqp = (
        F.when(F.col("c1") == F.col("c2"), 1).otherwise(0)
        + F.when(F.col("c1") == F.col("c3"), 1).otherwise(0)
        + F.when(F.col("c2") == F.col("c3"), 1).otherwise(0)
    )
    cat = lambda q: (  # noqa: E731
        F.when(F.col("c1") == q, 1).otherwise(0)
        + F.when(F.col("c2") == q, 1).otherwise(0)
        + F.when(F.col("c3") == q, 1).otherwise(0)
    )
    counts = rated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(eqp).cast("long").alias("pairs"),
        F.sum(cat(0)).cast("long").alias("n0"),
        F.sum(cat(1)).cast("long").alias("n1"),
        F.sum(cat(2)).cast("long").alias("n2"),
    )
    nd = F.col("n").cast("double")
    pa = F.col("pairs").cast("double") / (3.0 * F.col("n"))
    pi = lambda c: F.col(c).cast("double") / (3.0 * nd)  # noqa: E731
    pe = (
        (pi("n0") * (1.0 - pi("n0")))
        + (pi("n1") * (1.0 - pi("n1")))
        + (pi("n2") * (1.0 - pi("n2")))
    ) / 2.0
    return counts.select(
        F.col("n").alias("n_items"),
        F.round(pa, 6).alias("p_a"),
        F.round(pe, 6).alias("p_e_gwet"),
        F.round((pa - pe) / (1.0 - pe), 6).alias("ac1"),
    )


# ---------------------------------------------------------------------------
# R392 log-log price elasticity of demand across parts
# ---------------------------------------------------------------------------


@register(
    "price_elasticity_loglog",
    sql="""
    WITH per_part AS MATERIALIZED (
      SELECT p.p_partkey,
             CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS pc,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    terms AS (
      -- each log and each product snapped to the 1e-9 grid per row,
      -- so every cross-row sum is a BIGINT reduction
      SELECT
        CAST(floor(ln(CAST(pc AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lp9,
        CAST(floor(ln(CAST(q AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS lq9,
        CAST(floor(ln(CAST(pc AS DOUBLE)) * ln(CAST(q AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT) AS lpq9,
        CAST(floor(ln(CAST(pc AS DOUBLE)) * ln(CAST(pc AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT) AS lpp9,
        CAST(floor(ln(CAST(q AS DOUBLE)) * ln(CAST(q AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT) AS lqq9
      FROM per_part
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lp9) AS BIGINT) AS sp,
             CAST(sum(lq9) AS BIGINT) AS sq,
             CAST(sum(lpq9) AS BIGINT) AS spq,
             CAST(sum(lpp9) AS BIGINT) AS spp,
             CAST(sum(lqq9) AS BIGINT) AS sqq
      FROM terms
    )
    SELECT n AS n_parts,
           round((CAST(n AS DOUBLE) * spq / 1e9
                  - CAST(sp AS DOUBLE) / 1e9 * sq / 1e9)
                 / (CAST(n AS DOUBLE) * spp / 1e9
                    - CAST(sp AS DOUBLE) / 1e9 * sp / 1e9), 6)
             AS elasticity,
           round((CAST(sq AS DOUBLE) / 1e9
                  - (CAST(n AS DOUBLE) * spq / 1e9
                     - CAST(sp AS DOUBLE) / 1e9 * sq / 1e9)
                    / (CAST(n AS DOUBLE) * spp / 1e9
                       - CAST(sp AS DOUBLE) / 1e9 * sp / 1e9)
                    * sp / 1e9) / n, 6) AS intercept,
           round(power(CAST(n AS DOUBLE) * spq / 1e9
                       - CAST(sp AS DOUBLE) / 1e9 * sq / 1e9, 2)
                 / ((CAST(n AS DOUBLE) * spp / 1e9
                     - CAST(sp AS DOUBLE) / 1e9 * sp / 1e9)
                    * (CAST(n AS DOUBLE) * sqq / 1e9
                       - CAST(sq AS DOUBLE) / 1e9 * sq / 1e9)), 6)
             AS r2
    FROM m
    """,
)
def price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R392 constant-elasticity (log-log) demand regression across
    parts: ln(total quantity sold) on ln(retail price cents);
    the slope IS the price elasticity of demand, with R² as fit
    quality — the standard pricing-analytics primitive the
    registry's linear/robust/ridge trend regressions (all on raw or
    time scales) do not cover.  Determinism for the transcendental
    moments: every per-row log and log-product is snapped to the
    1e-9 grid (exact-operand ln of BIGINT cents/quantities), so the
    cross-row moment sums are BIGINT reductions — summation order
    cannot matter; the OLS closed form then runs on the snapped
    moments.  One fact-dim join + one aggregate: scan-bound at
    100 TB."""
    per_part = (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("pc"),
        )
        .join(
            load_table(spark, sf_dir, "lineitem").select(
                "l_partkey", F.col("l_quantity").cast("long").alias("qd")
            ),
            on=F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_partkey", "pc")
        .agg(F.sum("qd").cast("long").alias("q"))
    )
    lp = F.log(F.col("pc").cast("double"))
    lq = F.log(F.col("q").cast("double"))
    s9 = lambda c: F.floor(c * 1e9 + 0.5).cast("long")  # noqa: E731
    terms = per_part.select(
        s9(lp).alias("lp9"),
        s9(lq).alias("lq9"),
        s9(lp * lq).alias("lpq9"),
        s9(lp * lp).alias("lpp9"),
        s9(lq * lq).alias("lqq9"),
    )
    m = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lp9").cast("long").alias("sp"),
        F.sum("lq9").cast("long").alias("sq"),
        F.sum("lpq9").cast("long").alias("spq"),
        F.sum("lpp9").cast("long").alias("spp"),
        F.sum("lqq9").cast("long").alias("sqq"),
    )
    nd = F.col("n").cast("double")
    sp = F.col("sp").cast("double") / 1e9
    sq = F.col("sq").cast("double") / 1e9
    spq = F.col("spq").cast("double") / 1e9
    spp = F.col("spp").cast("double") / 1e9
    sqq = F.col("sqq").cast("double") / 1e9
    cov = nd * spq - sp * sq
    varp = nd * spp - sp * sp
    varq = nd * sqq - sq * sq
    slope = cov / varp
    return m.select(
        F.col("n").alias("n_parts"),
        F.round(slope, 6).alias("elasticity"),
        F.round((sq - slope * sp) / nd, 6).alias("intercept"),
        F.round(F.pow(cov, 2) / (varp * varq), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# R393 process-mining rework / self-loop report over the event log
# ---------------------------------------------------------------------------


@register(
    "process_rework_report",
    sql="""
    WITH ev AS MATERIALIZED (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    per_type AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN prev_type = event_type
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_selfloops
      FROM ev GROUP BY event_type
    )
    SELECT event_type, n_events, n_users,
           CAST(n_events - n_users AS BIGINT) AS n_rework,
           round(CAST(n_events - n_users AS DOUBLE) / n_events, 6)
             AS rework_rate,
           n_selfloops,
           round(CAST(n_selfloops AS DOUBLE) / n_events, 6)
             AS selfloop_rate
    FROM per_type
    """,
)
def process_rework_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R393 process-mining rework report over the event log: per
    activity (event_type), total executions, distinct users, REWORK
    (executions beyond each user's first — the repeated-activity
    mass a conformance report flags), and SELF-LOOPS (immediate
    re-execution, lag over the per-user timeline with event_id
    tie-break) — the activity-level process-health counters the
    registry's eventually_follows_pairs / markov_transitions (edge-
    level) queries do not report.  Counts are pure integers from one
    per-user window + one aggregate; rates are exact-operand.  One
    user_id shuffle at 100 TB — the canonical event-log partition."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("prev_type", F.lag("event_type").over(w))
    per = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(
            F.when(F.col("prev_type") == F.col("event_type"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_selfloops"),
    )
    return per.select(
        "event_type",
        "n_events",
        "n_users",
        (F.col("n_events") - F.col("n_users")).cast("long").alias("n_rework"),
        F.round(
            (F.col("n_events") - F.col("n_users")).cast("double")
            / F.col("n_events"),
            6,
        ).alias("rework_rate"),
        "n_selfloops",
        F.round(
            F.col("n_selfloops").cast("double") / F.col("n_events"), 6
        ).alias("selfloop_rate"),
    )


# ---------------------------------------------------------------------------
# R394 Kendall's tau-b from the grouped priority × price-bucket table
# ---------------------------------------------------------------------------


@register(
    "kendall_tau_b_priority_value",
    sql="""
    WITH cells AS MATERIALIZED (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
             CAST(least(9, CAST(floor(o_totalprice / 55000) AS BIGINT))
                  AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    conc AS (
      SELECT
        CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                      THEN a.c * b.c ELSE 0 END) AS BIGINT) AS cc,
        CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                      THEN a.c * b.c ELSE 0 END) AS BIGINT) AS dd
      FROM cells a JOIN cells b
        ON (b.x > a.x) OR (b.x = a.x AND b.y > a.y)
    ),
    ties AS (
      SELECT
        CAST((SELECT sum(c) FROM cells) AS BIGINT) AS n,
        CAST((SELECT sum(tx * (tx - 1) / 2) FROM (
          SELECT CAST(sum(c) AS BIGINT) AS tx FROM cells GROUP BY x
        )) AS BIGINT) AS n1,
        CAST((SELECT sum(ty * (ty - 1) / 2) FROM (
          SELECT CAST(sum(c) AS BIGINT) AS ty FROM cells GROUP BY y
        )) AS BIGINT) AS n2
    )
    SELECT ties.n AS n_orders, conc.cc AS concordant,
           conc.dd AS discordant,
           ties.n1 AS ties_x, ties.n2 AS ties_y,
           round((CAST(conc.cc AS DOUBLE) - conc.dd)
                 / sqrt((CAST(ties.n AS DOUBLE) * (ties.n - 1) / 2 - ties.n1)
                        * (CAST(ties.n AS DOUBLE) * (ties.n - 1) / 2
                           - ties.n2)), 6) AS tau_b
    FROM conc CROSS JOIN ties
    """,
)
def kendall_tau_b_priority_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R394 Kendall's tau-b between order priority (1..5) and a fixed
    $55k price bucket (0..9) from the GROUPED 5×10 contingency table —
    completing the ordinal-association family: gk_gamma ignores ties,
    somers_d is asymmetric, kendall_tau_topk compares two top-k lists;
    tau-b = (C-D)/√((n₀-n₁)(n₀-n₂)) is the tie-corrected symmetric
    coefficient.  Concordant/discordant pair counts come from a 50-
    cell self-join with products of BIGINT cell counts (never a row-
    level pair join — grouped data makes tau-b O(k²), the textbook
    trick); tie terms are row/column-margin BIGINTs.  One aggregate +
    one 50-row join: scan-bound at 100 TB."""
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
            F.least(
                F.lit(9), F.floor(F.col("o_totalprice") / 55000)
            )
            .cast("long")
            .alias("y"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    conc = (
        a.join(
            F.broadcast(b),
            (F.col("xb") > F.col("xa"))
            | ((F.col("xb") == F.col("xa")) & (F.col("yb") > F.col("ya"))),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                    F.col("ca") * F.col("cb"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("cc"),
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                    F.col("ca") * F.col("cb"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dd"),
        )
    )
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    n1 = (
        cells.groupBy("x")
        .agg(F.sum("c").cast("long").alias("tx"))
        .agg(
            F.sum(F.col("tx") * (F.col("tx") - 1) / 2)
            .cast("long")
            .alias("n1")
        )
    )
    n2 = (
        cells.groupBy("y")
        .agg(F.sum("c").cast("long").alias("ty"))
        .agg(
            F.sum(F.col("ty") * (F.col("ty") - 1) / 2)
            .cast("long")
            .alias("n2")
        )
    )
    m = conc.join(F.broadcast(n)).join(F.broadcast(n1)).join(F.broadcast(n2))
    nd = F.col("n").cast("double")
    n0 = nd * (F.col("n") - 1) / 2.0
    return m.select(
        F.col("n").alias("n_orders"),
        F.col("cc").alias("concordant"),
        F.col("dd").alias("discordant"),
        F.col("n1").alias("ties_x"),
        F.col("n2").alias("ties_y"),
        F.round(
            (F.col("cc").cast("double") - F.col("dd"))
            / F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# R395 Hodges-Lehmann shift estimate: weekend vs weekday daily revenue
# ---------------------------------------------------------------------------


@register(
    "hodges_lehmann_weekend_shift",
    sql="""
    WITH d AS MATERIALIZED (
      SELECT CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        / 100) AS BIGINT) AS y,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS wk
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    diffs AS MATERIALIZED (
      SELECT CAST(a.y - b.y AS BIGINT) AS dd
      FROM d a JOIN d b ON a.wk = 1 AND b.wk = 0
    ),
    ranked AS (
      SELECT dd,
             CAST(row_number() OVER (ORDER BY dd) AS BIGINT) AS r,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM diffs
    )
    SELECT (SELECT CAST(sum(wk) AS BIGINT) FROM d) AS n_weekend,
           (SELECT CAST(sum(1 - wk) AS BIGINT) FROM d) AS n_weekday,
           CAST(max(m) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN r = (m + 1) // 2 THEN dd ELSE 0 END)
                + sum(CASE WHEN r = m // 2 + 1 THEN dd ELSE 0 END)
                AS BIGINT) AS hl2,
           round((sum(CASE WHEN r = (m + 1) // 2 THEN dd ELSE 0 END)
                  + sum(CASE WHEN r = m // 2 + 1 THEN dd ELSE 0 END))
                 / 2.0, 1) AS hl_shift
    FROM ranked
    """,
)
def hodges_lehmann_weekend_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R395 Hodges-Lehmann shift estimator between weekend and weekday
    daily revenue: the MEDIAN of all pairwise differences y_weekend -
    y_weekday — the point estimate that accompanies the registry's
    Mann-Whitney/Brunner-Munzel weekend TESTS (which only give
    significance, not magnitude; HL is the robust effect size).
    The difference cloud is weekend-days × weekday-days — calendar-
    bounded (~1.2M exact whole-dollar BIGINTs at sf0.1, fixed by the
    date span, NOT by row volume — the fact table collapses to days
    first), so the pair join never touches raw rows.  The median is
    taken on the 2× grid (low+high order statistics summed, one
    global sort) for integer exactness at even counts."""
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
        .select(
            "y", F.when(wk.isin(5, 6), 1).otherwise(0).alias("wk")
        )
        .localCheckpoint(eager=False)
    )
    we = d.where(F.col("wk") == 1).select(F.col("y").alias("ya"))
    wd = d.where(F.col("wk") == 0).select(F.col("y").alias("yb"))
    diffs = we.crossJoin(wd).select(
        (F.col("ya") - F.col("yb")).cast("long").alias("dd")
    )
    ranked = diffs.select(
        "dd",
        F.row_number().over(Window.orderBy("dd")).cast("long").alias("r"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    counts = d.agg(
        F.sum("wk").cast("long").alias("n_weekend"),
        F.sum(1 - F.col("wk")).cast("long").alias("n_weekday"),
    )
    lo = F.sum(
        F.when(F.col("r") == F.floor((F.col("m") + 1) / 2), F.col("dd"))
        .otherwise(0)
    )
    hi = F.sum(
        F.when(F.col("r") == F.floor(F.col("m") / 2) + 1, F.col("dd"))
        .otherwise(0)
    )
    return (
        ranked.agg(
            F.max("m").cast("long").alias("n_pairs"),
            (lo + hi).cast("long").alias("hl2"),
            F.round((lo + hi) / 2.0, 1).alias("hl_shift"),
        )
        .join(F.broadcast(counts))
        .select("n_weekend", "n_weekday", "n_pairs", "hl2", "hl_shift")
    )


# ---------------------------------------------------------------------------
# R396 zero-inflated Poisson moment fit of per-user-week event counts
# ---------------------------------------------------------------------------


@register(
    "zip_moment_fit_events",
    sql="""
    WITH bounds AS (
      SELECT CAST(min(date_trunc('week', ts)) AS DATE) AS w0,
             CAST(max(date_trunc('week', ts)) AS DATE) AS w1
      FROM events
    ),
    weeks AS MATERIALIZED (
      SELECT CAST(unnest(generate_series(0,
               date_diff('week', w0, w1))) AS BIGINT) AS wk
      FROM bounds
    ),
    users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    obs AS MATERIALIZED (
      SELECT CAST(date_diff('week', b.w0, date_trunc('week', e.ts))
                  AS BIGINT) AS wk,
             e.user_id, CAST(count(*) AS BIGINT) AS c
      FROM events e CROSS JOIN bounds b
      GROUP BY 1, 2
    ),
    cells AS MATERIALIZED (
      SELECT COALESCE(o.c, 0) AS c
      FROM users u CROSS JOIN weeks w
      LEFT JOIN obs o ON o.user_id = u.user_id AND o.wk = w.wk
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS q,
             CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zeros
      FROM cells
    )
    SELECT n AS n_cells, zeros AS n_zero_cells,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_c,
           round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                 / (n - 1), 6) AS var_c,
           round(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
                  + power(CAST(s AS DOUBLE) / n, 2)
                  - CAST(s AS DOUBLE) / n)
                 / (CAST(s AS DOUBLE) / n), 6) AS lambda_hat,
           round((((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
                   + power(CAST(s AS DOUBLE) / n, 2)
                   - CAST(s AS DOUBLE) / n)
                  / (CAST(s AS DOUBLE) / n)
                  - CAST(s AS DOUBLE) / n)
                 / (((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                     / (n - 1)
                     + power(CAST(s AS DOUBLE) / n, 2)
                     - CAST(s AS DOUBLE) / n)
                    / (CAST(s AS DOUBLE) / n)), 6) AS pi_hat,
           round(CAST(zeros AS DOUBLE) / n, 6) AS p0_observed
    FROM m
    """,
)
def zip_moment_fit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R396 zero-inflated Poisson moment estimator on per-user-week
    event counts (the full user × week grid, so structural zeros are
    REAL cells): method-of-moments λ̂ = (s² + m² - m)/m and π̂ =
    (λ̂ - m)/λ̂ — the sparse-activity model the registry's Poisson
    GLM / negative-binomial overdispersion fits do not cover (NB
    spreads variance, ZIP spikes zeros; which one fits is a modeling
    decision this panel feeds).  The grid is users × calendar weeks
    (both data-bounded dimensions); counts/squares/zero counts are
    BIGINTs; estimators are exact-operand closed forms.  One groupBy
    + one broadcast grid join at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w")
    )
    bounds = ev.agg(
        F.min("w").alias("w0"), F.max("w").alias("w1")
    )
    obs = (
        ev.join(F.broadcast(bounds))
        .select(
            "user_id",
            (F.datediff("w", "w0") / 7).cast("long").alias("wk"),
        )
        .groupBy("user_id", "wk")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_weeks = bounds.select(
        ((F.datediff("w1", "w0") / 7).cast("long") + 1).alias("nw")
    )
    users = ev.select("user_id").distinct()
    weeks = (
        n_weeks.join(
            spark.range(0, 10000).select(F.col("id").cast("long").alias("wk"))
        )
        .where(F.col("wk") < F.col("nw"))
        .select("wk")
    )
    cells = (
        users.crossJoin(F.broadcast(weeks))
        .join(obs, on=["user_id", "wk"], how="left")
        .select(F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    m = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
        .cast("long")
        .alias("zeros"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s") / nd
    ) / (nd - 1)
    lam = (var + mean * mean - mean) / mean
    return m.select(
        F.col("n").alias("n_cells"),
        F.col("zeros").alias("n_zero_cells"),
        F.round(mean, 6).alias("mean_c"),
        F.round(var, 6).alias("var_c"),
        F.round(lam, 6).alias("lambda_hat"),
        F.round((lam - mean) / lam, 6).alias("pi_hat"),
        F.round(F.col("zeros").cast("double") / nd, 6).alias("p0_observed"),
    )


# ---------------------------------------------------------------------------
# R397 log-normal fit of customer spend
# ---------------------------------------------------------------------------


@register(
    "lognormal_fit_spend",
    sql="""
    WITH spend AS MATERIALIZED (
      SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    terms AS (
      SELECT cents,
             CAST(floor(ln(CAST(cents AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               AS l9,
             CAST(floor(ln(CAST(cents AS DOUBLE)) * ln(CAST(cents AS DOUBLE))
                        * 1e9 + 0.5) AS BIGINT) AS ll9
      FROM spend WHERE cents > 0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l9) AS BIGINT) AS sl,
             CAST(sum(ll9) AS BIGINT) AS sll,
             CAST(sum(cents) AS BIGINT) AS sc
      FROM terms
    )
    SELECT n AS n_customers,
           round(CAST(sl AS DOUBLE) / 1e9 / n, 6) AS mu,
           round(sqrt((CAST(sll AS DOUBLE) / 1e9
                       - CAST(sl AS DOUBLE) / 1e9 * sl / 1e9 / n)
                      / (n - 1)), 6) AS sigma,
           round(exp(CAST(sl AS DOUBLE) / 1e9 / n) / 100, 2)
             AS median_fit_dollars,
           round(exp(CAST(sl AS DOUBLE) / 1e9 / n
                     + ((CAST(sll AS DOUBLE) / 1e9
                         - CAST(sl AS DOUBLE) / 1e9 * sl / 1e9 / n)
                        / (n - 1)) / 2) / 100, 2) AS mean_fit_dollars,
           round(CAST(sc AS DOUBLE) / n / 100, 2) AS mean_obs_dollars
    FROM m
    """,
)
def lognormal_fit_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R397 log-normal MLE of customer total spend: μ̂ = mean(ln x),
    σ̂² = sample variance of ln x, with the fitted median e^μ and
    mean e^(μ+σ²/2) against the observed mean — the body-distribution
    companion to the registry's TAIL fits (gpd/gumbel/weibull/
    exponential/hill all model extremes; spend bodies are classically
    log-normal, and the fitted-vs-observed mean gap is the standard
    misfit diagnostic).  Per-row ln and ln² are snapped to 1e-9 (the
    price_elasticity discipline) so the moment sums are BIGINT
    reductions; everything after is exact-operand.  One groupBy +
    one aggregate at 100 TB."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
        .where(F.col("cents") > 0)
    )
    lx = F.log(F.col("cents").cast("double"))
    terms = spend.select(
        "cents",
        F.floor(lx * 1e9 + 0.5).cast("long").alias("l9"),
        F.floor(lx * lx * 1e9 + 0.5).cast("long").alias("ll9"),
    )
    m = terms.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("l9").cast("long").alias("sl"),
        F.sum("ll9").cast("long").alias("sll"),
        F.sum("cents").cast("long").alias("sc"),
    )
    nd = F.col("n").cast("double")
    sl = F.col("sl").cast("double") / 1e9
    sll = F.col("sll").cast("double") / 1e9
    mu = sl / nd
    var = (sll - sl * sl / nd) / (nd - 1)
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(mu, 6).alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round(F.exp(mu) / 100, 2).alias("median_fit_dollars"),
        F.round(F.exp(mu + var / 2) / 100, 2).alias("mean_fit_dollars"),
        F.round(F.col("sc").cast("double") / nd / 100, 2).alias(
            "mean_obs_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# R398 degree centralization + degree Gini of the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "degree_centralization_copurchase",
    sql=f"""
    WITH {_COPURCHASE_NBR_SQL},
    deg AS MATERIALIZED (
      SELECT z, CAST(count(*) AS BIGINT) AS d FROM nbr GROUP BY z
    ),
    ranked AS (
      SELECT d, CAST(row_number() OVER (ORDER BY d, z) AS BIGINT) AS r
      FROM deg
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(max(d) AS BIGINT) AS dmax,
             CAST(sum((2 * r - (SELECT count(*) FROM deg) - 1) * d)
                  AS BIGINT) AS gsum
      FROM ranked
    )
    SELECT n AS n_nodes,
           CAST(sd / 2 AS BIGINT) AS n_edges,
           dmax AS max_degree,
           round(CAST(sd AS DOUBLE) / n, 4) AS mean_degree,
           round(CAST(n * dmax - sd AS DOUBLE)
                 / (CAST(n - 1 AS DOUBLE) * (n - 2)), 6)
             AS centralization,
           round(CAST(gsum AS DOUBLE) / (CAST(n AS DOUBLE) * sd), 6)
             AS degree_gini
    FROM m
    """,
)
def degree_centralization_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R398 Freeman degree centralization Σ(d_max - d_i)/((n-1)(n-2))
    and the degree-distribution Gini coefficient of the co-purchase
    graph — the hub-dominance summary statistics next to the
    registry's per-node centralities (degree_powerlaw_alpha fits the
    tail SHAPE; centralization/Gini measure star-ness and inequality
    of the whole graph).  The Gini uses the sorted-rank identity
    Σ(2r-n-1)d_(r) / (nΣd) with a deterministic (degree, node) sort —
    every term a BIGINT; the rank comes from the TWO-PHASE prefix
    scan (the node frame scales with the part catalog, so an
    unpartitioned window would be the one non-scalable step)."""
    from zoom_spark.operators.prefix import prefix_sum

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a_, b_ = li.alias("a"), li.alias("b")
    pairs = (
        a_.join(b_, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    nbr = pairs.select(F.col("u").alias("z")).unionAll(
        pairs.select(F.col("v").alias("z"))
    )
    deg = nbr.groupBy("z").agg(F.count("*").cast("long").alias("d"))
    nrow = deg.agg(F.count("*").cast("long").alias("n"))
    ranked = (
        prefix_sum(
            deg.withColumn("one", F.lit(1)), ["d", "z"], "one", out_col="r"
        )
        .select("d", F.col("r").cast("long").alias("r"))
        .join(F.broadcast(nrow))
    )
    m = ranked.agg(
        F.max("n").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.max("d").cast("long").alias("dmax"),
        F.sum((2 * F.col("r") - F.col("n") - 1) * F.col("d"))
        .cast("long")
        .alias("gsum"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        F.col("n").alias("n_nodes"),
        F.floor(F.col("sd") / 2).cast("long").alias("n_edges"),
        F.col("dmax").alias("max_degree"),
        F.round(F.col("sd").cast("double") / nd, 4).alias("mean_degree"),
        F.round(
            (F.col("n") * F.col("dmax") - F.col("sd")).cast("double")
            / ((nd - 1) * (nd - 2)),
            6,
        ).alias("centralization"),
        F.round(
            F.col("gsum").cast("double") / (nd * F.col("sd")), 6
        ).alias("degree_gini"),
    )


# ---------------------------------------------------------------------------
# R399 Gehan-Breslow weighted log-rank test (weights = at-risk count)
# ---------------------------------------------------------------------------


def _gehan_oracle_sql() -> str:
    """Gehan-Breslow over the SAME spell CTEs as the gated log-rank
    (survival._SPELLS_SQL): per event day the hypergeometric O-E and
    variance terms are weighted by the total at-risk count n_j; each
    weighted term is snapped at 1e-6 before the BIGINT sum."""
    from zoom_spark.queries.survival import _SPELLS_SQL

    return f"""
    WITH {_SPELLS_SQL.strip()},
    at_t AS (
      SELECT t, grp,
             CAST(sum(converted) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM spells GROUP BY t, grp
    ),
    risk AS (
      SELECT t, grp, d,
             CAST(sum(leaving) OVER (PARTITION BY grp ORDER BY t DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS n_g
      FROM at_t
    ),
    tot AS (
      SELECT t,
             CAST(sum(d) AS BIGINT) AS d_all,
             CAST(sum(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT)
               AS n1_part,
             CAST(sum(n_g) AS BIGINT) AS n_part
      FROM risk GROUP BY t
    ),
    filled AS (
      SELECT t, d_all, d1,
             CAST(max(n1_part) OVER (ORDER BY t DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS n1,
             CAST(max(n_part) OVER (ORDER BY t DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS n
      FROM tot
    ),
    terms AS (
      SELECT
        CAST(n * d1 AS BIGINT) AS wo1,
        CAST(floor(CAST(n AS DOUBLE) * d_all * n1 / n * 1e6 + 0.5)
             AS BIGINT) AS we6,
        CAST(floor(CASE WHEN n > 1
              THEN CAST(n AS DOUBLE) * n
                   * (d_all * (n1 * 1.0 / n) * (1 - n1 * 1.0 / n)
                      * (n - d_all) * 1.0 / greatest(n - 1, 1))
              ELSE 0.0 END * 1e6 + 0.5) AS BIGINT) AS wv6
      FROM filled WHERE d_all > 0
    )
    SELECT CAST(sum(wo1) AS BIGINT) AS w_observed_1,
           round(CAST(sum(we6) AS DOUBLE) / 1e6, 4) AS w_expected_1,
           round((CAST(sum(wo1) AS DOUBLE) - sum(we6) / 1e6)
                 / sqrt(CAST(sum(wv6) AS DOUBLE) / 1e6), 6) AS z_stat
    FROM terms
    """


@register("gehan_breslow_conversion", sql=_gehan_oracle_sql())
def gehan_breslow_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R399 Gehan-Breslow(-Wilcoxon) weighted log-rank test over the
    SAME md5 placebo arms and conversion spells as the gated
    logrank_arm_conversion (survival.py:94) — weights w_j = n_j (the
    total at-risk count) emphasize EARLY differences where the plain
    log-rank weights all event times equally; reporting both is the
    standard survival-comparison practice (they disagree exactly when
    hazards cross).  Z = Σn_j(d1j - e1j)/√(Σn_j²v_j) with the same
    hypergeometric e/v terms; each weighted term is snapped at 1e-6
    before the BIGINT sum (n_j·d1j is already a pure integer).  Same
    calendar-bounded day-frame windows as the log-rank: one user
    shuffle at 100 TB."""
    from zoom_spark.queries.survival import _spells

    spells = _spells(spark, sf_dir)
    at_t = spells.groupBy("t", "grp").agg(
        F.sum("converted").cast("long").alias("d"),
        F.count("*").cast("long").alias("leaving"),
    )
    w_g = (
        Window.partitionBy("grp")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = at_t.withColumn("n_g", F.sum("leaving").over(w_g).cast("long"))
    tot = risk.groupBy("t").agg(
        F.sum("d").cast("long").alias("d_all"),
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_g")).otherwise(0))
        .cast("long")
        .alias("n1_part"),
        F.sum("n_g").cast("long").alias("n_part"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    filled = tot.select(
        "t",
        "d_all",
        "d1",
        F.max("n1_part").over(w_desc).cast("long").alias("n1"),
        F.max("n_part").over(w_desc).cast("long").alias("n"),
    ).where(F.col("d_all") > 0)
    nd = F.col("n").cast("double")
    frac = F.col("n1") * F.lit(1.0) / F.col("n")
    v = (
        F.col("d_all")
        * frac
        * (1 - frac)
        * (F.col("n") - F.col("d_all"))
        * F.lit(1.0)
        / F.greatest(F.col("n") - 1, F.lit(1))
    )
    terms = filled.select(
        (F.col("n") * F.col("d1")).cast("long").alias("wo1"),
        F.floor(nd * F.col("d_all") * F.col("n1") / F.col("n") * 1e6 + 0.5)
        .cast("long")
        .alias("we6"),
        F.floor(
            F.when(F.col("n") > 1, nd * nd * v).otherwise(0.0) * 1e6 + 0.5
        )
        .cast("long")
        .alias("wv6"),
    )
    return terms.agg(
        F.sum("wo1").cast("long").alias("w_observed_1"),
        F.round(F.sum("we6").cast("double") / 1e6, 4).alias("w_expected_1"),
        F.round(
            (
                F.sum("wo1").cast("double")
                - F.sum("we6").cast("double") / 1e6
            )
            / F.sqrt(F.sum("wv6").cast("double") / 1e6),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# R400 Lilliefors test of log-normality of customer spend
# ---------------------------------------------------------------------------

# Abramowitz-Stegun 7.1.26 erf polynomial (the repo-shared A-S
# constants, survival._ERF_P_SQL) — spelled identically on both
# engines so the normal CDF is the same double everywhere
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


@register(
    "lilliefors_lognormal_spend",
    sql=f"""
    WITH spend AS MATERIALIZED (
      SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
      HAVING sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) > 0
    ),
    lt AS MATERIALIZED (
      SELECT cents,
             CAST(floor(ln(CAST(cents AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               AS l9,
             CAST(floor(ln(CAST(cents AS DOUBLE)) * ln(CAST(cents AS DOUBLE))
                        * 1e9 + 0.5) AS BIGINT) AS ll9
      FROM spend
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l9) AS BIGINT) AS sl,
             CAST(sum(ll9) AS BIGINT) AS sll
      FROM lt
    ),
    vals AS MATERIALIZED (
      SELECT cents, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(count(*)) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM lt GROUP BY cents
    ),
    dd AS (
      SELECT max(greatest(
               abs({_phi_sql("((ln(CAST(v.cents AS DOUBLE)) - CAST(m.sl AS DOUBLE) / 1e9 / m.n) / sqrt((CAST(m.sll AS DOUBLE) / 1e9 - CAST(m.sl AS DOUBLE) / 1e9 * m.sl / 1e9 / m.n) / (m.n - 1)))")}
                   - CAST(v.cum AS DOUBLE) / m.n),
               abs({_phi_sql("((ln(CAST(v.cents AS DOUBLE)) - CAST(m.sl AS DOUBLE) / 1e9 / m.n) / sqrt((CAST(m.sll AS DOUBLE) / 1e9 - CAST(m.sl AS DOUBLE) / 1e9 * m.sl / 1e9 / m.n) / (m.n - 1)))")}
                   - CAST(v.cum - v.t AS DOUBLE) / m.n))) AS d
      FROM vals v CROSS JOIN m
    )
    SELECT m.n AS n_customers,
           round(CAST(m.sl AS DOUBLE) / 1e9 / m.n, 6) AS mu,
           round(sqrt((CAST(m.sll AS DOUBLE) / 1e9
                       - CAST(m.sl AS DOUBLE) / 1e9 * m.sl / 1e9 / m.n)
                      / (m.n - 1)), 6) AS sigma,
           round(dd.d, 6) AS ks_d,
           round(dd.d * (sqrt(CAST(m.n AS DOUBLE)) - 0.01
                         + 0.85 / sqrt(CAST(m.n AS DOUBLE))), 6)
             AS lilliefors_stat
    FROM m CROSS JOIN dd
    """,
)
def lilliefors_lognormal_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R400 Lilliefors (1967) composite goodness-of-fit test of
    LOG-normality of customer spend: the one-sample KS distance
    between the empirical CDF and the normal CDF with ESTIMATED
    (μ̂, σ̂) on the log scale, plus the Dallal-Wilkinson finite-sample
    scaling D·(√n - 0.01 + 0.85/√n) — the fitted-distribution test
    the registry's two-sample KS/Kuiper/CvM family does not cover
    (and the formal companion to R397's lognormal_fit_spend
    diagnostic).  Determinism: μ̂/σ̂ from the 1e-9-snapped ln moments
    (BIGINT sums); the normal CDF is the shared A-S 7.1.26 erf
    polynomial (the logrank p-value spelling) — the identical
    expression tree on both engines; the sup over distinct values
    (step CDF evaluated at both jump sides) is an order-free MAX.
    The distinct-value ECDF rank rides the two-phase prefix scan,
    not an unpartitioned window."""
    from zoom_spark.operators.prefix import prefix_sum

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
        .where(F.col("cents") > 0)
    )
    lx = F.log(F.col("cents").cast("double"))
    lt = spend.select(
        "cents",
        F.floor(lx * 1e9 + 0.5).cast("long").alias("l9"),
        F.floor(lx * lx * 1e9 + 0.5).cast("long").alias("ll9"),
    )
    m = lt.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("l9").cast("long").alias("sl"),
        F.sum("ll9").cast("long").alias("sll"),
    )
    vals = prefix_sum(
        lt.groupBy("cents").agg(F.count("*").cast("long").alias("t")),
        "cents",
        "t",
        out_col="cum",
    )
    nd = F.col("n").cast("double")
    mu = F.col("sl").cast("double") / 1e9 / nd
    var = (
        F.col("sll").cast("double") / 1e9
        - F.col("sl").cast("double") / 1e9 * F.col("sl") / 1e9 / nd
    ) / (nd - 1)
    z = (F.log(F.col("cents").cast("double")) - mu) / F.sqrt(var)
    phi = _phi_col(z)
    dd = (
        vals.join(F.broadcast(m))
        .select(
            F.greatest(
                F.abs(phi - F.col("cum").cast("double") / nd),
                F.abs(phi - (F.col("cum") - F.col("t")).cast("double") / nd),
            ).alias("gap")
        )
        .agg(F.max("gap").alias("d"))
    )
    return m.join(F.broadcast(dd)).select(
        F.col("n").alias("n_customers"),
        F.round(mu, 6).alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round(F.col("d"), 6).alias("ks_d"),
        F.round(
            F.col("d") * (F.sqrt(nd) - 0.01 + 0.85 / F.sqrt(nd)), 6
        ).alias("lilliefors_stat"),
    )


# ---------------------------------------------------------------------------
# R401 one-step Tukey biweight robust location of order values
# ---------------------------------------------------------------------------


@register(
    "tukey_biweight_location",
    sql="""
    WITH x AS MATERIALIZED (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ),
    vals AS MATERIALIZED (
      SELECT c, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(count(*)) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM x GROUP BY c
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
    med AS (
      -- 2x-grid exact median: value at rank (n+1)//2 plus value at
      -- rank n//2+1 (a distinct value covers rank r iff
      -- cum - t < r <= cum)
      SELECT CAST(sum(CASE WHEN v.cum - v.t < (nn.n + 1) // 2
                            AND (nn.n + 1) // 2 <= v.cum
                           THEN v.c ELSE 0 END)
                + sum(CASE WHEN v.cum - v.t < nn.n // 2 + 1
                            AND nn.n // 2 + 1 <= v.cum
                           THEN v.c ELSE 0 END) AS BIGINT) AS med2
      FROM vals v CROSS JOIN nn
    ),
    dev AS MATERIALIZED (
      SELECT CAST(abs(2 * x.c - med.med2) AS BIGINT) AS d2
      FROM x CROSS JOIN med
    ),
    dvals AS MATERIALIZED (
      SELECT d2, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(count(*)) OVER (ORDER BY d2
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM dev GROUP BY d2
    ),
    mad AS (
      SELECT CAST(sum(CASE WHEN v.cum - v.t < (nn.n + 1) // 2
                            AND (nn.n + 1) // 2 <= v.cum
                           THEN v.d2 ELSE 0 END)
                + sum(CASE WHEN v.cum - v.t < nn.n // 2 + 1
                            AND nn.n // 2 + 1 <= v.cum
                           THEN v.d2 ELSE 0 END) AS BIGINT) AS mad4
      FROM dvals v CROSS JOIN nn
    ),
    wt AS (
      -- u = (x - med)/(9 MAD); per-row weights and weighted values
      -- snapped before the BIGINT sums
      SELECT
        CAST(floor(power(1.0 - power((x.c - med.med2 / 2.0)
                                     / (9.0 * mad.mad4 / 4.0), 2), 2)
                   * 1e9 + 0.5) AS BIGINT) AS w9,
        CAST(floor(power(1.0 - power((x.c - med.med2 / 2.0)
                                     / (9.0 * mad.mad4 / 4.0), 2), 2)
                   * x.c * 1e3 + 0.5) AS BIGINT) AS wx3
      FROM x CROSS JOIN med CROSS JOIN mad
      WHERE abs(x.c - med.med2 / 2.0) < 9.0 * mad.mad4 / 4.0
    )
    SELECT (SELECT n FROM nn) AS n_orders,
           round((SELECT med2 FROM med) / 2.0 / 100, 2) AS median_dollars,
           round((SELECT mad4 FROM mad) / 4.0 / 100, 2) AS mad_dollars,
           round(CAST(sum(wx3) AS DOUBLE) / 1e3
                 / (CAST(sum(w9) AS DOUBLE) / 1e9) / 100, 4)
             AS biweight_dollars,
           round((SELECT CAST(sum(c) AS DOUBLE) / count(*) FROM x) / 100,
                 4) AS mean_dollars
    FROM wt
    """,
)
def tukey_biweight_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R401 one-step Tukey biweight (bisquare) M-estimator of the
    order-value location, c = 9·MAD: w = (1-u²)² inside |u|<1, T =
    Σwx/Σw — the smooth-downweighting robust location between the
    median (which ignores magnitude) and the registry's hard-cutoff
    winsorized/trimmed means; mad_robust_anomaly gates MAD itself but
    no M-estimation.  Median and MAD are EXACT on the 2×/4× integer
    grids via distinct-value prefix ranks (rank-coverage predicates,
    no sort-to-one-task); weights and weighted values are per-row
    snapped (1e-9/1e-3) so both sums are BIGINT reductions.  Three
    aggregates + two prefix scans at 100 TB."""
    from zoom_spark.operators.prefix import prefix_sum

    x = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c")
    )
    nn = x.agg(F.count("*").cast("long").alias("n"))

    def median2(frame: DataFrame, col: str) -> DataFrame:
        vals = prefix_sum(
            frame.groupBy(col).agg(F.count("*").cast("long").alias("t")),
            col,
            "t",
            out_col="cum",
        )
        j = vals.join(F.broadcast(nn))
        lo_r = F.floor((F.col("n") + 1) / 2)
        hi_r = F.floor(F.col("n") / 2) + 1
        covers = lambda r: (F.col("cum") - F.col("t") < r) & (  # noqa: E731
            r <= F.col("cum")
        )
        return j.agg(
            (
                F.sum(F.when(covers(lo_r), F.col(col)).otherwise(0))
                + F.sum(F.when(covers(hi_r), F.col(col)).otherwise(0))
            )
            .cast("long")
            .alias("m2")
        )

    med = median2(x, "c").withColumnRenamed("m2", "med2")
    dev = x.join(F.broadcast(med)).select(
        F.abs(2 * F.col("c") - F.col("med2")).cast("long").alias("d2")
    )
    mad = median2(dev, "d2").withColumnRenamed("m2", "mad4")
    u = (F.col("c") - F.col("med2") / 2.0) / (9.0 * F.col("mad4") / 4.0)
    w = F.pow(1.0 - F.pow(u, 2), 2)
    wt = (
        x.join(F.broadcast(med))
        .join(F.broadcast(mad))
        .where(
            F.abs(F.col("c") - F.col("med2") / 2.0)
            < 9.0 * F.col("mad4") / 4.0
        )
        .select(
            F.floor(w * 1e9 + 0.5).cast("long").alias("w9"),
            F.floor(w * F.col("c") * 1e3 + 0.5).cast("long").alias("wx3"),
        )
    )
    mean = x.agg(
        (F.sum("c").cast("double") / F.count("*")).alias("mean_c")
    )
    return (
        wt.agg(
            F.sum("wx3").cast("long").alias("swx3"),
            F.sum("w9").cast("long").alias("sw9"),
        )
        .join(F.broadcast(nn))
        .join(F.broadcast(med))
        .join(F.broadcast(mad))
        .join(F.broadcast(mean))
        .select(
            F.col("n").alias("n_orders"),
            F.round(F.col("med2") / 2.0 / 100, 2).alias("median_dollars"),
            F.round(F.col("mad4") / 4.0 / 100, 2).alias("mad_dollars"),
            F.round(
                F.col("swx3").cast("double")
                / 1e3
                / (F.col("sw9").cast("double") / 1e9)
                / 100,
                4,
            ).alias("biweight_dollars"),
            F.round(F.col("mean_c") / 100, 4).alias("mean_dollars"),
        )
    )


# ---------------------------------------------------------------------------
# R402 James-Stein shrinkage of per-nation mean spend
# ---------------------------------------------------------------------------


@register(
    "james_stein_nation_means",
    sql="""
    WITH spend AS MATERIALIZED (
      SELECT c.c_nationkey AS nation, c.c_custkey,
             CAST(COALESCE(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                                    AS BIGINT)), 0) AS BIGINT) AS cents
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    per_nation AS MATERIALIZED (
      -- within-nation second moment on the WHOLE-DOLLAR grid
      -- (cents^2 sums overflow BIGINT past ~10k customers; the
      -- variance is scaled back by 1e4 below)
      SELECT nation,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(cents // 100) AS BIGINT) AS sd,
             CAST(sum((cents // 100) * (cents // 100)) AS BIGINT) AS qd,
             CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*) * 1e6 + 0.5)
                  AS BIGINT) AS mean6
      FROM spend GROUP BY nation
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(mean6) AS BIGINT) AS smean6,
             CAST(sum(m) AS BIGINT) AS n_cust,
             sum((CAST(qd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / m)
                 * 1e4) AS ssw,
             CAST(sum(m) - count(*) AS BIGINT) AS df_w
    FROM per_nation
    ),
    shr AS (
      SELECT k, smean6, n_cust,
             (ssw / df_w) / (CAST(n_cust AS DOUBLE) / k) AS sig2_mean,
             CAST(sum(CAST(floor(
               power(CAST(p.mean6 AS DOUBLE) / 1e6
                     - CAST(g.smean6 AS DOUBLE) / 1e6 / g.k, 2) + 0.5)
               AS BIGINT)) AS BIGINT) AS s_stat
      FROM per_nation p CROSS JOIN g
      GROUP BY k, smean6, n_cust, ssw, df_w
    )
    SELECT p.nation,
           p.m AS n_customers,
           round(CAST(p.mean6 AS DOUBLE) / 1e6 / 100, 4) AS raw_mean_dollars,
           round(greatest(0.0, 1.0 - (shr.k - 3) * shr.sig2_mean
                                / shr.s_stat), 6) AS shrink_factor,
           round((CAST(shr.smean6 AS DOUBLE) / 1e6 / shr.k
                  + greatest(0.0, 1.0 - (shr.k - 3) * shr.sig2_mean
                                  / shr.s_stat)
                    * (CAST(p.mean6 AS DOUBLE) / 1e6
                       - CAST(shr.smean6 AS DOUBLE) / 1e6 / shr.k))
                 / 100, 4) AS js_mean_dollars
    FROM per_nation p CROSS JOIN shr
    """,
)
def james_stein_nation_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R402 James-Stein (positive-part) shrinkage of the 25 per-nation
    mean customer spends toward the grand mean: θ̂_i = x̿ + (1 -
    (k-3)σ̂²_mean/S)⁺(x̄_i - x̿) with S = Σ(x̄_i - x̿)² and σ̂²_mean =
    pooled within-nation variance over the average nation size — the
    canonical empirical-Bayes demonstration that dominates the raw
    MLE for k ≥ 4 (the registry's target_encoding_oof does additive
    smoothing; JS is the frequentist shrinkage with a data-driven
    factor).  The within-nation second moment runs on the WHOLE-
    DOLLAR grid, scaled back by 1e4 (cents² sums overflow BIGINT past
    ~10k customers; the ~1e-5-relative grid loss is invisible in the
    6dp shrink factor).  Per-nation means snap to 1e-6 (then every cross-nation
    term is exact), S accumulates unit-grid-snapped squares (cent²
    scale makes the unit grid ~1e-10 relative), and the shrink factor
    is one exact-operand expression reused per row.  Two aggregates +
    one 25-row broadcast."""
    spend = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cc"),
            ),
            on=F.col("c_custkey") == F.col("o_custkey"),
            how="left",
        )
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(F.coalesce(F.sum("cc"), F.lit(0)).cast("long").alias("cents"))
    )
    dollars = F.floor(F.col("cents") / 100).cast("long")
    per_nation = spend.groupBy("nation").agg(
        F.count("*").cast("long").alias("m"),
        F.sum(dollars).cast("long").alias("sd"),
        F.sum(dollars * dollars).cast("long").alias("qd"),
        F.floor(
            F.sum("cents").cast("double") / F.count("*") * 1e6 + 0.5
        )
        .cast("long")
        .alias("mean6"),
    ).localCheckpoint(eager=False)
    g = per_nation.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("mean6").cast("long").alias("smean6"),
        F.sum("m").cast("long").alias("n_cust"),
        F.sum(
            (
                F.col("qd").cast("double")
                - F.col("sd").cast("double") * F.col("sd") / F.col("m")
            )
            * 1e4
        ).alias("ssw"),
        (F.sum("m") - F.count("*")).cast("long").alias("df_w"),
    )
    gm = F.col("smean6").cast("double") / 1e6 / F.col("k")
    shr = (
        per_nation.join(F.broadcast(g))
        .select(
            "k",
            "smean6",
            "n_cust",
            (
                (F.col("ssw") / F.col("df_w"))
                / (F.col("n_cust").cast("double") / F.col("k"))
            ).alias("sig2_mean"),
            F.floor(
                F.pow(F.col("mean6").cast("double") / 1e6 - gm, 2) + 0.5
            )
            .cast("long")
            .alias("sq"),
        )
        .groupBy("k", "smean6", "n_cust", "sig2_mean")
        .agg(F.sum("sq").cast("long").alias("s_stat"))
    )
    factor = F.greatest(
        F.lit(0.0),
        1.0
        - (F.col("k") - 3) * F.col("sig2_mean") / F.col("s_stat"),
    )
    return per_nation.join(F.broadcast(shr)).select(
        "nation",
        F.col("m").alias("n_customers"),
        F.round(F.col("mean6").cast("double") / 1e6 / 100, 4).alias(
            "raw_mean_dollars"
        ),
        F.round(factor, 6).alias("shrink_factor"),
        F.round(
            (gm + factor * (F.col("mean6").cast("double") / 1e6 - gm)) / 100,
            4,
        ).alias("js_mean_dollars"),
    )


# ---------------------------------------------------------------------------
# R403 longest streaks in daily revenue (up / down / above-median)
# ---------------------------------------------------------------------------


@register(
    "longest_streaks_revenue",
    sql=f"""
    WITH d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    med AS (
      SELECT CAST(sum(CASE WHEN v.cum - v.t < (nn.n + 1) // 2
                            AND (nn.n + 1) // 2 <= v.cum
                           THEN v.y ELSE 0 END)
                + sum(CASE WHEN v.cum - v.t < nn.n // 2 + 1
                            AND nn.n // 2 + 1 <= v.cum
                           THEN v.y ELSE 0 END) AS BIGINT) AS med2
      FROM (
        SELECT y, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(count(*)) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM d GROUP BY y
      ) v CROSS JOIN nn
    ),
    flags AS MATERIALIZED (
      SELECT cur.t,
             CASE WHEN cur.y > p.y THEN 1 ELSE 0 END AS up,
             CASE WHEN cur.y < p.y THEN 1 ELSE 0 END AS dn,
             CASE WHEN 2 * cur.y > med.med2 THEN 1 ELSE 0 END AS hi
      FROM d cur
      LEFT JOIN d p ON p.t = cur.t - 1
      CROSS JOIN med
    ),
    runs AS (
      SELECT
        CAST(max(cnt) FILTER (WHERE kind = 'up') AS BIGINT) AS up_max,
        CAST(max(cnt) FILTER (WHERE kind = 'dn') AS BIGINT) AS dn_max,
        CAST(max(cnt) FILTER (WHERE kind = 'hi') AS BIGINT) AS hi_max
      FROM (
        SELECT 'up' AS kind, count(*) AS cnt FROM (
          SELECT t, t - row_number() OVER (ORDER BY t) AS grp
          FROM flags WHERE up = 1
        ) GROUP BY grp
        UNION ALL
        SELECT 'dn', count(*) FROM (
          SELECT t, t - row_number() OVER (ORDER BY t) AS grp
          FROM flags WHERE dn = 1
        ) GROUP BY grp
        UNION ALL
        SELECT 'hi', count(*) FROM (
          SELECT t, t - row_number() OVER (ORDER BY t) AS grp
          FROM flags WHERE hi = 1
        ) GROUP BY grp
      )
    )
    SELECT nn.n AS n_days,
           round(CAST((SELECT med2 FROM med) AS DOUBLE) / 2, 1)
             AS median_dollars,
           runs.up_max AS longest_up_streak,
           runs.dn_max AS longest_down_streak,
           runs.hi_max AS longest_above_median_streak
    FROM nn CROSS JOIN runs
    """,
)
def longest_streaks_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R403 longest streaks in daily revenue — longest run of strictly
    up days, strictly down days, and above-median days (the gambler's
    ruin / drawdown-adjacent report the runs TEST (z-score) does not
    emit: the actual extreme run LENGTHS).  Median is exact on the 2×
    grid via distinct-value prefix ranks; runs use the t -
    row_number(t) gap-and-island identity over the calendar-bounded
    day frame (the registry's sessionize idiom); all outputs are
    integers.  Day-frame windows only."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .select("y", "t")
        .localCheckpoint(eager=False)
    )
    nn = d.agg(F.count("*").cast("long").alias("n"))
    vals = d.groupBy("y").agg(F.count("*").cast("long").alias("t_"))
    w = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    vals = vals.withColumn("cum", F.sum("t_").over(w).cast("long"))
    j = vals.join(F.broadcast(nn))
    covers = lambda r: (F.col("cum") - F.col("t_") < r) & (  # noqa: E731
        r <= F.col("cum")
    )
    lo_r = F.floor((F.col("n") + 1) / 2)
    hi_r = F.floor(F.col("n") / 2) + 1
    med = j.agg(
        (
            F.sum(F.when(covers(lo_r), F.col("y")).otherwise(0))
            + F.sum(F.when(covers(hi_r), F.col("y")).otherwise(0))
        )
        .cast("long")
        .alias("med2")
    )
    cur = d.select(F.col("t").alias("tc"), F.col("y").alias("yc"))
    prev = d.select(F.col("t").alias("tp_"), F.col("y").alias("yp"))
    flags = (
        cur.join(prev, F.col("tp_") == F.col("tc") - 1, "left")
        .join(F.broadcast(med))
        .select(
            F.col("tc").alias("t"),
            F.when(F.col("yc") > F.col("yp"), 1).otherwise(0).alias("up"),
            F.when(F.col("yc") < F.col("yp"), 1).otherwise(0).alias("dn"),
            F.when(2 * F.col("yc") > F.col("med2"), 1)
            .otherwise(0)
            .alias("hi"),
        )
        .localCheckpoint(eager=False)
    )

    def longest(flag: str):
        f = flags.where(F.col(flag) == 1).select(
            "t",
            (F.col("t") - F.row_number().over(Window.orderBy("t"))).alias(
                "grp"
            ),
        )
        return f.groupBy("grp").agg(F.count("*").alias("cnt")).agg(
            F.max("cnt").cast("long").alias(f"{flag}_max")
        )

    return (
        nn.join(F.broadcast(med))
        .join(F.broadcast(longest("up")))
        .join(F.broadcast(longest("dn")))
        .join(F.broadcast(longest("hi")))
        .select(
            F.col("n").alias("n_days"),
            F.round(F.col("med2").cast("double") / 2, 1).alias(
                "median_dollars"
            ),
            F.col("up_max").alias("longest_up_streak"),
            F.col("dn_max").alias("longest_down_streak"),
            F.col("hi_max").alias("longest_above_median_streak"),
        )
    )


# ---------------------------------------------------------------------------
# R404 Oaxaca-Blinder decomposition of the urgent-order value gap
# ---------------------------------------------------------------------------

_OAXACA_FEATURES_SQL = """
      SELECT o.o_orderkey,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS g,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             l.x1, l.x2
      FROM orders o
      JOIN (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS x1,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
        FROM lineitem GROUP BY l_orderkey
      ) l ON l.l_orderkey = o.o_orderkey
"""


@register(
    "oaxaca_gap_decomposition",
    sql=f"""
    WITH feats AS MATERIALIZED ({_OAXACA_FEATURES_SQL}),
    m AS MATERIALIZED (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1,
             CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x2 * x2) AS BIGINT) AS s22,
             CAST(sum(x1 * y) AS BIGINT) AS s1y,
             CAST(sum(x2 * y) AS BIGINT) AS s2y
      FROM feats GROUP BY g
    ),
    beta AS MATERIALIZED (
      -- per-group centered normal equations, 2x2 Cramer closed form
      SELECT g, n,
             CAST(sx1 AS DOUBLE) / n AS mx1,
             CAST(sx2 AS DOUBLE) / n AS mx2,
             CAST(sy AS DOUBLE) / n AS my,
             ((CAST(n AS DOUBLE) * s22 - CAST(sx2 AS DOUBLE) * sx2)
              * (CAST(n AS DOUBLE) * s1y - CAST(sx1 AS DOUBLE) * sy)
              - (CAST(n AS DOUBLE) * s12 - CAST(sx1 AS DOUBLE) * sx2)
                * (CAST(n AS DOUBLE) * s2y - CAST(sx2 AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * s11 - CAST(sx1 AS DOUBLE) * sx1)
                * (CAST(n AS DOUBLE) * s22 - CAST(sx2 AS DOUBLE) * sx2)
                - power(CAST(n AS DOUBLE) * s12
                        - CAST(sx1 AS DOUBLE) * sx2, 2)) AS b1,
             ((CAST(n AS DOUBLE) * s11 - CAST(sx1 AS DOUBLE) * sx1)
              * (CAST(n AS DOUBLE) * s2y - CAST(sx2 AS DOUBLE) * sy)
              - (CAST(n AS DOUBLE) * s12 - CAST(sx1 AS DOUBLE) * sx2)
                * (CAST(n AS DOUBLE) * s1y - CAST(sx1 AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * s11 - CAST(sx1 AS DOUBLE) * sx1)
                * (CAST(n AS DOUBLE) * s22 - CAST(sx2 AS DOUBLE) * sx2)
                - power(CAST(n AS DOUBLE) * s12
                        - CAST(sx1 AS DOUBLE) * sx2, 2)) AS b2
      FROM m
    ),
    wide AS (
      SELECT
        max(CASE WHEN g = 1 THEN n END) AS n1,
        max(CASE WHEN g = 0 THEN n END) AS n0,
        max(CASE WHEN g = 1 THEN my END) AS my1,
        max(CASE WHEN g = 0 THEN my END) AS my0,
        max(CASE WHEN g = 1 THEN mx1 END) AS mx1_1,
        max(CASE WHEN g = 0 THEN mx1 END) AS mx1_0,
        max(CASE WHEN g = 1 THEN mx2 END) AS mx2_1,
        max(CASE WHEN g = 0 THEN mx2 END) AS mx2_0,
        max(CASE WHEN g = 0 THEN b1 END) AS b1_0,
        max(CASE WHEN g = 0 THEN b2 END) AS b2_0,
        max(CASE WHEN g = 1 THEN b1 END) AS b1_1,
        max(CASE WHEN g = 1 THEN b2 END) AS b2_1
      FROM beta
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n0 AS BIGINT) AS n_other,
           round((my1 - my0) / 100, 4) AS gap_dollars,
           round((b1_0 * (mx1_1 - mx1_0) + b2_0 * (mx2_1 - mx2_0)) / 100,
                 4) AS explained_dollars,
           round(((my1 - my0)
                  - (b1_0 * (mx1_1 - mx1_0) + b2_0 * (mx2_1 - mx2_0)))
                 / 100, 4) AS unexplained_dollars,
           round(b1_0 / 100, 4) AS beta_lines_other,
           round(b2_0 / 100, 4) AS beta_qty_other,
           round(b1_1 / 100, 4) AS beta_lines_urgent,
           round(b2_1 / 100, 4) AS beta_qty_urgent
    FROM wide
    """,
)
def oaxaca_gap_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R404 Oaxaca-Blinder twofold decomposition of the urgent-vs-
    other order value gap: ȳ₁-ȳ₀ = β₀'(X̄₁-X̄₀) [explained by line
    count / quantity composition] + residual [unexplained — the
    priority "premium"], with group-0 coefficients as the reference
    (the standard wage-gap methodology applied to order economics —
    the registry's diff_in_diff / regression_discontinuity are
    time/threshold designs; O-B decomposes a CROSS-SECTIONAL group
    gap).  Per-group 2-feature OLS in the same centered-BIGINT 2×2
    Cramer closed form as lda_urgent_classifier; means are exact-
    operand; the decomposition is arithmetic on those doubles.  One
    fact-fact join + one 2-row aggregate at 100 TB."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").cast("long").alias("x1"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("x2"),
        )
    )
    feats = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("g"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("y"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    m = feats.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("s11") - F.col("sx1").cast("double") * F.col("sx1")
    a12 = nd * F.col("s12") - F.col("sx1").cast("double") * F.col("sx2")
    a22 = nd * F.col("s22") - F.col("sx2").cast("double") * F.col("sx2")
    b1v = nd * F.col("s1y") - F.col("sx1").cast("double") * F.col("sy")
    b2v = nd * F.col("s2y") - F.col("sx2").cast("double") * F.col("sy")
    det = a11 * a22 - a12 * a12
    beta = m.select(
        "g",
        "n",
        (F.col("sx1").cast("double") / nd).alias("mx1"),
        (F.col("sx2").cast("double") / nd).alias("mx2"),
        (F.col("sy").cast("double") / nd).alias("my"),
        ((a22 * b1v - a12 * b2v) / det).alias("b1"),
        ((a11 * b2v - a12 * b1v) / det).alias("b2"),
    )

    def pick(g: int, col: str):
        return F.max(F.when(F.col("g") == g, F.col(col)))

    wide = beta.agg(
        pick(1, "n").cast("long").alias("n1"),
        pick(0, "n").cast("long").alias("n0"),
        pick(1, "my").alias("my1"),
        pick(0, "my").alias("my0"),
        pick(1, "mx1").alias("mx1_1"),
        pick(0, "mx1").alias("mx1_0"),
        pick(1, "mx2").alias("mx2_1"),
        pick(0, "mx2").alias("mx2_0"),
        pick(0, "b1").alias("b1_0"),
        pick(0, "b2").alias("b2_0"),
        pick(1, "b1").alias("b1_1"),
        pick(1, "b2").alias("b2_1"),
    )
    explained = F.col("b1_0") * (F.col("mx1_1") - F.col("mx1_0")) + F.col(
        "b2_0"
    ) * (F.col("mx2_1") - F.col("mx2_0"))
    gap = F.col("my1") - F.col("my0")
    return wide.select(
        F.col("n1").alias("n_urgent"),
        F.col("n0").alias("n_other"),
        F.round(gap / 100, 4).alias("gap_dollars"),
        F.round(explained / 100, 4).alias("explained_dollars"),
        F.round((gap - explained) / 100, 4).alias("unexplained_dollars"),
        F.round(F.col("b1_0") / 100, 4).alias("beta_lines_other"),
        F.round(F.col("b2_0") / 100, 4).alias("beta_qty_other"),
        F.round(F.col("b1_1") / 100, 4).alias("beta_lines_urgent"),
        F.round(F.col("b2_1") / 100, 4).alias("beta_qty_urgent"),
    )


# ---------------------------------------------------------------------------
# R405 beta-binomial empirical-Bayes shrinkage of nation urgent rates
# ---------------------------------------------------------------------------


@register(
    "beta_binomial_shrinkage",
    sql="""
    WITH per_cust AS MATERIALIZED (
      SELECT c.c_nationkey AS nation,
             CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k_urgent
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    rates AS MATERIALIZED (
      SELECT nation, n_orders, k_urgent,
             CAST(floor(CAST(k_urgent AS DOUBLE) / n_orders * 1e9 + 0.5)
                  AS BIGINT) AS p9
      FROM per_cust
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(p9) AS BIGINT) AS sp9,
             CAST(sum(p9 * p9 // 1000000000) AS BIGINT) AS spp9
      FROM rates
    ),
    ab AS (
      -- method of moments on the per-nation rates: common =
      -- mu(1-mu)/v - 1; alpha = mu*common, beta = (1-mu)*common
      SELECT k,
             CAST(sp9 AS DOUBLE) / 1e9 / k AS mu,
             (CAST(spp9 AS DOUBLE) / 1e9
              - CAST(sp9 AS DOUBLE) / 1e9 * sp9 / 1e9 / k) / (k - 1) AS v
      FROM mom
    ),
    prior AS (
      SELECT mu, v,
             mu * (mu * (1.0 - mu) / v - 1.0) AS alpha,
             (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0) AS beta
      FROM ab
    )
    SELECT r.nation, r.n_orders, r.k_urgent,
           round(CAST(r.p9 AS DOUBLE) / 1e9, 6) AS raw_rate,
           round(prior.alpha, 6) AS alpha,
           round(prior.beta, 6) AS beta,
           round((r.k_urgent + prior.alpha)
                 / (r.n_orders + prior.alpha + prior.beta), 6)
             AS shrunk_rate
    FROM rates r CROSS JOIN prior
    """,
)
def beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R405 beta-binomial empirical-Bayes shrinkage of per-nation
    urgent-order rates: fit Beta(α, β) to the 25 raw rates by method
    of moments (α+β = μ(1-μ)/v - 1), then posterior-mean-shrink each
    nation to (k_i+α)/(n_i+α+β) — the conjugate-prior counterpart to
    R402's James-Stein (JS shrinks GAUSSIAN means; this shrinks
    binomial PROPORTIONS, the canonical small-sample rate-ranking
    fix).  Raw rates snap to 1e-9 (then the MoM moments are BIGINT
    sums — the p9*p9/1e9 product keeps the square on the same grid);
    the prior and every posterior are exact-operand doubles of those
    integers.  One aggregate + one 25-row broadcast at 100 TB."""
    per = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                .otherwise(0)
                .alias("u"),
            ),
            on=F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("u").cast("long").alias("k_urgent"),
        )
    )
    rates = per.withColumn(
        "p9",
        F.floor(
            F.col("k_urgent").cast("double") / F.col("n_orders") * 1e9 + 0.5
        ).cast("long"),
    ).localCheckpoint(eager=False)
    mom = rates.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("p9").cast("long").alias("sp9"),
        F.sum(F.floor(F.col("p9") * F.col("p9") / F.lit(1000000000)))
        .cast("long")
        .alias("spp9"),
    )
    kd = F.col("k").cast("double")
    mu = F.col("sp9").cast("double") / 1e9 / kd
    v = (
        F.col("spp9").cast("double") / 1e9
        - F.col("sp9").cast("double") / 1e9 * F.col("sp9") / 1e9 / kd
    ) / (kd - 1)
    common = mu * (1.0 - mu) / v - 1.0
    prior = mom.select(
        (mu * common).alias("alpha"),
        ((1.0 - mu) * common).alias("beta"),
    )
    return rates.join(F.broadcast(prior)).select(
        "nation",
        "n_orders",
        "k_urgent",
        F.round(F.col("p9").cast("double") / 1e9, 6).alias("raw_rate"),
        F.round(F.col("alpha"), 6).alias("alpha"),
        F.round(F.col("beta"), 6).alias("beta"),
        F.round(
            (F.col("k_urgent") + F.col("alpha"))
            / (F.col("n_orders") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
    )


# ---------------------------------------------------------------------------
# R406 pass@k estimator (Codex-style unbiased estimator) per nation
# ---------------------------------------------------------------------------

_PASS_KS = (1, 5, 10)


def _pass_at_k_sql(k: int) -> str:
    """1 - prod_{i=0..k-1} (n-c-i)/(n-i) — unrolled exact-operand
    product; NULL when n < k, 1.0 when fewer than k failures."""
    prod = " * ".join(
        f"(CAST(n_trials - n_correct - {i} AS DOUBLE)"
        f" / (n_trials - {i}))"
        for i in range(k)
    )
    return f"""
      CASE WHEN n_trials < {k} THEN NULL
           WHEN n_trials - n_correct < {k} THEN 1.0
           ELSE round(1.0 - {prod}, 6) END
    """


@register(
    "pass_at_k_estimator",
    sql=f"""
    WITH trials AS MATERIALIZED (
      SELECT c.c_nationkey AS task,
             CAST(count(*) AS BIGINT) AS n_trials,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    )
    SELECT task, n_trials, n_correct,
           {_pass_at_k_sql(1)} AS pass_at_1,
           {_pass_at_k_sql(5)} AS pass_at_5,
           {_pass_at_k_sql(10)} AS pass_at_10
    FROM trials
    """,
)
def pass_at_k_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R406 the unbiased pass@k estimator (Chen et al. 2021, Codex):
    per task with n sampled trials of which c succeed, pass@k =
    1 - C(n-c,k)/C(n,k) = 1 - Π_{{i<k}}(n-c-i)/(n-i) — THE standard
    LLM code/eval metric (naive c/n-based estimates are biased; this
    telescoped form also avoids the factorial overflow).  Tasks are
    nations, trials are their customers' orders, "success" is an
    urgent order — the fixture stand-in for (problem, sample,
    passed-tests) eval tables.  The k-term product is UNROLLED per k
    ∈ {_PASS_KS} (fixed expression order, exact-operand divisions of
    BIGINT counts → identical doubles cross-engine); n < k yields
    NULL, fewer than k failures yields exactly 1.  One groupBy at
    100 TB — eval tables shard by task."""
    trials = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                .otherwise(0)
                .alias("u"),
            ),
            on=F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("task"))
        .agg(
            F.count("*").cast("long").alias("n_trials"),
            F.sum("u").cast("long").alias("n_correct"),
        )
    )

    def pass_at(k: int):
        prod = None
        for i in range(k):
            term = (F.col("n_trials") - F.col("n_correct") - i).cast(
                "double"
            ) / (F.col("n_trials") - i)
            prod = term if prod is None else prod * term
        return (
            F.when(F.col("n_trials") < k, F.lit(None).cast("double"))
            .when(
                F.col("n_trials") - F.col("n_correct") < k, F.lit(1.0)
            )
            .otherwise(F.round(1.0 - prod, 6))
        )

    return trials.select(
        "task",
        "n_trials",
        "n_correct",
        pass_at(1).alias("pass_at_1"),
        pass_at(5).alias("pass_at_5"),
        pass_at(10).alias("pass_at_10"),
    )


# ---------------------------------------------------------------------------
# R407 tokenizer fertility report by language
# ---------------------------------------------------------------------------


@register(
    "tokenizer_fertility_by_lang",
    sql=r"""
    WITH per_doc AS MATERIALIZED (
      SELECT lang,
             CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                     '\s+'),
                       t -> t <> '')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
               AS n_bpe,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpeish_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws), 6) AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6)
             AS chars_per_token
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R407 tokenizer fertility report per language: BPE-ish
    subword-per-word ratio (fertility — THE standard cross-lingual
    tokenizer-equity metric: high-fertility languages pay more tokens
    per word) and chars-per-token (compression), from the repo's two
    tokenizers (ws_tokens and the BPE_ISH_PATTERN pre-tokenizer —
    the same RE2-portable regex on both engines).  All counts are
    BIGINTs; ratios exact-operand.  Map-side token counts + one
    groupBy on lang: scan-bound at 100 TB (token counting is the
    canonical corpus-stats pass).  Complements token_stats_by_lang
    (whitespace stats only) and vocab_coverage_sizes (vocab growth);
    neither reports subword fertility."""
    from zoom_spark.functions.text import bpe_ish_token_count, ws_tokens

    per_doc = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(ws_tokens(F.lower(F.trim(F.col("text")))))
        .cast("long")
        .alias("n_ws"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_ws_tokens"),
        F.sum("n_bpe").cast("long").alias("n_bpeish_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# R408 Welch's heteroscedastic one-way ANOVA across market segments
# ---------------------------------------------------------------------------


@register(
    "welch_anova_segments",
    sql="""
    WITH spend AS MATERIALIZED (
      SELECT c.c_mktsegment AS seg,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ),
    m AS MATERIALIZED (
      -- per-group mean/variance on the whole-dollar grid (cents^2
      -- overflows BIGINT; 1e4 scale-back below)
      SELECT seg,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents // 100) AS BIGINT) AS sd,
             CAST(sum((cents // 100) * (cents // 100)) AS BIGINT) AS qd
      FROM spend GROUP BY seg
    ),
    w AS MATERIALIZED (
      SELECT seg, n,
             CAST(s AS DOUBLE) / n AS xbar,
             CAST(n AS DOUBLE)
               / ((CAST(qd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n)
                  / (n - 1) * 1e4) AS wj
      FROM m
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(wj) AS wsum,
             sum(wj * xbar) AS wxsum
      FROM w
    ),
    terms AS (
      -- per-group contributions snapped at 1e-9 before the k-row sums
      SELECT CAST(sum(CAST(floor(
               w.wj * power(w.xbar - tot.wxsum / tot.wsum, 2) * 1e9 + 0.5)
               AS BIGINT)) AS BIGINT) AS num9,
             CAST(sum(CAST(floor(
               power(1.0 - w.wj / tot.wsum, 2) / (w.n - 1) * 1e9 + 0.5)
               AS BIGINT)) AS BIGINT) AS lam9
      FROM w CROSS JOIN tot
    )
    SELECT tot.k,
           CAST(tot.k - 1 AS BIGINT) AS df1,
           round((tot.k * tot.k - 1.0)
                 / (3.0 * (CAST(terms.lam9 AS DOUBLE) / 1e9)), 4) AS df2,
           round((CAST(terms.num9 AS DOUBLE) / 1e9 / (tot.k - 1))
                 / (1.0 + 2.0 * (tot.k - 2) / (tot.k * tot.k - 1.0)
                          * (CAST(terms.lam9 AS DOUBLE) / 1e9)), 6)
             AS welch_f
    FROM tot CROSS JOIN terms
    """,
)
def welch_anova_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R408 Welch's heteroscedastic one-way ANOVA of customer spend
    across the 5 market segments: F* = [Σw_j(x̄_j-x̃)²/(k-1)] /
    [1 + 2(k-2)/(k²-1)·Λ] with w_j = n_j/s_j², x̃ = Σw_jx̄_j/Σw_j,
    Λ = Σ(1-w_j/Σw)²/(n_j-1), Satterthwaite df2 = (k²-1)/(3Λ) — the
    unequal-variances companion the registry's anova_f_segments
    (classic F assumes homoscedasticity; levene/bartlett test the
    assumption, Welch is what you run when it fails).  Group moments
    are BIGINT (variance on the whole-dollar grid, 1e4 scale-back —
    the james_stein overflow discipline); the k per-group numerator
    and Λ terms are 1e-9-snapped before the 5-row sums.  One groupBy
    + a 5-row broadcast at 100 TB."""
    spend = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cc"),
            ),
            on=F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "c_custkey")
        .agg(F.sum("cc").cast("long").alias("cents"))
    )
    d = F.floor(F.col("cents") / 100).cast("long")
    m = spend.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(d).cast("long").alias("sd"),
        F.sum(d * d).cast("long").alias("qd"),
    )
    nd = F.col("n").cast("double")
    var = (
        (
            F.col("qd").cast("double")
            - F.col("sd").cast("double") * F.col("sd") / nd
        )
        / (nd - 1)
        * 1e4
    )
    w = m.select(
        "seg",
        "n",
        (F.col("s").cast("double") / nd).alias("xbar"),
        (nd / var).alias("wj"),
    ).localCheckpoint(eager=False)
    tot = w.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("wj").alias("wsum"),
        F.sum(F.col("wj") * F.col("xbar")).alias("wxsum"),
    )
    j = w.join(F.broadcast(tot))
    xt = F.col("wxsum") / F.col("wsum")
    terms = j.agg(
        F.sum(
            F.floor(
                F.col("wj") * F.pow(F.col("xbar") - xt, 2) * 1e9 + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("num9"),
        F.sum(
            F.floor(
                F.pow(1.0 - F.col("wj") / F.col("wsum"), 2)
                / (F.col("n") - 1)
                * 1e9
                + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("lam9"),
        F.max("k").cast("long").alias("k"),
    )
    kd = F.col("k").cast("double")
    lam = F.col("lam9").cast("double") / 1e9
    return terms.select(
        "k",
        (F.col("k") - 1).cast("long").alias("df1"),
        F.round((kd * kd - 1.0) / (3.0 * lam), 4).alias("df2"),
        F.round(
            (F.col("num9").cast("double") / 1e9 / (kd - 1))
            / (1.0 + 2.0 * (kd - 2) / (kd * kd - 1.0) * lam),
            6,
        ).alias("welch_f"),
    )


# ---------------------------------------------------------------------------
# R409 Breusch-Godfrey LM test for serial correlation (1 lag)
# ---------------------------------------------------------------------------

_TREND_RESID_SQL = f"""
    d AS MATERIALIZED ({_ADF_SERIES_SQL}),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             (CAST(count(*) AS DOUBLE) * sum(t * y)
              - CAST(sum(t) AS DOUBLE) * sum(y))
             / (CAST(count(*) AS DOUBLE) * sum(t * t)
                - CAST(sum(t) AS DOUBLE) * sum(t)) AS b,
             (CAST(sum(y) AS DOUBLE)
              - (CAST(count(*) AS DOUBLE) * sum(t * y)
                 - CAST(sum(t) AS DOUBLE) * sum(y))
                / (CAST(count(*) AS DOUBLE) * sum(t * t)
                   - CAST(sum(t) AS DOUBLE) * sum(t)) * sum(t))
             / count(*) AS a
      FROM d
    ),
    resid AS MATERIALIZED (
      -- whole-dollar-snapped residuals (exact-operand fitted values)
      SELECT d.t,
             CAST(floor(d.y - fit.a - fit.b * d.t + 0.5) AS BIGINT) AS e
      FROM d CROSS JOIN fit
    )
"""


@register(
    "breusch_godfrey_revenue",
    sql=f"""
    WITH {_TREND_RESID_SQL},
    reg AS MATERIALIZED (
      SELECT cur.t AS t, cur.e AS e, p.e AS el
      FROM resid cur JOIN resid p ON p.t = cur.t - 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(el) AS BIGINT) AS sl,
             CAST(sum(e) AS BIGINT) AS se,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(t * el) AS BIGINT) AS stl,
             CAST(sum(el * el) AS BIGINT) AS sll,
             CAST(sum(t * e) AS BIGINT) AS ste,
             CAST(sum(el * e) AS BIGINT) AS sle,
             CAST(sum(e * e) AS BIGINT) AS see
      FROM reg
    ),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st AS a11,
             CAST(n AS DOUBLE) * stl - CAST(st AS DOUBLE) * sl AS a12,
             CAST(n AS DOUBLE) * sll - CAST(sl AS DOUBLE) * sl AS a22,
             CAST(n AS DOUBLE) * ste - CAST(st AS DOUBLE) * se AS b1,
             CAST(n AS DOUBLE) * sle - CAST(sl AS DOUBLE) * se AS b2,
             CAST(n AS DOUBLE) * see - CAST(se AS DOUBLE) * se AS syy
      FROM m
    )
    SELECT n AS n_obs,
           round((b1 * (b1 * a22 - b2 * a12)
                  + b2 * (b2 * a11 - b1 * a12))
                 / ((a11 * a22 - a12 * a12) * syy), 6) AS r2_aux,
           round(CAST(n AS DOUBLE)
                 * (b1 * (b1 * a22 - b2 * a12)
                    + b2 * (b2 * a11 - b1 * a12))
                 / ((a11 * a22 - a12 * a12) * syy), 6) AS lm_stat,
           round(exp(-0.5 * CAST(n AS DOUBLE)
                 * (b1 * (b1 * a22 - b2 * a12)
                    + b2 * (b2 * a11 - b1 * a12))
                 / ((a11 * a22 - a12 * a12) * syy)) *
                 (1.0 + 0.0), 6) AS p_exp_df2_bound
    FROM c
    """,
)
def breusch_godfrey_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R409 Breusch-Godfrey LM test for serial correlation in the
    daily-revenue trend residuals, 1 lag: regress e_t on [1, t,
    e_{{t-1}}]; LM = n·R²_aux ~ χ²(1) — the registry's
    durbin_watson is the classic first-order statistic with an
    inconclusive region and no higher-order path; BG is the modern LM
    form (and, unlike DW, valid with lagged regressors).  Residuals
    are snapped to the whole-dollar grid (exact-operand fitted values
    → identical BIGINTs on both engines), so every aux-regression
    moment is a BIGINT and R² is one closed form (centered 2×2
    Cramer).  The emitted exp(-LM/2) is the χ²(2)-form upper bound on
    the df=1 p-value (df=1 needs erf; the bound is monotone in LM and
    cross-engine exact).  Day-frame joins only."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .select("y", "t")
        .localCheckpoint(eager=False)
    )
    fit = d.agg(
        F.count("*").cast("long").alias("n"),
        (
            (
                F.count("*").cast("double") * F.sum(F.col("t") * F.col("y"))
                - F.sum("t").cast("double") * F.sum("y")
            )
            / (
                F.count("*").cast("double") * F.sum(F.col("t") * F.col("t"))
                - F.sum("t").cast("double") * F.sum("t")
            )
        ).alias("b"),
    )
    fit = (
        d.join(F.broadcast(fit))
        .agg(
            F.max("n").alias("n"),
            F.max("b").alias("b"),
            (
                (F.sum("y").cast("double") - F.max("b") * F.sum("t"))
                / F.count("*")
            ).alias("a"),
        )
    )
    resid = (
        d.join(F.broadcast(fit))
        .select(
            "t",
            F.floor(
                F.col("y") - F.col("a") - F.col("b") * F.col("t") + 0.5
            )
            .cast("long")
            .alias("e"),
        )
        .localCheckpoint(eager=False)
    )
    cur = resid.select(F.col("t").alias("tc"), F.col("e").alias("e"))
    p = resid.select(F.col("t").alias("tp_"), F.col("e").alias("el"))
    reg = cur.join(p, F.col("tp_") == F.col("tc") - 1).select(
        F.col("tc").alias("t"), "e", "el"
    )
    m = reg.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("el").cast("long").alias("sl"),
        F.sum("e").cast("long").alias("se"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("el")).cast("long").alias("stl"),
        F.sum(F.col("el") * F.col("el")).cast("long").alias("sll"),
        F.sum(F.col("t") * F.col("e")).cast("long").alias("ste"),
        F.sum(F.col("el") * F.col("e")).cast("long").alias("sle"),
        F.sum(F.col("e") * F.col("e")).cast("long").alias("see"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("stt") - F.col("st").cast("double") * F.col("st")
    a12 = nd * F.col("stl") - F.col("st").cast("double") * F.col("sl")
    a22 = nd * F.col("sll") - F.col("sl").cast("double") * F.col("sl")
    b1 = nd * F.col("ste") - F.col("st").cast("double") * F.col("se")
    b2 = nd * F.col("sle") - F.col("sl").cast("double") * F.col("se")
    syy = nd * F.col("see") - F.col("se").cast("double") * F.col("se")
    det = a11 * a22 - a12 * a12
    r2 = (b1 * (b1 * a22 - b2 * a12) + b2 * (b2 * a11 - b1 * a12)) / (
        det * syy
    )
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(nd * r2, 6).alias("lm_stat"),
        F.round(F.exp(-0.5 * nd * r2) * (1.0 + 0.0), 6).alias(
            "p_exp_df2_bound"
        ),
    )


# ---------------------------------------------------------------------------
# R410 White test for heteroskedasticity of the revenue trend
# ---------------------------------------------------------------------------


@register(
    "white_test_revenue",
    sql=f"""
    WITH {_TREND_RESID_SQL},
    sq AS MATERIALIZED (
      -- squared residuals on the 10k-dollar grid: e4 = floor(e/1e4 +
      -- 0.5) keeps e4^2 products BIGINT through the t^2 regressors
      SELECT t,
             CAST(floor(CAST(e AS DOUBLE) / 1e4 + 0.5) AS BIGINT) AS e4
      FROM resid
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS s1,
             CAST(sum(t * t) AS BIGINT) AS s2,
             CAST(sum(t * t * t) AS BIGINT) AS s3,
             CAST(sum(t * t * t * t) AS BIGINT) AS s4,
             CAST(sum(e4 * e4) AS BIGINT) AS sy,
             CAST(sum(t * e4 * e4) AS BIGINT) AS sy1,
             CAST(sum(t * t * e4 * e4) AS BIGINT) AS sy2,
             CAST(sum(e4 * e4 * e4 * e4) AS BIGINT) AS syy
      FROM sq
    ),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1 AS a11,
             CAST(n AS DOUBLE) * s3 - CAST(s1 AS DOUBLE) * s2 AS a12,
             CAST(n AS DOUBLE) * s4 - CAST(s2 AS DOUBLE) * s2 AS a22,
             CAST(n AS DOUBLE) * sy1 - CAST(s1 AS DOUBLE) * sy AS b1,
             CAST(n AS DOUBLE) * sy2 - CAST(s2 AS DOUBLE) * sy AS b2,
             CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vyy
      FROM m
    )
    SELECT n AS n_obs,
           round((b1 * (b1 * a22 - b2 * a12)
                  + b2 * (b2 * a11 - b1 * a12))
                 / ((a11 * a22 - a12 * a12) * vyy), 6) AS r2_aux,
           round(CAST(n AS DOUBLE)
                 * (b1 * (b1 * a22 - b2 * a12)
                    + b2 * (b2 * a11 - b1 * a12))
                 / ((a11 * a22 - a12 * a12) * vyy), 6) AS lm_stat,
           round(exp(-0.5 * CAST(n AS DOUBLE)
                 * (b1 * (b1 * a22 - b2 * a12)
                    + b2 * (b2 * a11 - b1 * a12))
                 / ((a11 * a22 - a12 * a12) * vyy)), 6) AS p_value
    FROM c
    """,
)
def white_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R410 White (1980) test for heteroskedasticity of the daily-
    revenue trend: regress the squared residuals on [1, t, t²]; LM =
    n·R²_aux ~ χ²(2), whose p-value is the CLOSED FORM exp(-LM/2) —
    completing the residual-diagnostic triple with breusch_pagan
    (Koenker form, same regressor) and breusch_godfrey (serial
    correlation): White's squared-regressor term catches variance
    curvature BP's linear form misses, with no normality assumption.
    Residuals ride the shared whole-dollar snap; their SQUARES drop
    to the 10⁴-dollar grid (e⁴ sums overflow BIGINT on the dollar
    grid — the grid is ~0.3% of the residual sd, invisible at 6dp on
    R²), making every aux moment a BIGINT and R² one centered 2×2
    Cramer closed form.  Day-frame only."""
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
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
        .select("y", "t")
        .localCheckpoint(eager=False)
    )
    fit = d.agg(
        F.count("*").cast("long").alias("n"),
        (
            (
                F.count("*").cast("double") * F.sum(F.col("t") * F.col("y"))
                - F.sum("t").cast("double") * F.sum("y")
            )
            / (
                F.count("*").cast("double") * F.sum(F.col("t") * F.col("t"))
                - F.sum("t").cast("double") * F.sum("t")
            )
        ).alias("b"),
    )
    fit = (
        d.join(F.broadcast(fit))
        .agg(
            F.max("b").alias("b"),
            (
                (F.sum("y").cast("double") - F.max("b") * F.sum("t"))
                / F.count("*")
            ).alias("a"),
        )
    )
    sq = d.join(F.broadcast(fit)).select(
        "t",
        F.floor(
            F.floor(
                F.col("y") - F.col("a") - F.col("b") * F.col("t") + 0.5
            ).cast("double")
            / 1e4
            + 0.5
        )
        .cast("long")
        .alias("e4"),
    )
    t = F.col("t")
    e2 = F.col("e4") * F.col("e4")
    m = sq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(t).cast("long").alias("s1"),
        F.sum(t * t).cast("long").alias("s2"),
        F.sum(t * t * t).cast("long").alias("s3"),
        F.sum(t * t * t * t).cast("long").alias("s4"),
        F.sum(e2).cast("long").alias("sy"),
        F.sum(t * e2).cast("long").alias("sy1"),
        F.sum(t * t * e2).cast("long").alias("sy2"),
        F.sum(e2 * e2).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("s2") - F.col("s1").cast("double") * F.col("s1")
    a12 = nd * F.col("s3") - F.col("s1").cast("double") * F.col("s2")
    a22 = nd * F.col("s4") - F.col("s2").cast("double") * F.col("s2")
    b1 = nd * F.col("sy1") - F.col("s1").cast("double") * F.col("sy")
    b2 = nd * F.col("sy2") - F.col("s2").cast("double") * F.col("sy")
    vyy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    det = a11 * a22 - a12 * a12
    r2 = (b1 * (b1 * a22 - b2 * a12) + b2 * (b2 * a11 - b1 * a12)) / (
        det * vyy
    )
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(nd * r2, 6).alias("lm_stat"),
        F.round(F.exp(-0.5 * nd * r2), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# R411 Scheirer-Ray-Hare nonparametric two-way ANOVA on ranks
# ---------------------------------------------------------------------------


@register(
    "scheirer_ray_hare_test",
    sql=f"""
    WITH obs AS MATERIALIZED (
      SELECT CAST((CAST(o_orderdate AS DATE) - DATE '1990-01-01') % 7
                  AS BIGINT) AS wd,
             CAST({_PRIO_BUCKET_SQL} AS BIGINT) AS pb,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    vals AS MATERIALIZED (
      SELECT cents, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(count(*)) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM obs GROUP BY cents
    ),
    r AS MATERIALIZED (
      -- 2x-midrank per distinct value: 2*(cum-t) + t + 1
      SELECT cents, CAST(2 * (cum - t) + t + 1 AS BIGINT) AS r2
      FROM vals
    ),
    ranked AS MATERIALIZED (
      SELECT o.wd, o.pb, r.r2 FROM obs o JOIN r ON r.cents = o.cents
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2) AS BIGINT) AS s,
             CAST(sum(r2 * r2) AS BIGINT) AS ss
      FROM ranked
    ),
    cells AS MATERIALIZED (
      SELECT wd, pb, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(r2) AS BIGINT) AS t2
      FROM ranked GROUP BY wd, pb
    ),
    -- per-level/per-cell T^2/m terms snapped on the UNIT grid before
    -- the BIGINT sums (the terms are ~1e14 at sf0.1: T2^2 overflows
    -- BIGINT and a finer snap grid would too; unit grid = 1e-14
    -- relative, far below the 6dp output)
    sa AS (
      SELECT CAST(sum(CAST(floor(CAST(t2 AS DOUBLE) * t2 / m + 0.5)
                           AS BIGINT)) AS BIGINT) AS v6
      FROM (SELECT wd, CAST(sum(m) AS BIGINT) AS m,
                   CAST(sum(t2) AS BIGINT) AS t2 FROM cells GROUP BY wd)
    ),
    sb AS (
      SELECT CAST(sum(CAST(floor(CAST(t2 AS DOUBLE) * t2 / m + 0.5)
                           AS BIGINT)) AS BIGINT) AS v6
      FROM (SELECT pb, CAST(sum(m) AS BIGINT) AS m,
                   CAST(sum(t2) AS BIGINT) AS t2 FROM cells GROUP BY pb)
    ),
    sab AS (
      SELECT CAST(sum(CAST(floor(CAST(t2 AS DOUBLE) * t2 / m + 0.5)
                           AS BIGINT)) AS BIGINT) AS v6
      FROM cells
    )
    SELECT tot.n AS n_orders,
           round((CAST(sa.v6 AS DOUBLE)
                  - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                 / ((CAST(tot.ss AS DOUBLE)
                     - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                    / (tot.n - 1)), 6) AS h_weekday,
           round((CAST(sb.v6 AS DOUBLE)
                  - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                 / ((CAST(tot.ss AS DOUBLE)
                     - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                    / (tot.n - 1)), 6) AS h_priority,
           round((CAST(sab.v6 AS DOUBLE)
                  - CAST(sa.v6 AS DOUBLE)
                  - CAST(sb.v6 AS DOUBLE)
                  + CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                 / ((CAST(tot.ss AS DOUBLE)
                     - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                    / (tot.n - 1)), 6) AS h_interaction,
           CAST(6 AS BIGINT) AS df_weekday,
           CAST(2 AS BIGINT) AS df_priority,
           CAST(12 AS BIGINT) AS df_interaction,
           round(exp(-0.5 *
                 (CAST(sb.v6 AS DOUBLE)
                  - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                 / ((CAST(tot.ss AS DOUBLE)
                     - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                    / (tot.n - 1))), 6) AS p_priority
    FROM tot CROSS JOIN sa CROSS JOIN sb CROSS JOIN sab
    """,
)
def scheirer_ray_hare_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R411 Scheirer-Ray-Hare (1976) nonparametric TWO-WAY ANOVA on
    ranks: order values globally midranked, factors weekday (7) ×
    priority bucket (3); H_factor = SS_factor(ranks)/MS_total(ranks)
    ~ χ²(df), including the INTERACTION term — the crossed-design
    extension of the registry's one-way Kruskal-Wallis and the
    blocked Friedman/Quade (neither tests an interaction).  Ranks
    ride the 2×midrank grid via the two-phase prefix scan over
    distinct cent values (the cuzick spelling); level/cell rank sums
    are BIGINTs; each T²/m term is UNIT-grid-snapped before its ≤21-row
    sum (T² itself would overflow, so the division runs in
    exact-operand doubles); MS_total comes from BIGINT Σr², Σr.
    df=2 priority p-value is the closed-form exp(-H/2).  One rank
    scan + two hash aggregates at 100 TB."""
    from zoom_spark.operators.prefix import prefix_sum

    wd = (
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        % 7
    ).cast("long")
    pb = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(2)
        .cast("long")
    )
    obs = load_table(spark, sf_dir, "orders").select(
        wd.alias("wd"),
        pb.alias("pb"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    vals = prefix_sum(
        obs.groupBy("cents").agg(F.count("*").cast("long").alias("t")),
        "cents",
        "t",
        out_col="cum",
    ).select(
        "cents",
        (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1)
        .cast("long")
        .alias("r2"),
    )
    ranked = obs.join(vals, on="cents").select("wd", "pb", "r2")
    ranked = ranked.localCheckpoint(eager=False)
    tot = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r2").cast("long").alias("s"),
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("ss"),
    )
    cells = ranked.groupBy("wd", "pb").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("r2").cast("long").alias("t2"),
    ).localCheckpoint(eager=False)

    def level_sum(frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.sum(
                F.floor(
                    F.col("t2").cast("double")
                    * F.col("t2")
                    / F.col("m")
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("v6")
        )

    sa = level_sum(
        cells.groupBy("wd").agg(
            F.sum("m").cast("long").alias("m"),
            F.sum("t2").cast("long").alias("t2"),
        )
    ).withColumnRenamed("v6", "sa6")
    sb = level_sum(
        cells.groupBy("pb").agg(
            F.sum("m").cast("long").alias("m"),
            F.sum("t2").cast("long").alias("t2"),
        )
    ).withColumnRenamed("v6", "sb6")
    sab = level_sum(cells).withColumnRenamed("v6", "sab6")
    j = tot.join(F.broadcast(sa)).join(F.broadcast(sb)).join(
        F.broadcast(sab)
    )
    nd = F.col("n").cast("double")
    corr = F.col("s").cast("double") * F.col("s") / nd
    ms = (F.col("ss").cast("double") - corr) / (nd - 1)
    h_a = (F.col("sa6").cast("double") - corr) / ms
    h_b = (F.col("sb6").cast("double") - corr) / ms
    h_ab = (
        F.col("sab6").cast("double")
        - F.col("sa6").cast("double")
        - F.col("sb6").cast("double")
        + corr
    ) / ms
    return j.select(
        F.col("n").alias("n_orders"),
        F.round(h_a, 6).alias("h_weekday"),
        F.round(h_b, 6).alias("h_priority"),
        F.round(h_ab, 6).alias("h_interaction"),
        F.lit(6).cast("long").alias("df_weekday"),
        F.lit(2).cast("long").alias("df_priority"),
        F.lit(12).cast("long").alias("df_interaction"),
        F.round(F.exp(-0.5 * h_b), 6).alias("p_priority"),
    )
