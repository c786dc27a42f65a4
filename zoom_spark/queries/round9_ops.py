"""Round-9 operator additions (R327+, SURVEY.md §2.18).

Families, chosen to fill the association/effect-size, survival-
regression, clustering-validity, and exact-ANN gaps left after
rounds 2-8 (concept-grepped against the registry first — the
round-7 lesson):

- effect sizes / ordinal association: Cliff's delta, Goodman-Kruskal
  gamma, Theil's U (uncertainty coefficient), concordance correlation
- clustering validity: Calinski-Harabasz over the labeled embeddings
- survival regression: Cox proportional-hazards one-step estimator
- similarity: sign-bit Hamming kNN (binary embedding search — exact,
  so the ANN family gains a value-hashed member at production shape)
- record linkage: longest-common-substring feature over blocked pairs
- GLM: Poisson IRLS regression (unrolled, snapped)

Engine-parity discipline (shared with rounds 4-8): decomposable
aggregates only; moments snapped on the shared floor(x*1e9+0.5) grid
before closed-form solves; transcendental inputs rounded BEFORE the
call so both engines see identical arguments; rank statistics go
through the distinct-value prefix frame, never a data-sized global
window; integer-exact arithmetic preferred over snap schedules
wherever inputs can be quantized once (sign bits, cent grids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.queries import register


# ---------------------------------------------------------------------------
# R327 Cliff's delta (ordinal effect size), weekend vs weekday values
# ---------------------------------------------------------------------------


@register(
    "cliffs_delta_weekend",
    sql="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    pv AS (
      SELECT v, CAST(sum(grp) AS BIGINT) AS na,
             CAST(count(*) - sum(grp) AS BIGINT) AS nb
      FROM s GROUP BY v
    ),
    r AS (
      SELECT v, na, nb,
             sum(nb) OVER w - nb AS b_below,
             sum(na) OVER w - na AS a_below
      FROM pv
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    agg AS (
      SELECT CAST(sum(na) AS BIGINT) AS m,
             CAST(sum(nb) AS BIGINT) AS n,
             CAST(sum(na * b_below) AS BIGINT) AS gt,
             CAST(sum(nb * a_below) AS BIGINT) AS lt
      FROM r
    )
    SELECT m AS n_weekend, n AS n_weekday,
           round(CAST(gt - lt AS DOUBLE) / (CAST(m AS DOUBLE) * n), 6)
             AS cliffs_delta
    FROM agg
    """,
)
def cliffs_delta_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R327 Cliff's delta, weekend vs weekday event values: the
    nonparametric ordinal effect size delta = (#(a>b) - #(a<b))/(m*n)
    — the recommended companion to Mann-Whitney/Brunner-Munzel
    (registry: mann_whitney_u_weekend, R325 brunner_munzel) because it is bounded, tie-robust and needs
    no distribution assumption.  Pair counts come from the SAME
    distinct-value prefix frame as the rank tests: #(a>b) =
    sum_v na(v) * (#b strictly below v), one pass, two running
    counts — all-integer until the single final division, so the
    6dp hash is drift-free.  Two shuffles total at any scale."""
    from zoom_spark.operators.prefix import prefix_sum
    from zoom_spark.queries.rank_stats import _weekend_events

    s = _weekend_events(spark, sf_dir)
    pv = s.groupBy("v").agg(
        F.sum("grp").cast("bigint").alias("na"),
        (F.count("*") - F.sum("grp")).cast("bigint").alias("nb"),
    )
    r = prefix_sum(pv, "v", ["nb", "na"], out_col=["cb", "ca"])  # merged: one two-phase scan for all running sums (r13)
    agg = r.agg(
        F.sum("na").cast("bigint").alias("m"),
        F.sum("nb").cast("bigint").alias("n"),
        F.sum(F.col("na") * (F.col("cb") - F.col("nb")))
        .cast("bigint")
        .alias("gt"),
        F.sum(F.col("nb") * (F.col("ca") - F.col("na")))
        .cast("bigint")
        .alias("lt"),
    )
    return agg.select(
        F.col("m").alias("n_weekend"),
        F.col("n").alias("n_weekday"),
        F.round(
            (F.col("gt") - F.col("lt"))
            / (F.col("m").cast("double") * F.col("n")),
            6,
        ).alias("cliffs_delta"),
    )


# ---------------------------------------------------------------------------
# R328 Goodman-Kruskal gamma: order priority vs price decile
# ---------------------------------------------------------------------------


@register(
    "gk_gamma_priority_price",
    sql="""
    WITH o AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS x,
             CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS y
      FROM orders
    ),
    grid AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY x, y
    ),
    pairs AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                           THEN a.n * b.n ELSE 0 END) AS BIGINT) AS conc,
             CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                           THEN a.n * b.n ELSE 0 END) AS BIGINT) AS disc
      FROM grid a JOIN grid b ON (b.x, b.y) <> (a.x, a.y)
    )
    SELECT conc AS concordant, disc AS discordant,
           round(CAST(conc - disc AS DOUBLE) / (conc + disc), 6) AS gamma
    FROM pairs
    """,
)
def gk_gamma_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R328 Goodman-Kruskal gamma between order priority (ordinal
    1-URGENT..5-LOW) and total-price bucket: gamma = (C - D)/(C + D)
    counts only concordant/discordant pairs, ignoring ties — the
    ordinal association measure for heavily-tied contingency data
    (Kendall tau-b, registry, penalizes ties instead).  The raw
    stream collapses to the priority x bucket contingency GRID (one
    hash aggregate, <= 5 x ~25 cells at any SF), then C and D are a
    closed-form grid self-join — the Jonckheere-Terpstra (R324)
    shape: per-pair work is grid^2, data-size-independent.  All
    integer until the final division."""
    o = load_table(spark, sf_dir, "orders")
    grid = (
        o.select(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias(
                "y"
            ),
        )
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    a = grid.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = grid.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("xa") != F.col("xb")) | (F.col("ya") != F.col("yb")),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                    F.col("na") * F.col("nb"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("concordant"),
            F.sum(
                F.when(
                    (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                    F.col("na") * F.col("nb"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("discordant"),
        )
    )
    return pairs.select(
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / (F.col("concordant") + F.col("discordant")),
            6,
        ).alias("gamma"),
    )


# ---------------------------------------------------------------------------
# R329 Theil's U (uncertainty coefficient): status given priority
# ---------------------------------------------------------------------------


@register(
    "theils_u_status_priority",
    sql="""
    WITH o AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y FROM orders
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
    -- H(Y): entropy of the status marginal; ln arguments are
    -- 9dp-snapped probabilities so both engines call ln on
    -- identical doubles
    hy AS (
      SELECT -sum(p * ln(p)) AS h FROM (
        SELECT floor(CAST(count(*) AS DOUBLE) / any_value(t.n)
                     * 1e9 + 0.5) / 1e9 AS p
        FROM o CROSS JOIN tot t GROUP BY y
      )
    ),
    -- H(Y|X) = sum_x p(x) * H(Y | X = x)
    hyx AS (
      SELECT sum(pxy * ln(pyx)) * -1 AS h FROM (
        SELECT floor(CAST(count(*) AS DOUBLE) / any_value(t.n)
                     * 1e9 + 0.5) / 1e9 AS pxy,
               floor(CAST(count(*) AS DOUBLE)
                     / sum(count(*)) OVER (PARTITION BY x)
                     * 1e9 + 0.5) / 1e9 AS pyx
        FROM o CROSS JOIN tot t GROUP BY x, y
      )
    )
    SELECT round(hy.h, 6) AS h_status,
           round(hyx.h, 6) AS h_status_given_priority,
           round((hy.h - hyx.h) / hy.h, 6) AS theils_u
    FROM hy CROSS JOIN hyx
    """,
)
def theils_u_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R329 Theil's uncertainty coefficient U(status | priority) =
    (H(Y) - H(Y|X)) / H(Y): the ASYMMETRIC categorical association
    measure (how much knowing the priority reduces status entropy),
    complementing the symmetric chi-square/Cramer family already
    gated.  Both entropies reduce to the tiny contingency grid (one
    hash aggregate); ln() arguments are probabilities snapped on the
    shared 9dp floor grid BEFORE the call, so engine libm vs JVM
    StrictMath 1-ulp drift cannot occur (round-8 transcendental
    rule).  Map-side-partial aggregate, grid-sized driver math."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    )
    snap9 = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    tot = o.agg(F.count("*").cast("bigint").alias("n"))
    ymarg = (
        o.groupBy("y")
        .agg(F.count("*").cast("double").alias("c"))
        .crossJoin(F.broadcast(tot))
        .select(snap9(F.col("c") / F.col("n")).alias("p"))
    )
    hy = ymarg.agg((-F.sum(F.col("p") * F.log("p"))).alias("h"))
    from pyspark.sql import Window

    wx = Window.partitionBy("x")
    cell = (
        o.groupBy("x", "y")
        .agg(F.count("*").cast("double").alias("c"))
        .withColumn("cx", F.sum("c").over(wx))
        .crossJoin(F.broadcast(tot))
        .select(
            snap9(F.col("c") / F.col("n")).alias("pxy"),
            snap9(F.col("c") / F.col("cx")).alias("pyx"),
        )
    )
    hyx = cell.agg((-F.sum(F.col("pxy") * F.log("pyx"))).alias("h"))
    return (
        hy.select(F.col("h").alias("h_y"))
        .crossJoin(hyx.select(F.col("h").alias("h_yx")))
        .select(
            F.round("h_y", 6).alias("h_status"),
            F.round("h_yx", 6).alias("h_status_given_priority"),
            F.round((F.col("h_y") - F.col("h_yx")) / F.col("h_y"), 6).alias(
                "theils_u"
            ),
        )
    )


# ---------------------------------------------------------------------------
# R330 concordance correlation coefficient: daily purchases vs clicks
# ---------------------------------------------------------------------------


@register(
    "concordance_corr_daily",
    sql="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM d
    ),
    m AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
               * (CAST(sx AS DOUBLE) / n) AS vx,
             CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n)
               * (CAST(sy AS DOUBLE) / n) AS vy,
             CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n)
               * (CAST(sy AS DOUBLE) / n) AS cxy
      FROM s
    )
    SELECT n AS n_days,
           round(2.0 * cxy / (vx + vy + (mx - my) * (mx - my)), 6) AS ccc,
           round(cxy / sqrt(vx * vy), 6) AS pearson_r
    FROM m
    """,
)
def concordance_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R330 Lin's concordance correlation coefficient between the
    daily purchase-count and daily click-count series: CCC =
    2*cov / (var_x + var_y + (mean_x - mean_y)^2) measures AGREEMENT
    (how close pairs fall to the y = x identity line), penalizing
    both location and scale shift where Pearson r (also emitted, the
    classic CCC decomposition companion) only measures linearity.
    The series collapse to one calendar-bounded day frame of integer
    counts, so every raw moment is an exact BIGINT in both engines
    and the closed form (spelled with the identical operation order
    on both sides) is bit-identical until the final 6dp round."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    s = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vx = F.col("sxx").cast("double") / n - mx * mx
    vy = F.col("syy").cast("double") / n - my * my
    cxy = F.col("sxy").cast("double") / n - mx * my
    return s.select(
        n.alias("n_days"),
        F.round(2.0 * cxy / (vx + vy + (mx - my) * (mx - my)), 6).alias(
            "ccc"
        ),
        F.round(cxy / F.sqrt(vx * vy), 6).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# R331 Calinski-Harabasz index over the labeled embeddings
# ---------------------------------------------------------------------------

CH_QSCALE = 1_000  # 1e-3 integer grid keeps every sum long-exact


@register(
    "calinski_harabasz_labels",
    sql=f"""
    WITH edim AS MATERIALIZED (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * {CH_QSCALE} + 0.5) AS BIGINT) AS x
      FROM embeddings
    ),
    ld AS (   -- per (label, dim): exact integer sums
      SELECT label, d, CAST(sum(x) AS BIGINT) AS s
      FROM edim GROUP BY label, d
    ),
    lstat AS (   -- per label: ||S_l||^2 and member count
      SELECT label, CAST(sum(s * s) AS BIGINT) AS ssq
      FROM ld GROUP BY label
    ),
    lcnt AS (
      SELECT label, CAST(count(*) AS BIGINT) AS nl
      FROM embeddings GROUP BY label
    ),
    tstat AS (   -- global: ||T||^2, total squared norm, n, k
      SELECT CAST(sum(td * td) AS BIGINT) AS tsq FROM (
        SELECT d, CAST(sum(s) AS BIGINT) AS td FROM ld GROUP BY d
      )
    ),
    xx AS (
      SELECT CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(count(DISTINCT vec_id) AS BIGINT) AS n
      FROM edim
    ),
    parts AS (
      SELECT sum(CAST(l.ssq AS DOUBLE) / c.nl) AS wsum,
             CAST(count(*) AS BIGINT) AS k
      FROM lstat l JOIN lcnt c USING (label)
    )
    SELECT xx.n AS n_vectors, parts.k AS n_labels,
           round((parts.wsum - CAST(tstat.tsq AS DOUBLE) / xx.n)
                   / (parts.k - 1)
                 / ((CAST(xx.sxx AS DOUBLE) - parts.wsum)
                   / (xx.n - parts.k)), 6) AS ch_index
    FROM xx CROSS JOIN parts CROSS JOIN tstat
    """,
)
def calinski_harabasz_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R331 Calinski-Harabasz (variance-ratio) clustering validity
    index of the embeddings' ground-truth labels: CH =
    (SSB/(k-1)) / (SSW/(n-k)) with SSW = sum||x||^2 - sum_l
    ||S_l||^2/n_l and SSB = sum_l ||S_l||^2/n_l - ||T||^2/n — the
    standard sums-of-squares decomposition, so the WHOLE statistic
    reduces to per-(label, dim) integer sums.  Inputs quantize once
    to the 1e-3 grid ({CH_QSCALE}), which keeps every sum exact in
    BIGINT on both engines (|S_ld| <= 2.5e6 at sf0.1, squares <=
    6.25e12, 64-dim sums <= 4e14 << 2^63); only the final k-term
    double reduction and two divisions are float, with operation
    order spelled identically in the oracle.  One posexplode + two
    hash aggregates — map-side partials, no data-sized shuffle of
    vectors.  Companions: davies_bouldin_embeddings,
    silhouette_label_centroids (round 7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    edim = emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") * CH_QSCALE + F.lit(0.5)
                ).cast("long"),
            )
        ).alias("d", "x"),
    )
    ld = edim.groupBy("label", "d").agg(
        F.sum("x").cast("bigint").alias("s")
    )
    lstat = ld.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ssq")
    )
    lcnt = emb.groupBy("label").agg(F.count("*").cast("bigint").alias("nl"))
    tsq = (
        ld.groupBy("d")
        .agg(F.sum("s").cast("bigint").alias("td"))
        .agg(F.sum(F.col("td") * F.col("td")).cast("bigint").alias("tsq"))
    )
    xx = edim.agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.count_distinct(F.col("vec_id")).cast("bigint").alias("n"),
    )
    parts = lstat.join(lcnt, on="label").agg(
        F.sum(F.col("ssq").cast("double") / F.col("nl")).alias("wsum"),
        F.count("*").cast("bigint").alias("k"),
    )
    return (
        xx.crossJoin(F.broadcast(parts))
        .crossJoin(F.broadcast(tsq))
        .select(
            F.col("n").alias("n_vectors"),
            F.col("k").alias("n_labels"),
            F.round(
                (F.col("wsum") - F.col("tsq").cast("double") / F.col("n"))
                / (F.col("k") - 1)
                / (
                    (F.col("sxx").cast("double") - F.col("wsum"))
                    / (F.col("n") - F.col("k"))
                ),
                6,
            ).alias("ch_index"),
        )
    )


# ---------------------------------------------------------------------------
# R332 Cox proportional-hazards one-step estimator (weekend cohort)
# ---------------------------------------------------------------------------


@register(
    "cox_one_step_cohort",
    sql="""
    WITH u AS (
      SELECT user_id,
             min(epoch_us(ts)) AS first_us,
             max(epoch_us(ts)) AS last_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS purch_us
      FROM events GROUP BY user_id
    ),
    surv AS (
      SELECT user_id,
             CASE WHEN purch_us IS NOT NULL THEN purch_us - first_us
                  ELSE last_us - first_us END AS t,
             CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS d,
             CAST(user_id % 2 AS BIGINT) AS x
      FROM u
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS n1
      FROM surv
    ),
    tv AS (   -- distinct-time frame with per-time counts
      SELECT t,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(x) AS BIGINT) AS cnt1,
             CAST(sum(d) AS BIGINT) AS dcnt,
             CAST(sum(d * x) AS BIGINT) AS dcnt1
      FROM surv GROUP BY t
    ),
    rs AS (   -- Breslow risk sets via ascending prefix counts
      SELECT t, dcnt, dcnt1,
             tot.n - (sum(cnt) OVER w - cnt) AS s0,
             tot.n1 - (sum(cnt1) OVER w - cnt1) AS s1
      FROM tv CROSS JOIN tot
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    score AS (
      SELECT sum(dcnt1 - dcnt * (CAST(s1 AS DOUBLE) / s0)) AS u_score,
             sum(dcnt * (CAST(s1 AS DOUBLE) / s0)
                 * (1.0 - CAST(s1 AS DOUBLE) / s0)) AS info
      FROM rs WHERE dcnt > 0
    )
    SELECT tot.n AS n_users, tot.n1 AS n_cohort1,
           round(score.u_score / score.info, 6) AS beta_one_step,
           round(1.0 / sqrt(score.info), 6) AS se_beta
    FROM score CROSS JOIN tot
    """,
)
def cox_one_step_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R332 Cox proportional-hazards ONE-STEP estimator for the
    odd-user-cohort effect on time-to-first-purchase: from
    beta = 0, one Newton step gives beta_1 = U(0)/I(0) with the
    Breslow tie convention — U(0) = sum_events (d1_i - d_i*S1/S0),
    I(0) = sum_events d_i*(S1/S0)(1 - S1/S0), where S0/S1 are the
    (cohort-) risk-set counts at each event time.  (The covariate is
    the deterministic user-id parity split — the fixture's first
    events all cluster on Jan 1-2, so a weekend-signup covariate
    would be vacuous, the round-6 selector lesson.)  The one-step
    estimator is asymptotically equivalent to the full MLE for small
    effects and completes the survival battery (logrank_arm_conversion, RMST,
    Nelson-Aalen, Weibull) with a REGRESSION coefficient.  Users
    with no purchase are right-censored at their last event.  Risk
    sets come from ascending prefix counts over the distinct-time
    frame (two-phase prefix_sum, never a data-sized global window);
    everything is integer-exact until the per-time S1/S0 divisions
    (exact operands -> identical doubles in both engines)."""
    from zoom_spark.operators.prefix import prefix_sum

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("purch_us"),
    )
    surv = u.select(
        F.when(
            F.col("purch_us").isNotNull(),
            F.col("purch_us") - F.col("first_us"),
        )
        .otherwise(F.col("last_us") - F.col("first_us"))
        .alias("t"),
        F.when(F.col("purch_us").isNotNull(), 1).otherwise(0).alias("d"),
        (F.col("user_id") % 2).cast("bigint").alias("x"),
    )
    tot = surv.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("n1"),
    )
    tv = surv.groupBy("t").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("x").cast("bigint").alias("cnt1"),
        F.sum("d").cast("bigint").alias("dcnt"),
        F.sum(F.col("d") * F.col("x")).cast("bigint").alias("dcnt1"),
    )
    r = prefix_sum(tv, "t", ["cnt", "cnt1"], out_col=["cp", "cp1"])  # merged: one two-phase scan for all running sums (r13)
    rs = r.crossJoin(F.broadcast(tot)).select(
        "t",
        "dcnt",
        "dcnt1",
        (F.col("n") - (F.col("cp") - F.col("cnt"))).alias("s0"),
        (F.col("n1") - (F.col("cp1") - F.col("cnt1"))).alias("s1"),
    )
    frac = F.col("s1").cast("double") / F.col("s0")
    score = rs.where(F.col("dcnt") > 0).agg(
        F.sum(F.col("dcnt1") - F.col("dcnt") * frac).alias("u_score"),
        F.sum(F.col("dcnt") * frac * (1.0 - frac)).alias("info"),
    )
    return score.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_users"),
        F.col("n1").alias("n_cohort1"),
        F.round(F.col("u_score") / F.col("info"), 6).alias(
            "beta_one_step"
        ),
        F.round(1.0 / F.sqrt(F.col("info")), 6).alias("se_beta"),
    )


# ---------------------------------------------------------------------------
# R333 sign-bit Hamming kNN: binary embedding search, exact contract
# ---------------------------------------------------------------------------

HAM_QUERIES = 20


def _signbit_halves(vec_col):
    """Two 32-bit sign masks (dims 0-31, 32-63) as non-negative
    BIGINTs: bit d is set iff x_d > 0.  Sums of DISTINCT powers of
    two are exact integer arithmetic in any summation order, so the
    packing carries zero float-parity risk; two halves keep every
    value well inside the positive signed-64 range on both engines
    (no two's-complement/sign-bit edge cases)."""

    def half(offset):
        return F.aggregate(
            F.zip_with(
                F.slice(vec_col, offset + 1, 32),
                F.sequence(F.lit(0), F.lit(31)),
                lambda x, i: F.when(
                    x > 0, F.pow(F.lit(2.0), i).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return half(0), half(32)


@register(
    "hamming_knn_signbits",
    sql=f"""
    WITH bits AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN x > 0 AND d <= 32
                           THEN CAST(power(2, d - 1) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN x > 0 AND d > 32
                           THEN CAST(power(2, d - 33) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS b1
      FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               unnest(embedding) AS x
        FROM embeddings
      ) GROUP BY vec_id
    ),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.b0, c.b0))
                  + bit_count(xor(q.b1, c.b1)) AS BIGINT) AS hamming
      FROM bits q JOIN bits c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {HAM_QUERIES}
    ),
    ranked AS (
      SELECT q_id, neighbor_id, hamming,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY hamming, neighbor_id)
             AS BIGINT) AS rnk
      FROM scored
    )
    SELECT q_id, neighbor_id, hamming, rnk FROM ranked WHERE rnk <= 5
    """,
)
def hamming_knn_signbits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R333 binary-embedding similarity search: every vector packs to
    its 64 SIGN BITS (two 32-bit halves -> 8 bytes, a 32x compression
    of the float corpus), and neighbors rank by Hamming distance
    computed as two JVM popcounts over XORs — the memory-bound
    binary-sketch regime (ITQ/LSH-style sign codes) that scans
    billions of codes where float kNN cannot.  Unlike the other ANN
    family members this contract is EXACT (sign extraction and
    distinct-power sums are integer arithmetic in any order), so the
    full top-5-per-query result is value-hashed against DuckDB —
    the ANN family's first production-shaped member with a hash
    gate rather than a recall property.  Scale shape: 8-byte codes
    broadcast-free, query side broadcast, one scan, per-query top-k
    (TakeOrdered-class); the float corpus is never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    b0, b1 = _signbit_halves(F.col("embedding"))
    bits = emb.select(
        "vec_id", b0.alias("b0"), b1.alias("b1")
    ).localCheckpoint(eager=False)
    q = bits.where(F.col("vec_id") < HAM_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("b0").alias("q0"),
        F.col("b1").alias("q1"),
    )
    from pyspark.sql import Window

    ham = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("b0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("b1")))
    ).cast("bigint")
    return (
        F.broadcast(q)
        .crossJoin(bits)
        .where(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            ham.alias("hamming"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.partitionBy("q_id").orderBy(
                    "hamming", "neighbor_id"
                )
            )
            .cast("bigint"),
        )
        .where(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# R334 sorted-neighborhood linkage features: LCP / LCS(uffix) / edit
# ---------------------------------------------------------------------------


@register(
    "linkage_prefix_features",
    sql="""
    WITH named AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             a.p_name AS name_a, b.p_name AS name_b
      FROM named a JOIN named b ON b.rn = a.rn + 1
    ),
    pos AS (
      SELECT key_a, key_b, name_a, name_b,
             least(length(name_a), length(name_b)) AS ml,
             unnest(range(1, least(length(name_a), length(name_b)) + 2))
               AS i
      FROM pairs
    ),
    lcp AS (
      SELECT key_a, key_b,
             CAST(min(CASE WHEN i > ml
                           OR substring(name_a, i, 1)
                              <> substring(name_b, i, 1)
                      THEN i END) - 1 AS BIGINT) AS lcp_len,
             CAST(min(CASE WHEN i > ml
                           OR substring(name_a, length(name_a) - i + 1, 1)
                              <> substring(name_b, length(name_b) - i + 1, 1)
                      THEN i END) - 1 AS BIGINT) AS lcs_len
      FROM pos GROUP BY key_a, key_b
    )
    SELECT p.key_a, p.key_b, p.name_a, p.name_b,
           l.lcp_len, l.lcs_len,
           CAST(levenshtein(p.name_a, p.name_b) AS BIGINT) AS edit_dist,
           CASE WHEN string_split(p.name_a, ' ')[-1]
                     = string_split(p.name_b, ' ')[-1]
                THEN 1 ELSE 0 END AS same_block
    FROM pairs p JOIN lcp l USING (key_a, key_b)
    """,
)
def linkage_prefix_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R334 sorted-neighborhood record-linkage FEATURE EXTRACTION:
    for every adjacent pair in the name-sorted part catalog (the
    R235 SNM window at w = 2), emit the classic linkage feature
    vector — longest-common-prefix length, longest-common-suffix
    length, exact edit distance, and same-blocking-key flag — the
    inputs a downstream Fellegi-Sunter or learned matcher consumes.
    LCP/LCS come from one bounded position explode (<= len+1 rows
    per pair, name lengths are bounded): the first mismatching
    position minus one, evaluated front-to-back and back-to-front in
    the same pass.  Adjacent pairing is a self-join on consecutive
    global ranks (two-phase row_number at scale); everything is
    integer-exact, so the whole feature table value-hashes."""
    from zoom_spark.operators.prefix import global_row_number

    part = load_table(spark, sf_dir, "part")
    named = global_row_number(
        part.select("p_partkey", "p_name"),
        ["p_name", "p_partkey"],
        out_col="rn",
    )
    a = named.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "rn",
    )
    b = named.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        (F.col("rn") - 1).alias("rn"),
    )
    pairs = a.join(b, on="rn").drop("rn")
    ml = F.least(F.length("name_a"), F.length("name_b"))
    pos = pairs.select(
        "key_a", "key_b", "name_a", "name_b", ml.alias("ml"),
        F.explode(F.sequence(F.lit(1), ml + 1)).alias("i"),
    )
    first_pre = F.when(
        (F.col("i") > F.col("ml"))
        | (
            F.col("name_a").substr(F.col("i"), F.lit(1))
            != F.col("name_b").substr(F.col("i"), F.lit(1))
        ),
        F.col("i"),
    )
    first_suf = F.when(
        (F.col("i") > F.col("ml"))
        | (
            F.col("name_a").substr(
                F.length("name_a") - F.col("i") + 1, F.lit(1)
            )
            != F.col("name_b").substr(
                F.length("name_b") - F.col("i") + 1, F.lit(1)
            )
        ),
        F.col("i"),
    )
    lcp = pos.groupBy("key_a", "key_b").agg(
        (F.min(first_pre) - 1).cast("bigint").alias("lcp_len"),
        (F.min(first_suf) - 1).cast("bigint").alias("lcs_len"),
    )
    blk = lambda c: F.element_at(F.split(c, " "), -1)  # noqa: E731
    return pairs.join(lcp, on=["key_a", "key_b"]).select(
        "key_a",
        "key_b",
        "name_a",
        "name_b",
        "lcp_len",
        "lcs_len",
        F.levenshtein("name_a", "name_b").cast("bigint").alias("edit_dist"),
        F.when(blk(F.col("name_a")) == blk(F.col("name_b")), 1)
        .otherwise(0)
        .alias("same_block"),
    )


# ---------------------------------------------------------------------------
# R335 Poisson GLM (log link) on daily event counts, weekend effect
# ---------------------------------------------------------------------------

POIS_ITERS = 60
POIS_LR = 0.5


def _poisson_oracle_sql(iters: int = POIS_ITERS, lr: float = POIS_LR) -> str:
    """Unrolled full-batch GD replay (the logreg/pagerank schedule):
    counts are mean-scaled with an EXACT rational (sum/n of integers
    — identical doubles on both engines, no ln() offset needed), and
    every iteration's weights snap to the 9dp grid so gradient
    summation-order drift cannot compound."""
    head = """d AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS y,
             CASE WHEN CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1.0 ELSE 0.0 END AS x
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    st AS MATERIALIZED (
      SELECT CAST(sum(y) AS DOUBLE) / count(*) AS my,
             CAST(count(*) AS BIGINT) AS n
      FROM d
    ),
    sc AS MATERIALIZED (
      SELECT CAST(y AS DOUBLE) / st.my AS ys, x FROM d CROSS JOIN st
    ),
    w0 AS MATERIALIZED (SELECT 0.0 AS b, 0.0 AS c1)"""
    parts = [head]
    for i in range(1, iters + 1):
        parts.append(
            f"""g{i} AS MATERIALIZED (
      SELECT avg(ys - mu) AS g0, avg((ys - mu) * x) AS g1
      FROM (
        SELECT exp(w.b + w.c1 * x) AS mu, ys, x
        FROM sc CROSS JOIN w{i - 1} w
      )
    ),
    w{i} AS MATERIALIZED (
      SELECT floor((w.b  + {lr} * g.g0) * 1e9 + 0.5) / 1e9 AS b,
             floor((w.c1 + {lr} * g.g1) * 1e9 + 0.5) / 1e9 AS c1
      FROM w{i - 1} w CROSS JOIN g{i} g
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT st.n AS n_days,
           floor(w.b  * 1e6 + 0.5) / 1e6 AS beta0,
           floor(w.c1 * 1e6 + 0.5) / 1e6 AS beta_weekend,
           floor(st.my * exp(w.b) * 1e6 + 0.5) / 1e6 AS mu_weekday,
           floor(st.my * exp(w.b + w.c1) * 1e6 + 0.5) / 1e6 AS mu_weekend
    FROM w{iters} w CROSS JOIN st"""
    )


@register("poisson_glm_daily", sql=_poisson_oracle_sql())
def poisson_glm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R335 Poisson regression (log link) of daily event counts on a
    weekend indicator, trained by full-batch gradient ascent on the
    Poisson log-likelihood — each iteration is ONE tiny aggregate
    over the calendar-bounded day frame (grad = avg[(y - mu)·x]),
    the same "iterative ML as aggregation" shape as the gated
    logistic GD (R90).  Counts are scaled by their EXACT rational
    mean instead of carrying an ln() offset, so no transcendental
    touches unsnapped cross-engine state; weights snap to the 9dp
    grid per iteration (the pagerank schedule) and the oracle
    replays the identical unrolled updates.  For one binary
    covariate the MLE has the closed form beta_weekend =
    ln(mean_weekend / mean_weekday) — the referee checks the GD
    fixpoint against it independently.
    EXECUTION SPLIT (round 11; the memoized-Lloyd / MDS precedent):
    the events table collapses to the CALENDAR-BOUNDED day frame IN
    SPARK (the only data-sized stage at 100 TB — one groupBy), and
    the 60 GD iterations run on the driver over that model-sized
    (y, x) list with the identical 9dp-snapped updates — the prior
    shape paid 60 Spark jobs (one 1-row collect per iteration,
    ~0.15 s fixed latency each ≈ 9.5 s) for zero distributed work.
    Per-iteration sub-1e-9 summation-order drift between the Python
    mean and DuckDB's avg is absorbed by the same weight snap that
    already absorbed the Spark-vs-DuckDB drift."""
    import math

    snap9 = lambda v: math.floor(v * 1e9 + 0.5) / 1e9  # noqa: E731
    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        % 7
    ).cast("bigint")
    rows = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("y"),
            F.max(F.when(wd.isin(5, 6), 1.0).otherwise(0.0)).alias("x"),
        )
        .collect()
    )
    # Partition order is nondeterministic; sort so the float-summation
    # order of the GD gradients is reproducible run-to-run (ADVICE r11:
    # the 1e-9 snap only absorbs drift away from grid half-boundaries).
    rows.sort(key=lambda r: r["day"])
    n = len(rows)
    my = float(sum(r["y"] for r in rows)) / n  # exact: int sum, one div
    day = [(r["y"] / my, r["x"]) for r in rows]
    b = c1 = 0.0
    for _ in range(POIS_ITERS):
        g0 = g1 = 0.0
        for ys, x in day:
            r = ys - math.exp(b + c1 * x)
            g0 += r
            g1 += r * x
        b = snap9(b + POIS_LR * g0 / n)
        c1 = snap9(c1 + POIS_LR * g1 / n)
    snap6c = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    one = load_table(spark, sf_dir, "events").limit(1).select(F.lit(1))
    return one.select(
        F.lit(n).cast("bigint").alias("n_days"),
        snap6c(F.lit(b)).alias("beta0"),
        snap6c(F.lit(c1)).alias("beta_weekend"),
        snap6c(F.lit(my) * F.exp(F.lit(b))).alias("mu_weekday"),
        snap6c(F.lit(my) * F.exp(F.lit(b) + F.lit(c1))).alias(
            "mu_weekend"
        ),
    )


# ---------------------------------------------------------------------------
# R336 Louvain-style parallel modularity local moves (co-purchase)
# ---------------------------------------------------------------------------

LOUVAIN_ROUNDS = 4


def _louvain_oracle_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Unrolled synchronous modularity local-move rounds: every score
    is the integer 2m*k_{u,c} - deg_u * tot'_c (modularity gain
    scaled by 2m^2 — argmax-invariant), so each round's labels are
    exact; only the final Q is float (exact-operand divisions)."""
    head = """li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eu AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM eu UNION ALL SELECT v AS a, u AS b FROM eu
    ),
    deg AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a
    ),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eu),
    l0 AS MATERIALIZED (
      SELECT node, node AS community FROM deg
    )"""
    parts = [head]
    for k in range(1, rounds + 1):
        parts.append(
            f"""tot{k} AS MATERIALIZED (
      SELECT l.community, CAST(sum(d.d) AS BIGINT) AS tot
      FROM l{k - 1} l JOIN deg d USING (node)
      GROUP BY l.community
    ),
    kuc{k} AS MATERIALIZED (
      SELECT s.a AS node, l.community,
             CAST(count(*) AS BIGINT) AS kuc
      FROM sym s JOIN l{k - 1} l ON l.node = s.b
      GROUP BY s.a, l.community
    ),
    cand{k} AS MATERIALIZED (
      SELECT node, community, max(kuc) AS kuc FROM (
        SELECT node, community, kuc FROM kuc{k}
        UNION ALL
        SELECT node, community, 0 AS kuc FROM l{k - 1}
      ) GROUP BY node, community
    ),
    l{k} AS MATERIALIZED (
      SELECT node, community FROM (
        SELECT c.node, c.community,
               row_number() OVER (
                 PARTITION BY c.node
                 ORDER BY 2 * mm.m * c.kuc
                          - d.d * (t.tot
                                   - CASE WHEN own.community = c.community
                                          THEN d.d ELSE 0 END) DESC,
                          c.community ASC) AS rn
        FROM cand{k} c
        JOIN deg d ON d.node = c.node
        JOIN l{k - 1} own ON own.node = c.node
        JOIN tot{k} t ON t.community = c.community
        CROSS JOIN mm
      ) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    fin AS MATERIALIZED (SELECT node, community FROM l{rounds}),
    cin AS (
      SELECT fa.community, CAST(count(*) AS BIGINT) AS in_edges
      FROM eu e JOIN fin fa ON fa.node = e.u
                JOIN fin fb ON fb.node = e.v
      WHERE fa.community = fb.community
      GROUP BY fa.community
    ),
    csz AS (
      SELECT f.community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.d) AS BIGINT) AS tot_deg
      FROM fin f JOIN deg d USING (node)
      GROUP BY f.community
    ),
    q AS (
      SELECT floor(sum(CAST(coalesce(c.in_edges, 0) AS DOUBLE) / mm.m
                       - (CAST(s.tot_deg AS DOUBLE) / (2 * mm.m))
                         * (CAST(s.tot_deg AS DOUBLE) / (2 * mm.m)))
                   * 1e6 + 0.5) / 1e6 AS q
      FROM csz s LEFT JOIN cin c USING (community) CROSS JOIN mm
    )
    SELECT s.community, s.n_nodes, coalesce(c.in_edges, 0) AS in_edges,
           s.tot_deg, q.q AS modularity
    FROM csz s LEFT JOIN cin c USING (community) CROSS JOIN q
    """
    )


@register("louvain_moves_copurchase", sql=_louvain_oracle_sql())
def louvain_moves_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R336 Louvain-style community detection: 4 SYNCHRONOUS rounds
    of modularity local moves on the co-purchase graph — every node
    simultaneously moves to the neighbor community with the best
    modularity gain (the parallel local-move step of Louvain/Leiden,
    the form that scales: sequential Louvain is inherently serial).
    The gain comparison is the INTEGER score 2m*k_{u,c} - deg_u *
    tot'_c (gain scaled by 2m^2, own-community total adjusted by
    -deg_u for the removal) with ties to the smallest community id,
    so every round's labels are bit-deterministic and the unrolled
    oracle replays them exactly; only the final modularity Q is
    float (exact-operand divisions, shared snap).  Refines the LPA
    communities (community_labels_copurchase) with an objective-driven assignment.  Per round:
    one degree-weighted aggregate + one neighbor-label join — the
    same two-shuffle shape as LPA at any scale."""
    from zoom_spark.queries.advanced_analytics import _co_purchase_edges
    from pyspark.sql import Window

    eu = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = eu.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        eu.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").cast("bigint").alias("d"))
        .localCheckpoint(eager=False)
    )
    m = eu.count()
    # Broadcast gate for the node-sized per-round frames (labels,
    # degrees, community totals): every one holds <= |V| <= 2m rows,
    # so the already-paid edge count bounds them all. Checkpointed
    # loop frames scan with unknown stats — without the hints each
    # round re-shuffles the full symmetrized edge frame for the vote
    # join (r13 A/B at sf0.1: 12.2 s shuffle vs 7.5 s broadcast,
    # identical results); past the budget the gate fails closed and
    # the loop keeps today's shuffle joins.
    from zoom_spark.operators.sizing import broadcaster

    bc = broadcaster(2 * m, 16)  # (node, value) pairs
    lab = deg.select("node", F.col("node").alias("community"))
    for _ in range(LOUVAIN_ROUNDS):
        tot = (
            lab.join(bc(deg), on="node")
            .groupBy("community")
            .agg(F.sum("d").cast("bigint").alias("tot"))
        )
        kuc = (
            sym.join(
                bc(lab.select(F.col("node").alias("b"), F.col("community"))),
                on="b",
            )
            .groupBy(F.col("a").alias("node"), "community")
            .agg(F.count("*").cast("bigint").alias("kuc"))
        )
        cand = (
            kuc.unionByName(
                lab.select("node", "community", F.lit(0).cast("bigint").alias("kuc"))
            )
            .groupBy("node", "community")
            .agg(F.max("kuc").alias("kuc"))
        )
        own = lab.select("node", F.col("community").alias("own_c"))
        score = 2 * F.lit(int(m)).cast("bigint") * F.col("kuc") - F.col(
            "d"
        ) * (
            F.col("tot")
            - F.when(F.col("own_c") == F.col("community"), F.col("d")).otherwise(
                F.lit(0)
            )
        )
        w = Window.partitionBy("node").orderBy(
            score.desc(), F.col("community").asc()
        )
        lab = (
            cand.join(bc(deg), on="node")
            .join(bc(own), on="node")
            .join(bc(tot), on="community")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "community")
            .localCheckpoint(eager=False)
        )
    fa = lab.select(F.col("node").alias("u"), F.col("community").alias("ca"))
    fb = lab.select(F.col("node").alias("v"), F.col("community").alias("cb"))
    cin = (
        eu.join(bc(fa), on="u")
        .join(bc(fb), on="v")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("bigint").alias("in_edges"))
    )
    csz = (
        lab.join(bc(deg), on="node")
        .groupBy("community")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("tot_deg"),
        )
    )
    base = csz.join(cin, on="community", how="left").select(
        "community",
        "n_nodes",
        F.coalesce(F.col("in_edges"), F.lit(0).cast("bigint")).alias(
            "in_edges"
        ),
        "tot_deg",
    )
    md = F.lit(float(m))
    q = base.agg(
        (
            F.floor(
                F.sum(
                    F.col("in_edges").cast("double") / md
                    - (F.col("tot_deg").cast("double") / (2 * md))
                    * (F.col("tot_deg").cast("double") / (2 * md))
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("modularity")
    )
    return base.crossJoin(F.broadcast(q))


# ---------------------------------------------------------------------------
# R337 average precision (PR-AUC) of event-count ranking vs purchase
# ---------------------------------------------------------------------------


@register(
    "average_precision_purchase",
    sql="""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS score,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS rel
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT rel,
             row_number() OVER (ORDER BY score DESC, user_id) AS k,
             sum(rel) OVER (ORDER BY score DESC, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumpos
      FROM u
    ),
    tot AS (SELECT CAST(sum(rel) AS BIGINT) AS p,
                   CAST(count(*) AS BIGINT) AS n FROM ranked)
    SELECT tot.n AS n_users, tot.p AS n_positive,
           floor(sum(CASE WHEN r.rel = 1
                     THEN CAST(r.cumpos AS DOUBLE) / r.k ELSE 0 END)
                 / tot.p * 1e6 + 0.5) / 1e6 AS average_precision,
           floor(CAST(tot.p AS DOUBLE) / tot.n * 1e6 + 0.5) / 1e6
             AS prevalence_baseline
    FROM ranked r CROSS JOIN tot
    GROUP BY tot.n, tot.p
    """,
)
def average_precision_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R337 average precision (area under the precision-recall curve
    by the step interpolation) of ranking users by activity (event
    count, ties to user_id) against the did-they-purchase label —
    the eval metric of record for IMBALANCED retrieval/classification
    where ROC-AUC (gated: roc_auc_purchase_value) is over-optimistic.  AP = mean over
    positives of precision@their-rank; ranks and cumulative-positive
    counts come from the two-phase global row number + prefix sum at
    scale (the oracle uses the window form); every term is an exact
    integer ratio, summed once and snapped.  The prevalence baseline
    (AP of a random ranker) is emitted alongside."""
    from zoom_spark.operators.prefix import global_row_number, prefix_sum

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("rel"),
    )
    # descending score with user_id tiebreak == ascending (-score, id)
    ranked = global_row_number(
        u.select((-F.col("score")).alias("nscore"), "user_id", "rel"),
        ["nscore", "user_id"],
        out_col="k",
    )
    ranked = prefix_sum(
        ranked.select(F.col("k").alias("ord"), "k", "rel"),
        "ord",
        "rel",
        out_col="cumpos",
    )
    tot = ranked.agg(
        F.sum("rel").cast("bigint").alias("p"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n", "p")
        .agg(
            (
                F.floor(
                    F.sum(
                        F.when(
                            F.col("rel") == 1,
                            F.col("cumpos").cast("double") / F.col("k"),
                        ).otherwise(F.lit(0.0))
                    )
                    / F.first("p")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("average_precision"),
            (
                F.floor(
                    F.first("p").cast("double") / F.first("n") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("prevalence_baseline"),
        )
        .select(
            F.col("n").alias("n_users"),
            F.col("p").alias("n_positive"),
            "average_precision",
            "prevalence_baseline",
        )
    )


# ---------------------------------------------------------------------------
# R338 Herfindahl-Hirschman supplier concentration per nation
# ---------------------------------------------------------------------------


@register(
    "herfindahl_supplier_nation",
    sql="""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    nat AS (
      SELECT nation, CAST(sum(cents) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY nation
    )
    SELECT n.nation, n.n_suppliers,
           floor(sum((CAST(r.cents AS DOUBLE) / n.tot)
                     * (CAST(r.cents AS DOUBLE) / n.tot))
                 * 1e6 + 0.5) / 1e6 AS hhi,
           floor(1e6 / n.n_suppliers + 0.5) / 1e6 AS hhi_uniform_floor
    FROM rev r JOIN nat n USING (nation)
    GROUP BY n.nation, n.n_suppliers
    """,
)
def herfindahl_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R338 Herfindahl-Hirschman concentration index of supplier
    revenue within each nation: HHI = sum of squared revenue shares
    — the antitrust/market-structure measure (1/n = perfectly
    competitive floor, emitted alongside; 1 = monopoly).  Revenue
    aggregates to exact CENTS (the 2dp cent-grid rule), shares are
    exact-operand divisions, so the only float work is the final
    per-nation square-sum — one hash aggregate + one broadcast-sized
    nation rollup at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            # floor(x*100 + 0.5), NOT cast: Spark CAST(double AS BIGINT)
            # truncates while DuckDB's rounds — the shared spelling keeps
            # the cent grid identical cross-engine (bland_altman precedent).
            F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    nat = rev.groupBy("nation").agg(
        F.sum("cents").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_suppliers"),
    )
    share = F.col("cents").cast("double") / F.col("tot")
    return (
        rev.join(F.broadcast(nat), on="nation")
        .groupBy("nation", "n_suppliers")
        .agg(
            (
                F.floor(F.sum(share * share) * 1e6 + F.lit(0.5)) / 1e6
            ).alias("hhi"),
            (
                F.floor(1e6 / F.first("n_suppliers") + F.lit(0.5)) / 1e6
            ).alias("hhi_uniform_floor"),
        )
    )


# ---------------------------------------------------------------------------
# R339 Lepage location-scale omnibus (Wilcoxon^2 + Ansari-Bradley^2)
# ---------------------------------------------------------------------------


def _lepage_oracle_sql() -> str:
    from zoom_spark.queries import ORACLE

    return f"""
    WITH mw AS ({ORACLE["mann_whitney_u_weekend"]}),
    ab AS ({ORACLE["ansari_bradley_weekend"]})
    SELECT mw.n_weekend, mw.n_weekday,
           round(mw.z * mw.z + ab.z * ab.z, 6) AS lepage_stat
    FROM mw CROSS JOIN ab
    """


@register("lepage_test_weekend", sql=_lepage_oracle_sql())
def lepage_test_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R339 Lepage two-sample omnibus: L = z_Wilcoxon^2 +
    z_AnsariBradley^2 — the classic location+scale combination
    (chi-square(2) under H0), complementing Cucconi (R326) which
    combines squared ranks/antiranks instead.  COMPOSES two gated
    statistics verbatim: the standardized Mann-Whitney z and
    Ansari-Bradley z are reused from their registered queries (and
    the oracle embeds those queries' own SQL as CTEs), so this gate
    also pins the composition contract.  Both inputs are 6dp-rounded
    identically on both sides before the square-sum, making L exact
    on the shared grid."""
    from zoom_spark.queries import QUERIES

    mw = QUERIES["mann_whitney_u_weekend"](spark, sf_dir).select(
        "n_weekend", "n_weekday", F.col("z").alias("zw")
    )
    ab = QUERIES["ansari_bradley_weekend"](spark, sf_dir).select(
        F.col("z").alias("zab")
    )
    return mw.crossJoin(F.broadcast(ab)).select(
        "n_weekend",
        "n_weekday",
        F.round(
            F.col("zw") * F.col("zw") + F.col("zab") * F.col("zab"), 6
        ).alias("lepage_stat"),
    )


# ---------------------------------------------------------------------------
# R340 personalized PageRank from a deterministic seed set
# ---------------------------------------------------------------------------

PPR_ITERS = 10
PPR_SEEDS = 8
PPR_DAMPING = 0.85


def _ppr_oracle_sql(iterations: int = PPR_ITERS) -> str:
    """Unrolled personalized power method (the pagerank_parts
    schedule): restart mass concentrates on the 8 smallest-md5 part
    keys instead of spreading uniformly; ranks snap to the 9dp grid
    every round, final output on the 6dp grid."""
    parts = [
        f"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eu AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    directed AS MATERIALIZED (
      SELECT u AS f, v AS t FROM eu UNION ALL SELECT v AS a, u AS b FROM eu
    ),
    outdeg AS MATERIALIZED (SELECT f, count(*) AS d FROM directed GROUP BY f),
    seeds AS MATERIALIZED (
      SELECT f AS node, 1.0 / {PPR_SEEDS} AS s FROM (
        SELECT f, row_number() OVER (
          ORDER BY md5(CAST(f AS VARCHAR)), f) AS rn
        FROM outdeg
      ) WHERE rn <= {PPR_SEEDS}
    ),
    r0 AS MATERIALIZED (
      SELECT o.f AS node, coalesce(s.s, 0.0) AS rank
      FROM outdeg o LEFT JOIN seeds s ON s.node = o.f
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT o.f AS node,
             floor(((1.0 - {PPR_DAMPING})
                      * coalesce(s.s, 0.0)
                    + {PPR_DAMPING} * coalesce(m.in_mass, 0.0))
                   * 1000000000.0 + 0.5) / 1000000000.0 AS rank
      FROM outdeg o
      LEFT JOIN seeds s ON s.node = o.f
      LEFT JOIN (
        SELECT d.t AS node, sum(r.rank / od.d) AS in_mass
        FROM directed d
        JOIN r{i - 1} r ON d.f = r.node
        JOIN outdeg od ON od.f = d.f
        GROUP BY d.t
      ) m ON m.node = o.f
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node AS part_id,
           floor(rank * 1000000 + 0.5) / 1000000.0 AS ppr_q6
    FROM r{iterations}
    WHERE floor(rank * 1000000 + 0.5) > 0
    ORDER BY floor(rank * 1000000 + 0.5) DESC, node
    LIMIT 50"""
    )


@register("personalized_pagerank_parts", sql=_ppr_oracle_sql())
def personalized_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R340 personalized PageRank on the co-purchase graph: the power
    method with RESTART MASS concentrated on a deterministic 8-part
    seed set (smallest md5(part_id)) instead of the uniform vector —
    the recommendation/related-items primitive ("parts relevant to
    THIS basket"), complementing the global pagerank_parts.
    Same per-round shape (one contribution shuffle + rank join over
    the co-partitioned edges) with a seed left-join so zero-in-mass
    non-seed nodes stay in the frame at rank (1-d)*0; ranks snap to
    the 9dp grid each round (the pagerank schedule) so the unrolled
    oracle replays bitwise.  Output: the top-50 nonzero 6dp ranks —
    the recommendation shortlist."""
    from pyspark.sql import Window

    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    eu = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    directed = eu.select(F.col("u").alias("f"), F.col("v").alias("t")).unionAll(
        eu.select(F.col("v").alias("f"), F.col("u").alias("t"))
    )
    outdeg = (
        directed.groupBy("f")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    seeds = (
        outdeg.select(
            "f",
            F.row_number()
            .over(Window.orderBy(F.md5(F.col("f").cast("string")), "f"))
            .alias("rn"),
        )
        .where(F.col("rn") <= PPR_SEEDS)
        .select(F.col("f").alias("node"), F.lit(1.0 / PPR_SEEDS).alias("s"))
    ).localCheckpoint(eager=False)
    nodes = outdeg.select(F.col("f").alias("node")).join(
        seeds, on="node", how="left"
    ).select("node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s"))
    nodes = nodes.localCheckpoint(eager=False)
    ranks = nodes.select("node", F.col("s").alias("rank"))
    dedges = directed.join(
        outdeg, on="f"
    ).localCheckpoint(eager=False)
    for _ in range(PPR_ITERS):
        in_mass = (
            dedges.join(ranks, on=F.col("f") == F.col("node"))
            .select(
                F.col("t").alias("node"),
                (F.col("rank") / F.col("d")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(in_mass, on="node", how="left")
            .select(
                "node",
                (
                    F.floor(
                        (
                            (1.0 - PPR_DAMPING) * F.col("s")
                            + PPR_DAMPING
                            * F.coalesce(F.col("in_mass"), F.lit(0.0))
                        )
                        * 1e9
                        + F.lit(0.5)
                    )
                    / 1e9
                ).alias("rank"),
            )
            # Per-round checkpoint RESTORED (r13 batch 12): the chain
            # variant (no checkpoint, whole recursion as one AQE query
            # like operators/graph.pagerank) was re-adjudicated with an
            # alternated quiet-window A/B — checkpointed 10.2/10.4 s
            # stable vs chained 12.8/19.9 s volatile at sf0.1. Unlike
            # the global pagerank chain (a clear win, kept), each PPR
            # round adds a LEFT join against the checkpointed nodes
            # frame, and the 10-round left-join chain is planning-
            # dominated; the checkpoint bounds plan depth. Identical
            # results either way (9dp per-round snap).
            .localCheckpoint(eager=False)
        )
    q6 = F.floor(F.col("rank") * 1e6 + F.lit(0.5))
    return (
        ranks.where(q6 > 0)
        .select(F.col("node").alias("part_id"), (q6 / 1e6).alias("ppr_q6"))
        .orderBy(F.col("ppr_q6").desc(), "part_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# R341 intraclass correlation ICC(1) of account balances within nations
# ---------------------------------------------------------------------------


@register(
    "icc_acctbal_nation",
    sql="""
    WITH c AS (
      SELECT c_nationkey AS g,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x
      FROM customer
    ),
    grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx
      FROM c GROUP BY g
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(count(DISTINCT g) AS BIGINT) AS j,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM c
    ),
    comp AS (
      SELECT tot.nn, tot.j,
             -- SSB = sum_g sx_g^2/n_g - (sum x)^2/N ; SSW = sxx - sum_g sx_g^2/n_g
             (SELECT sum(CAST(grp.sx AS DOUBLE) * grp.sx / grp.n) FROM grp)
               AS sgs,
             CAST(tot.sx AS DOUBLE) * tot.sx / tot.nn AS cf,
             CAST(tot.sxx AS DOUBLE) AS sxx,
             -- unbalanced-design k0 = (N - sum n_g^2 / N) / (J - 1)
             (tot.nn - (SELECT sum(CAST(grp.n AS DOUBLE) * grp.n)
                        FROM grp) / tot.nn)
               / (tot.j - 1) AS k0
      FROM tot
    )
    SELECT nn AS n_customers, j AS n_nations,
           floor(k0 * 1e6 + 0.5) / 1e6 AS k0,
           floor(((sgs - cf) / (j - 1) - (sxx - sgs) / (nn - j))
                 / ((sgs - cf) / (j - 1)
                    + (k0 - 1.0) * ((sxx - sgs) / (nn - j)))
                 * 1e6 + 0.5) / 1e6 AS icc1
    FROM comp
    """,
)
def icc_acctbal_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R341 intraclass correlation ICC(1) — one-way random-effects
    reliability of account balance clustered by nation: (MSB - MSW)
    / (MSB + (k0 - 1) MSW) with the unbalanced-design average group
    size k0 = (N - sum n_g^2/N)/(J - 1) — the cluster-effect measure
    a hierarchical-model or cluster-randomised design starts from
    (complements the gated ANOVA F, which only tests the effect).
    Balances aggregate to exact CENTS, so every sum of squares is an
    exact BIGINT and the closed form (shared operation order) is
    engine-identical until the final snap."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("g"),
        # Shared floor(x*100 + 0.5) cent spelling — Spark CAST truncates,
        # DuckDB CAST rounds; round-half-up is identical cross-engine.
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("x"),
    )
    grp = c.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    gstats = grp.agg(
        F.sum(F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias(
            "sgs"
        ),
        F.sum(F.col("n").cast("double") * F.col("n")).alias("sn2"),
    )
    tot = c.agg(
        F.count("*").cast("bigint").alias("nn"),
        F.count_distinct("g").cast("bigint").alias("j"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    z = tot.crossJoin(F.broadcast(gstats))
    cf = F.col("sx").cast("double") * F.col("sx") / F.col("nn")
    msb = (F.col("sgs") - cf) / (F.col("j") - 1)
    msw = (F.col("sxx").cast("double") - F.col("sgs")) / (
        F.col("nn") - F.col("j")
    )
    k0 = (F.col("nn") - F.col("sn2") / F.col("nn")) / (F.col("j") - 1)
    snap6 = lambda cc: F.floor(cc * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return z.select(
        F.col("nn").alias("n_customers"),
        F.col("j").alias("n_nations"),
        snap6(k0).alias("k0"),
        snap6((msb - msw) / (msb + (k0 - 1.0) * msw)).alias("icc1"),
    )


# ---------------------------------------------------------------------------
# R342 Bland-Altman agreement: order header total vs line-item total
# ---------------------------------------------------------------------------


@register(
    "bland_altman_order_totals",
    sql="""
    WITH lines AS (
      -- line total in exact 1e-8-dollar integer units:
      -- cents * (100 - disc_pct) * (100 + tax_pct)
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                      * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))
                  AS BIGINT) AS m2
      FROM lineitem GROUP BY l_orderkey
    ),
    d AS (
      SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 10000
               - l.m2 AS diff
      FROM orders o JOIN lines l ON l.l_orderkey = o.o_orderkey
    ),
    -- pass 1: EXACT integer diff total (mean = one exact-operand
    -- division); pass 2: centered second moment (relative sum-order
    -- drift ~ n*2^-52 ~ 3e-12 -> a 4dp dollar grid is drift-safe)
    p1 AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(diff) AS BIGINT) AS sdiff
      FROM d
    ),
    st AS (
      SELECT p1.n,
             floor(CAST(p1.sdiff AS DOUBLE) / p1.n / 1e8 * 1e4 + 0.5)
               / 1e4 AS md,
             floor(sqrt(sum(
                     ((CAST(d.diff AS DOUBLE)
                       - CAST(p1.sdiff AS DOUBLE) / p1.n) / 1e8)
                     * ((CAST(d.diff AS DOUBLE)
                         - CAST(p1.sdiff AS DOUBLE) / p1.n) / 1e8))
                   / p1.n) * 1e4 + 0.5) / 1e4 AS sd
      FROM d CROSS JOIN p1
      GROUP BY p1.n, p1.sdiff
    )
    SELECT st.n AS n_orders,
           st.md AS mean_diff,
           st.sd AS sd_diff,
           floor((st.md - 1.96 * st.sd) * 1e4 + 0.5) / 1e4 AS loa_low,
           floor((st.md + 1.96 * st.sd) * 1e4 + 0.5) / 1e4 AS loa_high,
           CAST(sum(CASE WHEN CAST(d.diff AS DOUBLE) / 1e8
                              < floor((st.md - 1.96 * st.sd) * 1e4 + 0.5) / 1e4
                          OR CAST(d.diff AS DOUBLE) / 1e8
                              > floor((st.md + 1.96 * st.sd) * 1e4 + 0.5) / 1e4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outside
    FROM d CROSS JOIN st
    GROUP BY st.n, st.md, st.sd
    """,
)
def bland_altman_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R342 Bland-Altman agreement analysis between two measurements
    of the same quantity: the order HEADER total vs the recomputed
    LINE-ITEM total sum(extprice*(1-disc)*(1+tax)) — the method-
    comparison workhorse (mean bias + 1.96sd limits of agreement +
    how many orders fall outside), turning the reconciliation diff
    (gated: orders_lineitem_reconciliation) into the statistical agreement contract.  Both
    measurements are exact integers in 1e-8-dollar units (cent grid
    x two 2dp percentage factors), the bias/sd snap to a 9dp grid
    before the limit comparisons, and the outside-count compares
    exact-operand doubles — engine-identical throughout."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c100 = lambda cc: F.floor(cc * 100 + F.lit(0.5)).cast(  # noqa: E731
        "bigint"
    )
    lines = li.groupBy("l_orderkey").agg(
        F.sum(
            c100(F.col("l_extendedprice"))
            * (100 - c100(F.col("l_discount")))
            * (100 + c100(F.col("l_tax")))
        )
        .cast("bigint")
        .alias("m2")
    )
    d = o.join(lines, o["o_orderkey"] == lines["l_orderkey"]).select(
        (
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            * 10000
            - F.col("m2")
        ).alias("diff")
    ).localCheckpoint(eager=False)
    snap4 = lambda cc: F.floor(cc * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    p1 = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("diff").cast("bigint").alias("sdiff"),
    )
    cd = (
        F.col("diff").cast("double")
        - F.col("sdiff").cast("double") / F.col("n")
    ) / 1e8
    st = (
        d.crossJoin(F.broadcast(p1))
        .groupBy("n", "sdiff")
        .agg(
            snap4(F.sqrt(F.sum(cd * cd) / F.first("n"))).alias("sd"),
        )
        .select(
            "n",
            snap4(
                F.col("sdiff").cast("double") / F.col("n") / 1e8
            ).alias("md"),
            "sd",
        )
    )
    dd = F.col("diff").cast("double") / 1e8
    lo = snap4(F.col("md") - 1.96 * F.col("sd"))
    hi = snap4(F.col("md") + 1.96 * F.col("sd"))
    return (
        d.crossJoin(F.broadcast(st))
        .groupBy("n", "md", "sd")
        .agg(
            F.sum(F.when((dd < lo) | (dd > hi), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outside")
        )
        .select(
            F.col("n").alias("n_orders"),
            F.col("md").alias("mean_diff"),
            F.col("sd").alias("sd_diff"),
            lo.alias("loa_low"),
            hi.alias("loa_high"),
            "n_outside",
        )
    )


# ---------------------------------------------------------------------------
# R343 Mantel-Haenszel pooled odds ratio, stratified by priority
# ---------------------------------------------------------------------------


@register(
    "mantel_haenszel_weekend_value",
    sql="""
    WITH o AS (
      SELECT o_orderpriority AS stratum,
             CASE WHEN CAST((CAST(o_orderdate AS DATE)
                             - DATE '1990-01-01') % 7
                       AS BIGINT) IN (5, 6) THEN 1 ELSE 0 END AS e,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    tab AS (
      SELECT stratum,
             CAST(sum(e * y) AS BIGINT) AS a,
             CAST(sum(e * (1 - y)) AS BIGINT) AS b,
             CAST(sum((1 - e) * y) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY stratum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(a) AS BIGINT) AS n_exposed_hi,
           floor(sum(CAST(a AS DOUBLE) * d / n)
                 / sum(CAST(b AS DOUBLE) * c / n) * 1e6 + 0.5) / 1e6
             AS or_mh,
           floor((sum(CAST(a AS DOUBLE) * d / n)
                  / sum(CAST(b AS DOUBLE) * c / n))
                 / ((CAST(sum(a) AS DOUBLE) * sum(d))
                    / (CAST(sum(b) AS DOUBLE) * sum(c)))
                 * 1e6 + 0.5) / 1e6 AS confounding_ratio
    FROM tab
    """,
)
def mantel_haenszel_weekend_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R343 Mantel-Haenszel pooled odds ratio of (weekend order date)
    vs (high-value order > 150k), STRATIFIED by order priority:
    OR_MH = sum(a_k d_k / n_k) / sum(b_k c_k / n_k) — the classic
    confounder-adjusted association estimate, with the crude-OR /
    MH-OR confounding ratio emitted as the Simpson's-paradox
    diagnostic.  The raw stream collapses to 5 stratum 2x2 tables
    (one hash aggregate); every term is an exact-operand integer
    ratio summed over the priority-bounded frame.  Weekend uses the
    1990-01-01 Monday anchor (before the order epoch, the round-8
    dayofweek rule)."""
    o = load_table(spark, sf_dir, "orders")
    wd = (
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        % 7
    ).cast("bigint")
    base = o.select(
        F.col("o_orderpriority").alias("stratum"),
        F.when(wd.isin(5, 6), 1).otherwise(0).alias("e"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("y"),
    )
    tab = base.groupBy("stratum").agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("n"),
    )
    num = F.sum(F.col("a").cast("double") * F.col("d") / F.col("n"))
    den = F.sum(F.col("b").cast("double") * F.col("c") / F.col("n"))
    crude = (
        F.sum("a").cast("double")
        * F.sum("d")
        / (F.sum("b").cast("double") * F.sum("c"))
    )
    snap6 = lambda cc: F.floor(cc * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return tab.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("n_exposed_hi"),
        snap6(num / den).alias("or_mh"),
        snap6((num / den) / crude).alias("confounding_ratio"),
    )


# ---------------------------------------------------------------------------
# R344 Cramer's V + contingency coefficient (effect size for chi-square)
# ---------------------------------------------------------------------------


def _cramers_v_oracle_sql() -> str:
    from zoom_spark.queries import ORACLE

    return f"""
    WITH cs AS ({ORACLE["chi_square_independence"]})
    SELECT cs.n, cs.dof,
           round(sqrt(cs.chi2 / (cs.n * least(
             CAST((SELECT count(DISTINCT event_type) FROM events) - 1
                  AS DOUBLE),
             6.0))), 6) AS cramers_v,
           round(sqrt(cs.chi2 / (cs.chi2 + cs.n)), 6)
             AS contingency_coef
    FROM cs
    """


@register("cramers_v_event_dow", sql=_cramers_v_oracle_sql())
def cramers_v_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R344 Cramer's V and Pearson's contingency coefficient for the
    event-type x day-of-week association: the EFFECT SIZES that make
    the gated chi-square (chi_square_independence, whose SQL the
    oracle embeds verbatim as a CTE — the Lepage composition pattern)
    interpretable across sample sizes — V = sqrt(chi2 / (n * min(r-1,
    c-1))), C = sqrt(chi2 / (chi2 + n)).  min(r-1, c-1) uses the
    live event-type cardinality vs the 7-day calendar (6); both
    inputs are the 6dp-rounded chi2 and exact n, identical on both
    sides, so the composition is grid-exact."""
    from zoom_spark.queries import QUERIES

    cs = QUERIES["chi_square_independence"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    k = ev.agg(
        F.count_distinct("event_type").cast("bigint").alias("ktypes")
    )
    mindim = F.least((F.col("ktypes") - 1).cast("double"), F.lit(6.0))
    return cs.crossJoin(F.broadcast(k)).select(
        "n",
        "dof",
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * mindim)), 6
        ).alias("cramers_v"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("chi2") + F.col("n"))), 6
        ).alias("contingency_coef"),
    )
