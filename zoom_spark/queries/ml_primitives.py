"""Distributed ML training primitives (R206+): exact decision-stump
split finding — the inner loop of every distributed tree learner
(XGBoost/LightGBM-style histogram splitters approximate exactly this).

Scale shape: rows collapse to per-distinct-feature-value (count,
positives) in one hash aggregate; running counts come from the
two-phase prefix scan (range shuffle + O(P) offsets — no single-task
window in the Spark plan); every candidate threshold's information
gain is then a pure expression over exact integer counts, and the
argmax is a k=1 TakeOrdered. Entropies consume exact-integer
quotients, so both engines feed ln() identical doubles (the KM
precedent).

No analog in the reference connector (SURVEY.md §2.11 extension
family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

# entropy helper fragments shared textually by both engines:
# H(p) with 0*ln(0) -> 0 guarded via CASE


@register(
    "decision_stump_acctbal",
    sql="""
    WITH lab AS (
      SELECT c.c_custkey, c.c_acctbal AS v,
             CASE WHEN u.k IS NULL THEN 0 ELSE 1 END AS y
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders
                 WHERE o_orderpriority = '1-URGENT') u
        ON u.k = c.c_custkey
    ),
    pv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
      FROM lab GROUP BY v
    ),
    cum AS (
      SELECT v,
             sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS nl,
             sum(pos) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pl
      FROM pv
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(pos) AS BIGINT) AS p FROM pv),
    cand AS (
      -- split "x <= v": left = cum counts, right = total - left;
      -- exclude the degenerate full-table split
      SELECT c.v, c.nl, c.pl, t.n, t.p,
             t.n - c.nl AS nr, t.p - c.pl AS pr
      FROM cum c CROSS JOIN tot t
      WHERE c.nl < t.n
    ),
    gain AS (
      SELECT v, nl, nr,
             round(
               (CASE WHEN p > 0 AND p < n THEN
                  -(p * 1.0 / n) * ln(p * 1.0 / n)
                  - (1 - p * 1.0 / n) * ln(1 - p * 1.0 / n)
                ELSE 0.0 END)
               - (nl * 1.0 / n) *
                 (CASE WHEN pl > 0 AND pl < nl THEN
                    -(pl * 1.0 / nl) * ln(pl * 1.0 / nl)
                    - (1 - pl * 1.0 / nl) * ln(1 - pl * 1.0 / nl)
                  ELSE 0.0 END)
               - (nr * 1.0 / n) *
                 (CASE WHEN pr > 0 AND pr < nr THEN
                    -(pr * 1.0 / nr) * ln(pr * 1.0 / nr)
                    - (1 - pr * 1.0 / nr) * ln(1 - pr * 1.0 / nr)
                  ELSE 0.0 END), 9) AS info_gain
      FROM cand
    )
    SELECT v AS threshold, CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           round(info_gain, 6) AS info_gain
    FROM gain
    ORDER BY info_gain DESC, v ASC
    LIMIT 1
    """,
)
def decision_stump_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R206 exact decision-stump learner: the single best
    information-gain split of account balance predicting "customer
    has an URGENT order" — the inner loop of distributed tree
    training. One label join + one per-distinct-value aggregate, the
    two-phase prefix scan for running (count, positive) pairs, a pure
    expression for every candidate's entropy gain over exact integer
    quotients, and a k=1 TakeOrdered for the argmax (gain desc,
    threshold asc tie-break). At 100 TB this is exactly the
    histogram-splitter shape, with the exact-value histogram standing
    in for the binned one."""
    from zoom_spark.operators.prefix import prefix_sum

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    lab = c.join(
        F.broadcast(urgent), c["c_custkey"] == urgent["k"], "left"
    ).select(
        F.col("c_acctbal").alias("v"),
        F.when(F.col("k").isNull(), 0).otherwise(1).alias("y"),
    )
    pv = lab.groupBy("v").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    cum = prefix_sum(pv, "v", ["cnt", "pos"], out_col=["nl", "pl"])  # merged: one two-phase scan for all running sums (r13)
    tot = pv.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("nl") < F.col("n"))
        .select(
            "v",
            "nl",
            "pl",
            "n",
            "p",
            (F.col("n") - F.col("nl")).alias("nr"),
            (F.col("p") - F.col("pl")).alias("pr"),
        )
    )

    def ent(p_col, n_col):
        frac = p_col * 1.0 / n_col
        return F.when(
            (p_col > 0) & (p_col < n_col),
            -frac * F.log(frac) - (1 - frac) * F.log(1 - frac),
        ).otherwise(0.0)

    gain = cand.select(
        "v",
        "nl",
        "nr",
        F.round(
            ent(F.col("p"), F.col("n"))
            - (F.col("nl") * 1.0 / F.col("n")) * ent(F.col("pl"), F.col("nl"))
            - (F.col("nr") * 1.0 / F.col("n")) * ent(F.col("pr"), F.col("nr")),
            9,
        ).alias("info_gain"),
    )
    return (
        gain.orderBy(F.col("info_gain").desc(), F.col("v").asc())
        .limit(1)
        .select(
            F.col("v").alias("threshold"),
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
            F.round("info_gain", 6).alias("info_gain"),
        )
    )


# ---------------------------------------------------------------------------
# R223: information-gain / Gini-gain feature ranking (categorical)
# ---------------------------------------------------------------------------

_IG_SQL = """
    WITH base AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
             o_orderstatus AS f_status,
             CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7 AS VARCHAR)
               AS f_weekday,
             CAST(CAST(floor(o_totalprice / 100000) AS BIGINT) AS VARCHAR)
               AS f_pricebucket
      FROM orders
    ),
    long AS (
      SELECT 'status' AS feature, f_status AS v, y FROM base
      UNION ALL
      SELECT 'weekday', f_weekday, y FROM base
      UNION ALL
      SELECT 'price_bucket', f_pricebucket, y FROM base
    ),
    cells AS (
      SELECT feature, v,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS p
      FROM long GROUP BY feature, v
    ),
    tot AS (
      SELECT feature, CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(p) AS BIGINT) AS pt
      FROM cells GROUP BY feature
    ),
    cond AS (
      SELECT c.feature,
             CAST(count(*) AS BIGINT) AS n_values,
             sum((CAST(c.n AS DOUBLE) / t.nt) * (
               - CASE WHEN c.p = 0 THEN 0.0 ELSE
                   (CAST(c.p AS DOUBLE) / c.n)
                   * ln(CAST(c.p AS DOUBLE) / c.n) END
               - CASE WHEN c.p = c.n THEN 0.0 ELSE
                   (1.0 - CAST(c.p AS DOUBLE) / c.n)
                   * ln(1.0 - CAST(c.p AS DOUBLE) / c.n) END
             )) AS h_cond,
             sum((CAST(c.n AS DOUBLE) / t.nt)
                 * 2.0 * (CAST(c.p AS DOUBLE) / c.n)
                 * (1.0 - CAST(c.p AS DOUBLE) / c.n)) AS gini_cond,
             any_value(
               - CASE WHEN t.pt = 0 THEN 0.0 ELSE
                   (CAST(t.pt AS DOUBLE) / t.nt)
                   * ln(CAST(t.pt AS DOUBLE) / t.nt) END
               - CASE WHEN t.pt = t.nt THEN 0.0 ELSE
                   (1.0 - CAST(t.pt AS DOUBLE) / t.nt)
                   * ln(1.0 - CAST(t.pt AS DOUBLE) / t.nt) END
             ) AS h_y,
             any_value(2.0 * (CAST(t.pt AS DOUBLE) / t.nt)
                       * (1.0 - CAST(t.pt AS DOUBLE) / t.nt)) AS gini_y
      FROM cells c JOIN tot t ON c.feature = t.feature
      GROUP BY c.feature
    )
    SELECT feature, n_values,
           round(h_y - h_cond, 6) AS info_gain,
           round((h_y - h_cond) / h_y, 6) AS info_gain_ratio_h,
           round(gini_y - gini_cond, 6) AS gini_gain
    FROM cond
"""


@register("feature_information_gain", sql=_IG_SQL)
def feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R223 filter-style feature ranking: information gain
    H(y) − H(y|f) and Gini gain for three candidate categorical
    features against the urgency label, in ONE pass: long-form
    (feature, value, y) explode (map-side 3×), one hash aggregate to
    per-cell exact integer counts, one per-feature reduce. Entropies
    consume exact-integer quotients (KM/stump precedent). The
    multi-feature generalization of decision_stump_acctbal's
    single-split search."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
        F.col("o_orderstatus").alias("f_status"),
        (
            F.datediff(
                F.to_date("o_orderdate"),
                F.lit("1970-01-01").cast("date"),
            )
            % 7
        )
        .cast("string")
        .alias("f_weekday"),
        F.floor(F.col("o_totalprice") / 100000)
        .cast("bigint")
        .cast("string")
        .alias("f_pricebucket"),
    )
    long = (
        base.select(F.lit("status").alias("feature"), F.col("f_status").alias("v"), "y")
        .unionAll(
            base.select(F.lit("weekday"), F.col("f_weekday"), "y")
        )
        .unionAll(
            base.select(F.lit("price_bucket"), F.col("f_pricebucket"), "y")
        )
    )
    cells = long.groupBy("feature", "v").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
    )
    tot = cells.groupBy("feature").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("p").cast("bigint").alias("pt"),
    )

    def h2(p, n):
        q = p.cast("double") / n
        return -F.when(p == 0, 0.0).otherwise(q * F.log(q)) - F.when(
            p == n, 0.0
        ).otherwise((1 - q) * F.log(1 - q))

    def gini2(p, n):
        q = p.cast("double") / n
        return 2.0 * q * (1 - q)

    cond = (
        cells.join(tot, "feature")
        .groupBy("feature")
        .agg(
            F.count("*").cast("bigint").alias("n_values"),
            F.sum(
                (F.col("n").cast("double") / F.col("nt"))
                * h2(F.col("p"), F.col("n"))
            ).alias("h_cond"),
            F.sum(
                (F.col("n").cast("double") / F.col("nt"))
                * gini2(F.col("p"), F.col("n"))
            ).alias("gini_cond"),
            F.any_value(h2(F.col("pt"), F.col("nt"))).alias("h_y"),
            F.any_value(gini2(F.col("pt"), F.col("nt"))).alias("gini_y"),
        )
    )
    return cond.select(
        "feature",
        "n_values",
        F.round(F.col("h_y") - F.col("h_cond"), 6).alias("info_gain"),
        F.round(
            (F.col("h_y") - F.col("h_cond")) / F.col("h_y"), 6
        ).alias("info_gain_ratio_h"),
        F.round(F.col("gini_y") - F.col("gini_cond"), 6).alias("gini_gain"),
    )


# ---------------------------------------------------------------------------
# R224: out-of-fold target encoding (leakage-safe mean encoding)
# ---------------------------------------------------------------------------

TE_FOLDS = 5
TE_SMOOTH_M = 100.0


@register(
    "target_encoding_oof",
    sql=f"""
    WITH base AS (
      SELECT o_orderpriority AS cat,
             CAST(o_orderkey % {TE_FOLDS} AS BIGINT) AS fold,
             o_totalprice AS y
      FROM orders
    ),
    cf AS (
      SELECT cat, fold, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS DOUBLE) AS s
      FROM base GROUP BY cat, fold
    ),
    c AS (
      SELECT cat, CAST(sum(n) AS BIGINT) AS n_cat, sum(s) AS s_cat
      FROM cf GROUP BY cat
    ),
    fl AS (
      SELECT fold, CAST(sum(n) AS BIGINT) AS n_f, sum(s) AS s_f
      FROM cf GROUP BY fold
    ),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS n_all, sum(s) AS s_all FROM cf)
    SELECT cf.cat, cf.fold,
           cf.n AS n_fold,
           round((c.s_cat - cf.s) / (c.n_cat - cf.n), 6) AS te_raw,
           round(((c.s_cat - cf.s)
                  + {TE_SMOOTH_M!r} * ((g.s_all - fl.s_f) / (g.n_all - fl.n_f)))
                 / ((c.n_cat - cf.n) + {TE_SMOOTH_M!r}), 6) AS te_smoothed
    FROM cf JOIN c ON cf.cat = c.cat
    JOIN fl ON cf.fold = fl.fold CROSS JOIN g
    """,
)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R224 leakage-safe target encoding: for each (category, fold),
    the encoding is the target mean computed from the OTHER folds
    only — the leave-fold-out sums are category totals minus the
    fold's own cell, so the whole table needs just TWO hash
    aggregates (cell, category) regardless of fold count; no per-fold
    passes. Includes the m-estimate smoothed variant shrinking rare
    categories toward the (also leave-fold-out) global mean. Price
    sums are cent-exact, so te_raw is a ratio of exact values on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderkey") % TE_FOLDS).cast("bigint").alias("fold"),
        F.col("o_totalprice").alias("y"),
    )
    cf = base.groupBy("cat", "fold").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("s"),
    )
    c = cf.groupBy("cat").agg(
        F.sum("n").cast("bigint").alias("n_cat"),
        F.sum("s").alias("s_cat"),
    )
    fl = cf.groupBy("fold").agg(
        F.sum("n").cast("bigint").alias("n_f"),
        F.sum("s").alias("s_f"),
    )
    g = cf.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s").alias("s_all"),
    )
    oof_n = F.col("n_cat") - F.col("n")
    oof_s = F.col("s_cat") - F.col("s")
    # the smoothing prior is itself leave-fold-out: the global mean
    # over every OTHER fold, so no fold-f target value reaches fold f
    # through the prior either
    oof_gmean = (F.col("s_all") - F.col("s_f")) / (
        F.col("n_all") - F.col("n_f")
    )
    return (
        cf.join(F.broadcast(c), "cat")
        .join(F.broadcast(fl), "fold")
        .crossJoin(F.broadcast(g))
        .select(
            "cat",
            "fold",
            F.col("n").alias("n_fold"),
            F.round(oof_s / oof_n, 6).alias("te_raw"),
            F.round(
                (oof_s + TE_SMOOTH_M * oof_gmean) / (oof_n + TE_SMOOTH_M),
                6,
            ).alias("te_smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# R225: exact Shapley-value channel attribution (3-channel coalition game)
# ---------------------------------------------------------------------------

_SHAP_SQL = """
    WITH conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT c.user_id,
             CAST(max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
               + 2 * max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
               + 4 * max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END)
               AS BIGINT) AS mask
      FROM conv c LEFT JOIN events e
        ON e.user_id = c.user_id AND e.event_type IN ('view','click','signup')
      GROUP BY c.user_id
    ),
    bym AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM touch
            GROUP BY mask),
    vals AS (
      SELECT s.s AS smask,
             CAST(COALESCE(sum(CASE WHEN (bym.mask & s.s) = bym.mask
                                    THEN bym.cnt END), 0) AS BIGINT) AS v
      FROM (SELECT unnest(range(0, 8)) AS s) s
      LEFT JOIN bym ON TRUE
      GROUP BY s.s
    ),
    p AS (SELECT max(CASE WHEN smask = 0 THEN v END) AS v0,
                 max(CASE WHEN smask = 1 THEN v END) AS v1,
                 max(CASE WHEN smask = 2 THEN v END) AS v2,
                 max(CASE WHEN smask = 3 THEN v END) AS v3,
                 max(CASE WHEN smask = 4 THEN v END) AS v4,
                 max(CASE WHEN smask = 5 THEN v END) AS v5,
                 max(CASE WHEN smask = 6 THEN v END) AS v6,
                 max(CASE WHEN smask = 7 THEN v END) AS v7
          FROM vals)
    SELECT 'view' AS channel,
           round((v1 - v0) / 3.0 + ((v3 - v2) + (v5 - v4)) / 6.0
                 + (v7 - v6) / 3.0, 6) AS shapley
    FROM p
    UNION ALL
    SELECT 'click',
           round((v2 - v0) / 3.0 + ((v3 - v1) + (v6 - v4)) / 6.0
                 + (v7 - v5) / 3.0, 6)
    FROM p
    UNION ALL
    SELECT 'signup',
           round((v4 - v0) / 3.0 + ((v5 - v1) + (v6 - v2)) / 6.0
                 + (v7 - v3) / 3.0, 6)
    FROM p
"""


@register("shapley_channel_attribution", sql=_SHAP_SQL)
def shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R225 EXACT Shapley-value attribution over the 3-channel
    coalition game v(S) = #converted users whose touched channels
    ⊆ S: one aggregate to per-user channel bitmasks, one 8-row
    subset-sum (bitwise-containment join), then the closed-form
    3-player Shapley weights (1/3, 1/6, 1/6, 1/3) as pure
    expressions — exact integers until the final weighted division.
    The game-theoretic upgrade of linear_touch_attribution; the
    efficiency axiom Σφ_i = v(C) − v(∅) is referee-tested."""
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    touched = ev.where(
        F.col("event_type").isin("view", "click", "signup")
    ).select("user_id", "event_type")
    touch = (
        conv.join(touched, "user_id", "left")
        .groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when(F.col("event_type") == "view", 1).otherwise(0)
                )
                + 2
                * F.max(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                + 4
                * F.max(
                    F.when(F.col("event_type") == "signup", 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("mask")
        )
    )
    bym = touch.groupBy("mask").agg(F.count("*").cast("bigint").alias("cnt"))
    smasks = local_frame(spark, [(s,) for s in range(8)], "smask bigint")
    vals = (
        smasks.crossJoin(F.broadcast(bym))
        .groupBy("smask")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mask").bitwiseAND(F.col("smask"))
                        == F.col("mask"),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("v")
        )
    )
    p = vals.agg(
        *[
            F.max(F.when(F.col("smask") == s, F.col("v"))).alias(f"v{s}")
            for s in range(8)
        ]
    )
    v = {s: F.col(f"v{s}") for s in range(8)}
    phi = {
        "view": (v[1] - v[0]) / 3.0
        + ((v[3] - v[2]) + (v[5] - v[4])) / 6.0
        + (v[7] - v[6]) / 3.0,
        "click": (v[2] - v[0]) / 3.0
        + ((v[3] - v[1]) + (v[6] - v[4])) / 6.0
        + (v[7] - v[5]) / 3.0,
        "signup": (v[4] - v[0]) / 3.0
        + ((v[5] - v[1]) + (v[6] - v[2])) / 6.0
        + (v[7] - v[3]) / 3.0,
    }
    frames = [
        p.select(
            F.lit(ch).alias("channel"), F.round(expr, 6).alias("shapley")
        )
        for ch, expr in phi.items()
    ]
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionAll(fdf)
    return out
