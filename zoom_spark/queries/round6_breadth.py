"""Round-6 breadth operators (R151–R156): link prediction, sequence
modeling, robust regression, readability scoring, fuzzy string
matching, and mixing-budget allocation.

Each query is Spark-first (JVM expressions, bounded joins, two-phase
reductions) with an exact DuckDB oracle twin; floats are rounded on
both sides before compare (driver-gate discipline, see
tests/oracle_harness.py).

Reference parity note: the reference pipeline (/root/reference/main.py)
has no analog for any of these — they belong to the mandated
LLM-pipeline / warehouse extension family (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

AA_TOPK = 50
AA_QUERY_PREFIX = "0"  # with the second-char filter: ~1/64 query set


@register(
    "adamic_adar_link_prediction",
    sql=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nbr AS (
      SELECT u AS z, v AS x FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (SELECT z, count(*) AS d FROM nbr GROUP BY z),
    q AS (
      SELECT DISTINCT x FROM nbr
      WHERE substring(md5(CAST(x AS VARCHAR)), 1, 1) = '{AA_QUERY_PREFIX}'
        AND substring(md5(CAST(x AS VARCHAR)), 2, 1) < '4'
    ),
    wedges AS (
      SELECT e1.x AS a, e2.x AS b, 1.0 / ln(deg.d) AS w
      FROM nbr e1 JOIN nbr e2 ON e1.z = e2.z AND e1.x <> e2.x
      JOIN deg ON deg.z = e1.z
      JOIN q ON q.x = e1.x
      WHERE deg.d >= 2
    ),
    scored AS (
      SELECT a, b, round(sum(w), 6) AS aa_score,
             CAST(count(*) AS BIGINT) AS n_common
      FROM wedges GROUP BY a, b
    ),
    non_edges AS (
      SELECT s.* FROM scored s
      LEFT JOIN nbr e ON s.a = e.z AND s.b = e.x
      WHERE e.z IS NULL
    )
    SELECT a, b, n_common, aa_score FROM non_edges
    ORDER BY aa_score DESC, a, b LIMIT {AA_TOPK}
    """,
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R151 link prediction: Adamic-Adar score over the co-purchase
    graph — for each non-adjacent (query node a, candidate b) pair,
    sum 1/ln(deg(z)) over common neighbors z (rarer shared neighbors
    count more). The candidate-generation step of a recommendation /
    graph-completion pipeline, in its PRODUCTION shape: scores are
    computed FOR A QUERY SET (a deterministic ~1/64 md5 node sample
    standing in for "users/parts needing recommendations right now"),
    never for all |V|^2 pairs — all-pairs AA on this dense graph is
    sum(deg^2) ~ 3e8 wedges at sf0.1 (measured 62 s) and grows
    superlinearly; the query-set form is sum(deg_Q * deg) and scales
    linearly in the query set. Wedge enumeration stays the bounded
    equi-join on the wedge center; existing edges drop via a
    left-anti join on the adjacency; top-k via TakeOrderedAndProject.
    The pair/neighbor frames are lazily checkpointed (five downstream
    consumers)."""
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
        .localCheckpoint(eager=False)
    )
    from zoom_spark.io import spread_scan
    from zoom_spark.operators.sizing import broadcaster

    # spread before the checkpoint so every consumer reads >= cores
    # cached splits (the distinct's tiny post-AQE partitioning otherwise
    # serializes the wedge stage); no-op on a parallel frame.
    nbr = spread_scan(
        pairs.select(F.col("u").alias("z"), F.col("v").alias("x")).unionAll(
            pairs.select(F.col("v").alias("z"), F.col("u").alias("x"))
        )
    ).localCheckpoint(eager=False)
    # One counted gate for every node/edge-sized broadcast below: the
    # count materializes the checkpoint the next job needs anyway.
    # |deg|, |q| <= nodes <= n_nbr; |e1|, |adj| <= n_nbr, and e1w's
    # (z, a, w) is the widest row. Past the budget everything falls
    # back to today's shuffle joins.
    bc = broadcaster(nbr.count(), 24)
    deg = nbr.groupBy("z").agg(F.count("*").alias("d")).where(F.col("d") >= 2)
    q = (
        nbr.select("x")
        .where(
            (
                F.substring(F.md5(F.col("x").cast("string")), 1, 1)
                == AA_QUERY_PREFIX
            )
            & (F.substring(F.md5(F.col("x").cast("string")), 2, 1) < "4")
        )
        .distinct()
    )
    e1 = nbr.join(bc(q), on="x").select(F.col("z"), F.col("x").alias("a"))
    e2 = nbr.select(F.col("z"), F.col("x").alias("b"))
    # Attach 1/ln(deg) to the QUERY-incident side before the wedge join:
    # the weight only depends on z, so joining deg against e1 (edge/64-
    # sized) instead of the wedge stream removes one join over the
    # multiplied rows (guide §3.3: join before the explode-like step).
    # The d >= 2 filter is a no-op on wedges (a != b forces deg >= 2).
    e1w = e1.join(bc(deg), on="z").select(
        "z", "a", (F.lit(1.0) / F.log(F.col("d"))).alias("w")
    )
    wedges = (
        bc(e1w).join(e2, on="z")
        .where(F.col("a") != F.col("b"))
        .select("a", "b", "w")
    )
    scored = wedges.groupBy("a", "b").agg(
        F.round(F.sum("w"), 6).alias("aa_score"),
        F.count("*").cast("bigint").alias("n_common"),
    )
    adj = nbr.select(F.col("z").alias("a"), F.col("x").alias("b"))
    non_edges = scored.join(bc(adj), on=["a", "b"], how="left_anti")
    return non_edges.select("a", "b", "n_common", "aa_score").orderBy(
        F.col("aa_score").desc(), "a", "b"
    ).limit(AA_TOPK)


@register(
    "theil_sen_revenue_trend",
    sql="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.rev - a.rev) / (b.d - a.d) AS slope
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    m AS (SELECT median(slope) AS slope FROM slopes)
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT count(*) FROM slopes) AS BIGINT) AS n_pairs,
           round(m.slope, 6) AS slope,
           round((SELECT median(rev - m.slope * d) FROM daily), 4) AS intercept
    FROM m
    """,
)
def theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R153 Theil-Sen robust trend: median of all pairwise
    day-over-day revenue slopes (breakdown point 29% — outlier days
    cannot drag the trend the way OLS lets them), intercept =
    median(rev - slope*day). The pairwise join runs over the DAY-LEVEL
    pre-aggregate: its size is calendar-bounded (~2.4k days at any SF,
    so ~3M pairs at 100 TB exactly as at sf0.01) — the same bound the
    RANGE-frame whitelist queries rely on. Medians are Spark's exact
    percentile over that bounded frame."""
    from zoom_spark.operators.prefix import global_row_number

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .localCheckpoint(eager=False)
    )
    # the pair count is C(n,2) by construction — a calendar-bounded
    # driver scalar, no count over the pair frame needed
    nd = daily.count()
    n_pairs = nd * (nd - 1) // 2
    mid_lo, mid_hi = (n_pairs + 1) // 2, (n_pairs + 2) // 2
    # spread the calendar-bounded day frame so the O(days^2) slope-
    # pair generation (and the range shuffle feeding the median rank)
    # runs on every core instead of the one AQE-coalesced partition
    from zoom_spark.io import spread_rows

    dspread = spread_rows(daily)
    a_, b_ = dspread.alias("a"), dspread.alias("b")
    slopes = a_.join(b_, F.col("a.d") < F.col("b.d")).select(
        (
            (F.col("b.rev") - F.col("a.rev")) / (F.col("b.d") - F.col("a.d"))
        ).alias("slope")
    )
    # exact median via the two-phase global rank (range shuffle +
    # O(P) offsets) and a middle-rank pick — NOT F.percentile, whose
    # ObjectHashAggregate buffers every pair value into one
    # single-partition merge (the stage that dies first at scale).
    # Even count averages the two middles, exactly DuckDB median().
    m = (
        global_row_number(slopes, ["slope"], out_col="rn")
        .where(F.col("rn").isin(mid_lo, mid_hi))
        .agg(F.avg("slope").alias("slope"))
    )
    resid = daily.join(F.broadcast(m)).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.first("slope"), 6).alias("slope"),
        F.round(
            F.percentile(F.col("rev") - F.col("slope") * F.col("d"), F.lit(0.5)),
            4,
        ).alias("intercept"),
    )
    return resid.select(
        "n_days",
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        "slope",
        "intercept",
    )


@register(
    "readability_scores",
    sql="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                         - 84.6 * (n_syllables * 1.0 / greatest(1, n_words)),
                 4) AS flesch
    FROM t
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R154 readability quality signal: Flesch reading-ease per doc
    with the standard cheap proxies (sentences = punctuation runs,
    syllables = vowel groups) — a staple text-quality gate next to the
    Gopher/C4 heuristics. Pure JVM regexp/split expressions, map-only,
    no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast(
        "bigint"
    )
    n_sent = F.greatest(
        F.lit(1).cast("bigint"), F.regexp_count("text", F.lit(r"[.!?]+")).cast("bigint")
    )
    n_syl = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("bigint")
    t = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sentences"))
            - 84.6
            * (
                F.col("n_syllables")
                * 1.0
                / F.greatest(F.lit(1).cast("bigint"), F.col("n_words"))
            ),
            4,
        ).alias("flesch"),
    )


FUZZY_MAX_DIST = 2


@register(
    "fuzzy_name_pairs",
    sql=f"""
    WITH nm AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    b AS (
      SELECT p_name, n_parts, string_split(p_name, ' ')[-1] AS blk FROM nm
    )
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_a, c.n_parts AS n_b
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= {FUZZY_MAX_DIST}
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R155 fuzzy string matching (entity-resolution candidate pairs):
    part-name pairs within Levenshtein distance {2}, blocked on the
    head noun (last token) so the quadratic verify runs inside
    vocabulary-sized blocks — the name VOCABULARY is what pairs up
    (64 names at every SF), never the row count, so the plan is
    scale-stable by construction. Carries per-name part counts so a
    resolution step can weight merges."""
    part = load_table(spark, sf_dir, "part")
    nm = part.groupBy("p_name").agg(F.count("*").cast("bigint").alias("n_parts"))
    b = nm.select(
        "p_name", "n_parts", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a_, c_ = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a_.join(
            c_,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .where(dist <= FUZZY_MAX_DIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            dist.cast("bigint").alias("edit_dist"),
            F.col("a.n_parts").alias("n_a"),
            F.col("c.n_parts").alias("n_b"),
        )
    )


MIX_TEMP = 0.7
MIX_CHAR_BUDGET = 1_000_000


@register(
    "mixing_budget_allocation",
    sql=f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, pow(chars * 1.0 / (SELECT sum(chars) FROM s), {MIX_TEMP}) AS pw
      FROM s
    )
    SELECT source, n_docs, chars,
           round(pw / (SELECT sum(pw) FROM w), 6) AS mix_weight,
           CAST(round(pw / (SELECT sum(pw) FROM w) * {MIX_CHAR_BUDGET})
                AS BIGINT) AS target_chars,
           round(pw / (SELECT sum(pw) FROM w) * {MIX_CHAR_BUDGET} / chars,
                 6) AS epochs
    FROM w
    """,
)
def mixing_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R156 temperature-mixing BUDGET PLANNER: turn per-source corpus
    masses into concrete per-source character budgets under a
    temperature-T mixing law (w_i ∝ share_i^T — the standard
    multilingual/multi-source rebalancing rule) and report the implied
    epochs (>1 means that source repeats). The planning twin of
    temperature_mix_sample, which draws the sample a plan like this
    sizes. Two tiny scalar aggregates broadcast back over the
    source-level frame — model-sized everywhere."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = s.agg(F.sum("chars").alias("tot"))
    w = s.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        F.pow(F.col("chars") * 1.0 / F.col("tot"), MIX_TEMP).alias("pw"),
    )
    z = w.agg(F.sum("pw").alias("z"))
    return w.join(F.broadcast(z)).select(
        "source",
        "n_docs",
        "chars",
        F.round(F.col("pw") / F.col("z"), 6).alias("mix_weight"),
        F.round(F.col("pw") / F.col("z") * MIX_CHAR_BUDGET)
        .cast("bigint")
        .alias("target_chars"),
        F.round(
            F.col("pw") / F.col("z") * MIX_CHAR_BUDGET / F.col("chars"), 6
        ).alias("epochs"),
    )


@register(
    "cohort_retention_matrix",
    sql="""
    WITH firsts AS (
      SELECT user_id,
             min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             (date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) // 7
              - f.cohort_week) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           s.cohort_size,
           round(count(*) * 1.0 / s.cohort_size, 6) AS retention
    FROM activity a JOIN sizes s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    """,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R157 retention triangle: users cohorted by first-activity week,
    then per (cohort, week-offset) the share of the cohort still
    active — the canonical product-analytics matrix behind retention
    curves (cohort_ltv is the revenue sibling; `cohort_retention` in
    advanced_analytics is the DAY-granularity pure-count variant —
    this one adds the week rollup and the rate normalization). One groupBy for the
    cohort map, broadcast back onto events, distinct + aggregate; the
    matrix itself is calendar^2-bounded."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        / 7
    )
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    activity = (
        ev.join(firsts, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            (week - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), on="cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


@register(
    "join_skew_advisor",
    sql="""
    WITH ok AS (
      SELECT 'l_orderkey' AS key_col, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_orderkey
    ),
    pk AS (
      SELECT 'l_partkey' AS key_col, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_partkey
    ),
    u AS (
      SELECT key_col, n FROM ok UNION ALL SELECT key_col, n FROM pk
    )
    SELECT key_col,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           round(avg(n), 4) AS avg_rows_per_key,
           CAST(max(n) AS BIGINT) AS max_rows_per_key,
           round(max(n) / avg(n), 4) AS skew_ratio,
           CAST(least(32, greatest(1, ceil(max(n) / avg(n)))) AS BIGINT)
             AS salt_factor
    FROM u GROUP BY key_col
    """,
)
def join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R158 shuffle-skew advisor: per candidate join key, the
    rows-per-key distribution (max vs mean) and the salting factor a
    skew-salted join (operators/skew.salted_join) would want — the
    planning query you run BEFORE a 100 TB join to decide between
    plain shuffle, AQE skew split, and explicit salting. Two
    partial-agg passes, model-sized output."""
    li = load_table(spark, sf_dir, "lineitem")

    def per_key(col: str) -> DataFrame:
        counts = li.groupBy(col).agg(F.count("*").alias("n"))
        return counts.agg(
            F.lit(col).alias("key_col"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_keys"),
            F.round(F.avg("n"), 4).alias("avg_rows_per_key"),
            F.max("n").cast("bigint").alias("max_rows_per_key"),
            F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
            F.least(
                F.lit(32),
                F.greatest(F.lit(1), F.ceil(F.max("n") / F.avg("n"))),
            )
            .cast("bigint")
            .alias("salt_factor"),
        )

    return per_key("l_orderkey").unionAll(per_key("l_partkey"))


@register(
    "join_size_estimator",
    sql="""
    WITH o AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_custkey
    )
    SELECT CAST((SELECT count(*) FROM o) AS BIGINT) AS n_keys_left,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_keys_right,
           CAST(count(*) AS BIGINT) AS n_keys_matched,
           CAST(coalesce(sum(o.n * c.n), 0) AS BIGINT) AS join_rows
    FROM o JOIN c ON o.k = c.k
    """,
)
def join_size_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R159 join-cardinality estimator: |A JOIN B| computed EXACTLY
    from per-key count products — the two GROUP BYs shuffle key-count
    pairs (tiny) instead of materializing the join, which is how a
    planner/cost check sizes a dangerous join before running it. At
    100 TB both aggregates are partial-agg friendly and the final
    frame is keys-sized, not rows-sized."""
    o = load_table(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count("*").alias("n_o"))
    c = load_table(spark, sf_dir, "customer").groupBy(
        F.col("c_custkey").alias("k")
    ).agg(F.count("*").alias("n_c"))
    nl = o.agg(F.count("*").cast("bigint").alias("n_keys_left"))
    nr = c.agg(F.count("*").cast("bigint").alias("n_keys_right"))
    j = o.join(c, on="k").agg(
        F.count("*").cast("bigint").alias("n_keys_matched"),
        F.coalesce(F.sum(F.col("n_o") * F.col("n_c")), F.lit(0))
        .cast("bigint")
        .alias("join_rows"),
    )
    return j.join(F.broadcast(nl)).join(F.broadcast(nr)).select(
        "n_keys_left", "n_keys_right", "n_keys_matched", "join_rows"
    )


WINNOW_K = 12  # k-gram length (chars)
WINNOW_W = 6   # winnowing window (positions)


@register(
    "robust_winnow_fingerprints",
    sql=f"""
    WITH g AS (
      SELECT doc_id, t.i AS i,
             md5(substring(text, t.i, {WINNOW_K})) AS h,
             length(text) - {WINNOW_K} + 1 AS npos
      FROM documents
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, length(text) - {WINNOW_K} + 1)) AS i
      ) t
      WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
    ),
    m AS (
      SELECT doc_id, i, npos,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM g
    )
    SELECT DISTINCT doc_id, fp FROM m WHERE i <= npos - {WINNOW_W - 1}
    """,
)
def robust_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R160 TRUE winnowing (MOSS window-min): per position the md5 of
    the k-gram, then the MINIMUM hash in every w-window of consecutive
    positions; distinct (doc, fp). Guarantees any shared substring of
    length >= k+w-1 yields a shared fingerprint — the tight-selection
    upgrade over the mod-p winnow_fingerprints gate (which is
    rows-only because xxhash64 has no oracle twin; md5 hex strings
    compare identically on both engines). Per-doc window partitions
    are document-sized — the healthy window shape."""
    from zoom_spark.io import spread_scan

    # spread_scan: one md5 per CHARACTER position is evaluated below the
    # per-doc window exchange, i.e. inside the single-split scan task on
    # the fixtures. No-op on a parallel scan (guide §2.5).
    docs = spread_scan(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.length("text") >= WINNOW_K + WINNOW_W - 1)
    )
    g = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (WINNOW_K - 1))
        ).alias("i"),
        (F.length("text") - (WINNOW_K - 1)).alias("npos"),
        "text",
    ).select(
        "doc_id",
        "i",
        "npos",
        F.md5(F.expr(f"substring(text, i, {WINNOW_K})")).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    m = g.select(
        "doc_id", "i", "npos", F.min("h").over(w).alias("fp")
    ).where(F.col("i") <= F.col("npos") - (WINNOW_W - 1))
    return m.select("doc_id", "fp").distinct()


FH_BUCKETS = 16  # feature-hashing dimensionality (first md5 hex char)
_FH_CSV_SQL = " || ',' || ".join(
    f"CAST(coalesce(sum(CASE WHEN bucket = {i} THEN sign END), 0) AS VARCHAR)"
    for i in range(FH_BUCKETS)
)


@register(
    "feature_hashing_vectors",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(t), 1, 1) AS BIGINT) AS INTEGER)
               AS bucket,
             CASE WHEN substring(md5(t), 2, 1) < '8' THEN 1 ELSE -1 END AS sign
      FROM tok
    )
    SELECT doc_id, {_FH_CSV_SQL} AS features_csv
    FROM h GROUP BY doc_id
    """,
)
def feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R161 hashing-trick featurizer: signed {16}-bucket bag-of-words
    (bucket = first md5 hex digit of the token, sign = second digit's
    high bit — the Weinberger et al. signed hashing that keeps
    E[collision bias] = 0). The fixed-width dense vector a downstream
    linear model consumes without a vocabulary pass. Explode + one
    conditional-sum aggregate, all JVM expressions; md5 hex keeps the
    oracle twin byte-identical."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("t"),
    )
    h = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 1), 16, 10).cast("int").alias("bucket"),
        F.when(F.substring(F.md5("t"), 2, 1) < "8", 1).otherwise(-1).alias("sign"),
    )
    sums = [
        F.coalesce(
            F.sum(F.when(F.col("bucket") == i, F.col("sign"))), F.lit(0)
        ).cast("string")
        for i in range(FH_BUCKETS)
    ]
    return h.groupBy("doc_id").agg(
        F.concat_ws(",", *sums).alias("features_csv")
    )


PHRASE_W1, PHRASE_W2 = "table", "hash"


@register(
    "phrase_search_postings",
    sql=f"""
    WITH pos AS (
      SELECT doc_id, t.i AS p, ws[t.i] AS w
      FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        FROM documents
      )
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(ws))) AS i
      ) t
      WHERE ws[t.i] IN ('{PHRASE_W1}', '{PHRASE_W2}')
    )
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(a.p) AS BIGINT) AS first_pos
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.w = '{PHRASE_W1}' AND b.w = '{PHRASE_W2}'
    GROUP BY a.doc_id
    """,
)
def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R162 positional-posting phrase search: find documents containing
    the exact phrase "{PHRASE_W1} {PHRASE_W2}" by building positional
    postings for ONLY the phrase's terms (the IN filter prunes the
    explode before any shuffle) and equi-joining on (doc, position+1)
    — the inverted-index evaluation strategy, never a substring scan
    over full text. At 100 TB the postings for two terms are
    df(term)-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    pos = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
            ).alias("p0", "w"),
        )
        .where(F.col("w").isin(PHRASE_W1, PHRASE_W2))
        .select("doc_id", (F.col("p0") + 1).alias("p"), "w")
    )
    a_, b_ = pos.alias("a"), pos.alias("b")
    return (
        a_.join(
            b_,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .where((F.col("a.w") == PHRASE_W1) & (F.col("b.w") == PHRASE_W2))
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.min("a.p").cast("bigint").alias("first_pos"),
        )
    )


CHECKSUM_BUCKETS = 64


@register(
    "table_checksum_buckets",
    sql=f"""
    WITH r AS (
      SELECT o_orderkey % {CHECKSUM_BUCKETS} AS bucket,
             CAST(CAST('0x' || substring(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               printf('%.2f', o_totalprice) || '|' ||
               strftime(o_orderdate, '%Y-%m-%d')
             ), 1, 8) AS BIGINT) AS BIGINT) AS h
      FROM orders
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS checksum,
           min(CAST(h AS VARCHAR)) AS min_h
    FROM r GROUP BY bucket
    """,
)
def table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R163 anti-entropy table checksums: per key-bucket, an
    order-insensitive content checksum (sum of 32-bit row-hash ints)
    plus row count — the replication/migration verification primitive:
    two systems compare 64 tiny rows instead of shipping tables, and a
    mismatched bucket pins WHERE the divergence lives. Row rendering
    is pinned to portable formats (%.2f prices, ISO dates) so any
    engine computes the same checksum; map-side hash, one aggregate
    shuffle of {64} groups."""
    o = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.format_string("%.2f", "o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast("bigint")
    return (
        o.select(
            (F.col("o_orderkey") % CHECKSUM_BUCKETS).alias("bucket"),
            h.alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("checksum"),
            F.min(F.col("h").cast("string")).alias("min_h"),
        )
    )


JW_THRESHOLD = 0.85


@register(
    "jaro_winkler_name_pairs",
    sql=f"""
    WITH nm AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    b AS (
      SELECT p_name, n_parts, 'c1:' || substring(p_name, 1, 1) AS blk
      FROM nm
      UNION ALL
      SELECT p_name, n_parts, 'tk:' || string_split(p_name, ' ')[-1] AS blk
      FROM nm
    ),
    cand AS (
      SELECT DISTINCT a.p_name AS name_a, c.p_name AS name_b,
             a.n_parts AS n_a, c.n_parts AS n_b
      FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
    )
    SELECT name_a, name_b,
           round(jaro_winkler_similarity(name_a, name_b), 6) AS jw,
           n_a, n_b
    FROM cand
    WHERE jaro_winkler_similarity(name_a, name_b) >= {JW_THRESHOLD}
    """,
)
def jaro_winkler_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R199 Jaro-Winkler record-linkage pairs over the part-name
    vocabulary (the Fellegi-Sunter metric family beyond R155's
    Levenshtein): MULTI-PASS blocking (first character ∪ last token —
    the standard record-linkage recall hedge; single-key blocking
    provably drops pairs like 'cold anvil'/'old anvil' at jw 0.967,
    which the referee test pins), candidates deduped, then verified
    by the repo's REAL pure-Python Jaro-Winkler
    (`functions/jaro.py`, Arrow-batched pandas UDF). The ORACLE
    recomputes with DuckDB's
    own independent C++ jaro_winkler_similarity — two unrelated
    implementations, bit-identical over the whole vocabulary pair
    set (pinned in tests). Vocabulary-sized frames throughout
    (64 names at every SF): scale-stable by construction."""
    from zoom_spark.functions.jaro import jaro_winkler_udf

    part = load_table(spark, sf_dir, "part")
    nm = part.groupBy("p_name").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    b = nm.select(
        "p_name",
        "n_parts",
        F.concat(F.lit("c1:"), F.substring("p_name", 1, 1)).alias("blk"),
    ).unionAll(
        nm.select(
            "p_name",
            "n_parts",
            F.concat(
                F.lit("tk:"), F.element_at(F.split("p_name", " "), -1)
            ).alias("blk"),
        )
    )
    a_, c_ = b.alias("a"), b.alias("c")
    cand = (
        a_.join(
            c_,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            F.col("a.n_parts").alias("n_a"),
            F.col("c.n_parts").alias("n_b"),
        )
        .distinct()
    )
    pairs = cand.withColumn(
        "jw_raw", jaro_winkler_udf(F.col("name_a"), F.col("name_b"))
    )
    return pairs.where(F.col("jw_raw") >= JW_THRESHOLD).select(
        "name_a",
        "name_b",
        F.round(F.col("jw_raw"), 6).alias("jw"),
        "n_a",
        "n_b",
    )


# ---------------------------------------------------------------------------
# R235: sorted-neighborhood entity-resolution blocking
# ---------------------------------------------------------------------------

SNM_WINDOW = 3
SNM_THRESHOLD = 0.85


@register(
    "sorted_neighborhood_pairs",
    sql=f"""
    WITH nm AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ),
    rk AS (
      SELECT p_name, n_parts,
             CAST(row_number() OVER (ORDER BY p_name) AS BIGINT) AS rn
      FROM nm
    ),
    cand AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             b.rn - a.rn AS rank_gap
      FROM rk a JOIN rk b
        ON b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
    )
    SELECT name_a, name_b, rank_gap,
           round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
    FROM cand
    WHERE jaro_winkler_similarity(name_a, name_b) >= {SNM_THRESHOLD}
    """,
)
def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R235 sorted-neighborhood method (SNM) for entity resolution:
    sort the name vocabulary once (two-phase distributed row number —
    no single-task global sort), slide a window of W=3, and score
    only rank-adjacent candidates with the repo's pure-Python
    Jaro-Winkler (Arrow-batched) — candidates are W·N instead of N².
    The window join is an offset-explode equi-join (rank + k), the
    same shape as the Ljung-Box lag join. Complements
    jaro_winkler_name_pairs' key blocking with the ordering-based
    blocking family (Hernández-Stolfo)."""
    from zoom_spark.functions.jaro import jaro_winkler_udf
    from zoom_spark.operators.prefix import global_row_number

    part = load_table(spark, sf_dir, "part")
    nm = part.groupBy("p_name").agg(
        F.count("*").cast("bigint").alias("n_parts")
    )
    rk = global_row_number(nm, ["p_name"], out_col="rn").select(
        "p_name", "rn"
    )
    offs = local_frame(
        spark,
        [(k,) for k in range(1, SNM_WINDOW + 1)], "k bigint"
    )
    a = rk.select(F.col("p_name").alias("name_a"), F.col("rn").alias("ra"))
    b = rk.select(F.col("p_name").alias("name_b"), F.col("rn").alias("rb"))
    cand = (
        a.crossJoin(F.broadcast(offs))
        .withColumn("target", F.col("ra") + F.col("k"))
        .join(b, F.col("rb") == F.col("target"))
        .select("name_a", "name_b", F.col("k").alias("rank_gap"))
    )
    scored = cand.withColumn(
        "jw", F.round(jaro_winkler_udf("name_a", "name_b"), 6)
    )
    return scored.where(F.col("jw") >= SNM_THRESHOLD).select(
        "name_a", "name_b", "rank_gap", "jw"
    )
