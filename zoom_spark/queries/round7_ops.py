"""Round-7 operators: the composed lakehouse-maintenance flagship
(VERDICT r6 item 7) and subsequent R242+ additions.

The flagship composes the repo's warehouse primitives the way a real
nightly table-maintenance job does — CDC batch -> MERGE ->
snapshot-diff vs the prior version -> zone-map prunability report —
mirroring how pretrain_corpus_pipeline composes the curation ops.
Each query is Spark-first with an exact DuckDB oracle twin; floats are
rounded on both sides before compare (driver-gate discipline,
tests/oracle_harness.py).

Reference parity note: the reference (/root/reference/main.py) has no
table-maintenance surface at all — its sink is drop-then-reload
(main.py:58,130,152) with the §1.5 double-insert hazard; this module
is the mandated warehouse extension family (SURVEY.md §2.11+).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.operators.local import local_frame
from zoom_spark.queries import register

# The scan predicate the zone-map stage evaluates (orders ingest-month
# chunks before this date are prunable for `o_orderdate >= pred`).
LH_PRED_DATE = "1997-06-01"


@register(
    "lakehouse_maintenance_pipeline",
    sql=f"""
    WITH o AS (
      SELECT o_orderkey AS k, o_totalprice AS price,
             o_orderstatus AS status, CAST(o_orderdate AS DATE) AS d
      FROM orders
    ),
    base AS (SELECT * FROM o WHERE k % 97 <> 0),
    ins AS (SELECT * FROM o WHERE k % 97 = 0),
    upd AS (
      SELECT k, round(price * 1.05, 2) AS price, status, d
      FROM base WHERE k % 100 = 0
    ),
    dels AS (SELECT k FROM base WHERE k % 89 = 0 AND k % 100 <> 0),
    up AS (SELECT * FROM ins UNION ALL SELECT * FROM upd),
    merged AS (
      SELECT m.* FROM (
        SELECT b.* FROM base b
        WHERE b.k NOT IN (SELECT k FROM up)
        UNION ALL
        SELECT * FROM up
      ) m
      WHERE m.k NOT IN (SELECT k FROM dels)
    ),
    diff AS (
      SELECT CASE WHEN b.k IS NULL THEN 'inserted'
                  WHEN m.k IS NULL THEN 'deleted'
                  ELSE 'updated' END AS change_type,
             coalesce(m.d, b.d) AS d
      FROM merged m FULL OUTER JOIN base b ON m.k = b.k
      WHERE b.k IS NULL OR m.k IS NULL
         OR m.price <> b.price OR m.status <> b.status
    ),
    ch AS (
      SELECT CAST(year(d) * 12 + month(d) - 1 AS BIGINT) AS chunk,
             CAST(sum(CASE WHEN change_type = 'inserted' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_inserted,
             CAST(sum(CASE WHEN change_type = 'updated' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_updated,
             CAST(sum(CASE WHEN change_type = 'deleted' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_deleted
      FROM diff GROUP BY 1
    ),
    zm AS (
      SELECT CAST(year(d) * 12 + month(d) - 1 AS BIGINT) AS chunk,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(d) AS min_date, max(d) AS max_date,
             (max(d) < DATE '{LH_PRED_DATE}') AS prunable
      FROM merged GROUP BY 1
    )
    SELECT coalesce(zm.chunk, ch.chunk) AS chunk,
           CAST(coalesce(zm.n_rows, 0) AS BIGINT) AS n_rows,
           zm.min_date, zm.max_date, zm.prunable,
           CAST(coalesce(ch.n_inserted, 0) AS BIGINT) AS n_inserted,
           CAST(coalesce(ch.n_updated, 0) AS BIGINT) AS n_updated,
           CAST(coalesce(ch.n_deleted, 0) AS BIGINT) AS n_deleted
    FROM zm FULL OUTER JOIN ch ON zm.chunk = ch.chunk
    """,
)
def lakehouse_maintenance_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R242 composed lakehouse-maintenance flagship: a deterministic
    day-N CDC batch (inserts = every 97th key, updates = every 100th
    repriced +5%, deletes = every 89th) is MERGEd into the base
    snapshot (operators/merge.merge_upsert + key anti-join delete),
    the new snapshot is DIFFed against the base (the snapshot_diff /
    Delta-CDF full-outer-join pattern), and a zone-map report
    (per ingest-month chunk: rows, min/max date, prunable for
    `o_orderdate >= {LH_PRED_DATE}`) is joined with the per-chunk
    change counts — one row per month chunk describing both the new
    layout and what the maintenance pass changed in it.

    Composition consistency is referee-tested: diff(merge(base,
    batch), base) must reproduce the batch exactly (the §1.5
    double-insert hazard inverted into an invariant). Scale shape:
    every stage is an equi-join or hash aggregate on the table key or
    the month chunk — at 100 TB both snapshots bucket on the key so
    MERGE and DIFF co-locate, and the zone-map pass is the metadata
    aggregate a lakehouse scan planner runs, not a data rewrite."""
    from zoom_spark.operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    base = o.where(F.col("k") % 97 != 0)
    ins = o.where(F.col("k") % 97 == 0)
    upd = base.where(F.col("k") % 100 == 0).withColumn(
        "price", F.round(F.col("price") * 1.05, 2)
    )
    dels = base.where(
        (F.col("k") % 89 == 0) & (F.col("k") % 100 != 0)
    ).select("k")
    merged = merge_upsert(base, ins.unionByName(upd), "k").join(
        dels, on="k", how="left_anti"
    )
    m, b = merged.alias("m"), base.alias("b")
    joined = m.join(b, F.col("m.k") == F.col("b.k"), "full_outer")
    diff = joined.where(
        F.col("b.k").isNull()
        | F.col("m.k").isNull()
        | (F.col("m.price") != F.col("b.price"))
        | (F.col("m.status") != F.col("b.status"))
    ).select(
        F.when(F.col("b.k").isNull(), "inserted")
        .when(F.col("m.k").isNull(), "deleted")
        .otherwise("updated")
        .alias("change_type"),
        F.coalesce(F.col("m.d"), F.col("b.d")).alias("d"),
    )
    chunk = (F.year("d") * 12 + F.month("d") - 1).cast("bigint")
    ch = diff.groupBy(chunk.alias("chunk")).agg(
        F.sum(F.when(F.col("change_type") == "inserted", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.sum(F.when(F.col("change_type") == "updated", 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
        F.sum(F.when(F.col("change_type") == "deleted", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deleted"),
    )
    zm = merged.groupBy(chunk.alias("chunk")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("d").alias("min_date"),
        F.max("d").alias("max_date"),
        (F.max("d") < F.lit(LH_PRED_DATE).cast("date")).alias("prunable"),
    )
    z, c = zm.alias("z"), ch.alias("c")
    return z.join(c, F.col("z.chunk") == F.col("c.chunk"), "full_outer").select(
        F.coalesce(F.col("z.chunk"), F.col("c.chunk")).alias("chunk"),
        F.coalesce(F.col("z.n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        "min_date",
        "max_date",
        "prunable",
        F.coalesce(F.col("c.n_inserted"), F.lit(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.coalesce(F.col("c.n_updated"), F.lit(0))
        .cast("bigint")
        .alias("n_updated"),
        F.coalesce(F.col("c.n_deleted"), F.lit(0))
        .cast("bigint")
        .alias("n_deleted"),
    )


# Shared DuckDB skeleton for the co-purchase graph (engine twin:
# advanced_analytics._co_purchase_edges). `eu` is the undirected
# deduped edge list (u < v), `sym` both orientations.
_CP_EDGES_SQL = """li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eu AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM eu UNION ALL SELECT v AS a, u AS b FROM eu
    ),
    deg AS MATERIALIZED (SELECT a AS node, count(*) AS d FROM sym GROUP BY a)"""


RC_MAX_K = 10


@register(
    "rich_club_coefficients",
    sql=f"""
    WITH {_CP_EDGES_SQL},
    emd AS (
      SELECT least(du.d, dv.d) AS min_deg
      FROM eu e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    eh AS (SELECT min_deg, count(*) AS ec FROM emd GROUP BY min_deg),
    nh AS (SELECT d, count(*) AS nc FROM deg GROUP BY d),
    ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, {RC_MAX_K} + 1)),
    agg AS (
      SELECT k.k,
             CAST(coalesce(sum(CASE WHEN nh.d > k.k THEN nh.nc END), 0)
                  AS BIGINT) AS n_nodes
      FROM ks k LEFT JOIN nh ON true GROUP BY k.k
    ),
    eagg AS (
      SELECT k.k,
             CAST(coalesce(sum(CASE WHEN eh.min_deg > k.k THEN eh.ec END), 0)
                  AS BIGINT) AS n_edges
      FROM ks k LEFT JOIN eh ON true GROUP BY k.k
    )
    SELECT a.k, a.n_nodes, e.n_edges,
           CASE WHEN a.n_nodes >= 2
                THEN round(2.0 * e.n_edges
                           / (a.n_nodes * (a.n_nodes - 1.0)), 6)
           END AS phi
    FROM agg a JOIN eagg e ON a.k = e.k
    """,
)
def rich_club_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R244 rich-club coefficient phi(k) = 2*E_k / (N_k*(N_k-1)) for
    k = 1..{RC_MAX_K}: the edge density among nodes of degree > k —
    rising phi(k) means hubs preferentially interconnect (the
    'rich club' that dominates spreading/robustness analyses).
    Scale shape: the k-grid never touches the edge list — edges
    collapse to a min-endpoint-degree HISTOGRAM (one aggregate),
    nodes to a degree histogram, and the 10-row grid joins against
    those model-sized frames; integer counts end-to-end, one division
    at the end."""
    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    eu = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = eu.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        eu.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    emd = (
        eu.join(deg.withColumnRenamed("d", "du"), eu["u"] == deg["node"])
        .drop("node")
        .join(
            deg.withColumnRenamed("d", "dv").withColumnRenamed(
                "node", "node2"
            ),
            F.col("v") == F.col("node2"),
        )
        .select(F.least("du", "dv").alias("min_deg"))
    )
    eh = emd.groupBy("min_deg").agg(F.count("*").alias("ec"))
    nh = deg.groupBy("d").agg(F.count("*").alias("nc"))
    ks = spark.range(1, RC_MAX_K + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    agg = (
        ks.crossJoin(F.broadcast(nh))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") > F.col("k"), F.col("nc"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_nodes")
        )
    )
    eagg = (
        ks.crossJoin(F.broadcast(eh))
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("min_deg") > F.col("k"), F.col("ec"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_edges")
        )
    )
    return agg.join(eagg, on="k").select(
        "k",
        "n_nodes",
        "n_edges",
        F.when(
            F.col("n_nodes") >= 2,
            F.round(
                2.0
                * F.col("n_edges")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1.0)),
                6,
            ),
        ).alias("phi"),
    )


@register(
    "modularity_brand_partition",
    sql=f"""
    WITH {_CP_EDGES_SQL},
    lab AS MATERIALIZED (
      SELECT p_partkey AS node, p_brand AS community FROM part
    ),
    m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM eu),
    internal AS (
      SELECT lu.community, count(*) AS e_c
      FROM eu e
      JOIN lab lu ON e.u = lu.node JOIN lab lv ON e.v = lv.node
      WHERE lu.community = lv.community
      GROUP BY lu.community
    ),
    dsum AS (
      SELECT l.community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.d) AS BIGINT) AS degree_sum
      FROM deg d JOIN lab l ON d.node = l.node
      GROUP BY l.community
    )
    SELECT ds.community,
           ds.n_nodes,
           CAST(coalesce(i.e_c, 0) AS BIGINT) AS internal_edges,
           ds.degree_sum,
           round(coalesce(i.e_c, 0) / (SELECT m FROM m)
                 - (ds.degree_sum / (2.0 * (SELECT m FROM m)))
                   * (ds.degree_sum / (2.0 * (SELECT m FROM m))),
                 6) AS q_contribution
    FROM dsum ds LEFT JOIN internal i ON ds.community = i.community
    """,
)
def modularity_brand_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R245 Newman-Girvan modularity of a GIVEN partition — the brand
    of each part — over the co-purchase graph: per community c,
    Q_c = e_c/m - (d_c/2m)^2 (internal-edge fraction minus the
    configuration-model expectation); sum(Q_c) is the modularity a
    community-detection pass would report for this labeling. This is
    the evaluation half of community detection expressed as pure
    joins/aggregates (the detection half, label propagation, is
    community_labels_copurchase): two broadcast label joins + two
    hash aggregates, integer counts into one closed form — one
    shuffle on the node key regardless of scale."""
    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    eu = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = eu.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        eu.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    lab = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("community")
    )
    m_row = eu.agg(F.count("*").cast("double").alias("m"))
    lu = lab.withColumnRenamed("node", "u").withColumnRenamed(
        "community", "cu"
    )
    lv = lab.withColumnRenamed("node", "v").withColumnRenamed(
        "community", "cv"
    )
    internal = (
        eu.join(F.broadcast(lu), on="u")
        .join(F.broadcast(lv), on="v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("e_c"))
    )
    dsum = (
        deg.join(F.broadcast(lab), on="node")
        .groupBy("community")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("degree_sum"),
        )
    )
    return (
        dsum.join(internal, on="community", how="left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("e_c"), F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            "degree_sum",
            F.round(
                F.coalesce(F.col("e_c"), F.lit(0)) / F.col("m")
                - (F.col("degree_sum") / (2.0 * F.col("m")))
                * (F.col("degree_sum") / (2.0 * F.col("m"))),
                6,
            ).alias("q_contribution"),
        )
    )


@register(
    "powerlaw_degree_fit",
    sql=f"""
    WITH {_CP_EDGES_SQL},
    dh AS (SELECT d, count(*) AS nc FROM deg GROUP BY d),
    n AS (SELECT CAST(sum(nc) AS DOUBLE) AS n FROM dh),
    ccdf AS (
      SELECT d,
             CAST(sum(nc) OVER (ORDER BY d DESC) AS DOUBLE)
               / (SELECT n FROM n) AS p_ge
      FROM dh
    ),
    pts AS (
      SELECT ln(CAST(d AS DOUBLE)) AS lx, ln(p_ge) AS ly FROM ccdf
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             sum(lx) AS sx, sum(ly) AS sy,
             sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_distinct_degrees,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS ccdf_slope,
           round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k,
                 6) AS ccdf_intercept
    FROM s
    """,
)
def powerlaw_degree_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R246 power-law tail fit of the degree distribution: OLS of
    ln(CCDF) on ln(degree) over the distinct-degree grid — slope
    ~ -(alpha-1) estimates the power-law exponent (the quick
    log-log-regression diagnostic; for publication-grade fits use
    MLE a la Clauset-Shalizi-Newman, but this is the scan-level
    health check a graph pipeline logs). The regression runs over
    the DEGREE HISTOGRAM (hundreds of rows at any SF — the CCDF
    window is over that model-sized frame, not the node list), so
    the only data-sized work is one degree aggregate."""
    from pyspark.sql import Window

    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    eu = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = eu.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        eu.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    dh = deg.groupBy("d").agg(F.count("*").alias("nc"))
    n_row = dh.agg(F.sum("nc").cast("double").alias("n"))
    w = Window.orderBy(F.col("d").desc())
    ccdf = (
        dh.crossJoin(F.broadcast(n_row))
        .withColumn("cum_ge", F.sum("nc").over(w).cast("double"))
        .select("d", (F.col("cum_ge") / F.col("n")).alias("p_ge"))
    )
    pts = ccdf.select(
        F.log(F.col("d").cast("double")).alias("lx"),
        F.log("p_ge").alias("ly"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").cast("bigint").alias("n_distinct_degrees"),
        F.round(slope, 6).alias("ccdf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6).alias(
            "ccdf_intercept"
        ),
    )


KN_D = 0.75  # fixed Kneser-Ney absolute discount


@register(
    "kneser_ney_bigram_quality",
    sql=rf"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, LATERAL (
        SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g
    ),
    uni AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pairs GROUP BY w1
    ),
    bi AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      FROM pairs GROUP BY w1, w2
    ),
    rt AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS r1 FROM bi GROUP BY w1
    ),
    lt AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS l1 FROM bi GROUP BY w2
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS nbi FROM bi)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln(
             greatest(bi.c2 - {KN_D}, 0) / uni.c1
             + ({KN_D} * rt.r1 / uni.c1) * (lt.l1 * 1.0 / nb.nbi)
           )), 4) AS avg_kn_logprob
    FROM pairs p
    JOIN bi  ON p.w1 = bi.w1 AND p.w2 = bi.w2
    JOIN uni ON p.w1 = uni.w1
    JOIN rt  ON p.w1 = rt.w1
    JOIN lt  ON p.w2 = lt.w2
    CROSS JOIN nb
    GROUP BY p.doc_id
    """,
)
def kneser_ney_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R251 interpolated Kneser-Ney bigram LM document scoring (fixed
    absolute discount D = {KN_D}): P(w2|w1) = max(c12 - D, 0)/c1 +
    (D * |{{w: c(w1,w)>0}}| / c1) * P_cont(w2), where the continuation
    probability P_cont(w2) = (distinct left contexts of w2) / (distinct
    bigram types) is what separates KN from add-1/Good-Turing — a word
    seen often but only ever in ONE context ('Francisco') gets a LOW
    unseen-context probability. The industry-standard n-gram smoothing
    (Chen & Goodman 1999) completing the LM-quality family
    (unigram/add-1-bigram/Good-Turing/CCNet-perplexity). Same pair
    stream and join shape as bigram_logprob_quality: four model-sized
    count frames enrich the pair stream (AQE broadcasts the Zipf-small
    sides), one aggregate per doc; every ln argument is a ratio of
    exact integers, rounded 4dp."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    ts = ws_tokens(F.lower("text"))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
                F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    uni = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    rt = bi.groupBy("w1").agg(F.count("*").alias("r1"))
    lt = bi.groupBy("w2").agg(F.count("*").alias("l1"))
    nb = bi.agg(F.count("*").alias("nbi"))
    p_kn = F.log(
        F.greatest(F.col("c2") - KN_D, F.lit(0)) / F.col("c1")
        + (KN_D * F.col("r1") / F.col("c1"))
        * (F.col("l1") * 1.0 / F.col("nbi"))
    )
    scored = (
        pairs.join(bi, on=["w1", "w2"])
        .join(uni, on="w1")
        .join(rt, on="w1")
        .join(lt, on="w2")
        .crossJoin(F.broadcast(nb))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg(p_kn), 4).alias("avg_kn_logprob"),
    )


# two-sided alpha=0.05 and power=0.80 normal quantiles, fixed literals
# so both engines use bit-identical constants
PW_Z_ALPHA = 1.959964
PW_Z_BETA = 0.841621
PW_DELTA = 0.02  # absolute minimum detectable effect


@register(
    "power_sample_size_by_priority",
    sql=f"""
    WITH base AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(avg(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END),
                   6) AS p0
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_orders, p0,
           round(p0 + {PW_DELTA}, 6) AS p1,
           round(pow({PW_Z_ALPHA} * sqrt(2 * ((p0 + p0 + {PW_DELTA}) / 2)
                       * (1 - (p0 + p0 + {PW_DELTA}) / 2))
                     + {PW_Z_BETA} * sqrt(p0 * (1 - p0)
                       + (p0 + {PW_DELTA}) * (1 - (p0 + {PW_DELTA}))), 2)
                 / ({PW_DELTA} * {PW_DELTA}), 2) AS n_per_arm
    FROM base
    """,
)
def power_sample_size_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R252 A/B-test sample-size calculator per order-priority
    segment: the standard two-proportion formula n =
    (z_a*sqrt(2 pbar qbar) + z_b*sqrt(p0 q0 + p1 q1))^2 / delta^2 at
    two-sided alpha=0.05, power=0.80, absolute MDE delta={PW_DELTA},
    seeded with each segment's observed base rate p0 (share of 'F'
    orders) — the pre-experiment planning step of the repo's
    experimentation family (the post-hoc twins: ab_test_proportions,
    wilson/bayes/SPRT). The z quantiles are shared literals (no
    inverse-normal evaluation to drift); p0 is rounded to 6dp BEFORE
    the formula so both engines feed identical doubles. One hash
    aggregate; 5-row output."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.round(
            F.avg(F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)),
            6,
        ).alias("p0"),
    )
    p0 = F.col("p0")
    p1 = p0 + PW_DELTA
    pbar = (p0 + p1) / 2
    n_req = (
        F.pow(
            PW_Z_ALPHA * F.sqrt(2 * pbar * (1 - pbar))
            + PW_Z_BETA * F.sqrt(p0 * (1 - p0) + p1 * (1 - p1)),
            2,
        )
        / (PW_DELTA * PW_DELTA)
    )
    return base.select(
        "o_orderpriority",
        "n_orders",
        "p0",
        F.round(p1, 6).alias("p1"),
        F.round(n_req, 2).alias("n_per_arm"),
    )


@register(
    "cmh_pooled_odds_morning_purchase",
    sql="""
    WITH ev AS (
      SELECT CAST((CAST(ts AS DATE) - DATE '2024-01-01') % 7 AS BIGINT)
               AS stratum,
             CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END AS exposed,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outcome
      FROM events
    ),
    cell AS (
      SELECT stratum,
             CAST(sum(exposed * outcome) AS BIGINT) AS a,
             CAST(sum(exposed * (1 - outcome)) AS BIGINT) AS b,
             CAST(sum((1 - exposed) * outcome) AS BIGINT) AS c,
             CAST(sum((1 - exposed) * (1 - outcome)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM ev GROUP BY stratum
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             sum(a * 1.0) AS sa,
             sum((a + b) * (a + c) * 1.0 / n) AS se,
             sum((a + b) * (c + d) * (a + c) * (b + d) * 1.0
                 / (n * n * (n - 1.0))) AS sv,
             sum(a * d * 1.0 / n) AS sad,
             sum(b * c * 1.0 / n) AS sbc
      FROM cell
    )
    SELECT n_strata,
           round(sad / sbc, 6) AS or_mh,
           round(pow(abs(sa - se) - 0.5, 2) / sv, 6) AS cmh_chi2
    FROM s
    """,
)
def cmh_pooled_odds_morning_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R253 Cochran-Mantel-Haenszel: does morning activity associate
    with purchasing AFTER stratifying by weekday? Per-stratum 2x2
    cells (exposure = event before noon, outcome = purchase, strata =
    weekday), Mantel-Haenszel pooled odds ratio sum(ad/n)/sum(bc/n)
    and the continuity-corrected CMH chi-square — the formal test
    behind simpsons_paradox_check's descriptive flip report:
    stratum-adjusted association vs the marginal one. All cells are
    exact integer counts collapsing to a 7-row frame; the weekday
    anchor (days since 2024-01-01 mod 7) matches the repo's other
    weekday ops. One aggregate over events, then closed form."""
    ev = load_table(spark, sf_dir, "events")
    cell = (
        ev.select(
            (
                F.datediff(
                    F.col("ts").cast("date"),
                    F.lit("2024-01-01").cast("date"),
                )
                % 7
            )
            .cast("bigint")
            .alias("stratum"),
            F.when(F.hour("ts") < 12, 1).otherwise(0).alias("exposed"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("outcome"),
        )
        .groupBy("stratum")
        .agg(
            F.sum(F.col("exposed") * F.col("outcome"))
            .cast("bigint")
            .alias("a"),
            F.sum(F.col("exposed") * (1 - F.col("outcome")))
            .cast("bigint")
            .alias("b"),
            F.sum((1 - F.col("exposed")) * F.col("outcome"))
            .cast("bigint")
            .alias("c"),
            F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
            .cast("bigint")
            .alias("d"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    a, b, c, d, n = (F.col(x) for x in "abcdn")
    s = cell.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(a * 1.0).alias("sa"),
        F.sum((a + b) * (a + c) * 1.0 / n).alias("se"),
        F.sum(
            (a + b) * (c + d) * (a + c) * (b + d) * 1.0 / (n * n * (n - 1.0))
        ).alias("sv"),
        F.sum(a * d * 1.0 / n).alias("sad"),
        F.sum(b * c * 1.0 / n).alias("sbc"),
    )
    return s.select(
        "n_strata",
        F.round(F.col("sad") / F.col("sbc"), 6).alias("or_mh"),
        F.round(
            F.pow(F.abs(F.col("sa") - F.col("se")) - 0.5, 2) / F.col("sv"), 6
        ).alias("cmh_chi2"),
    )


# Fellegi-Sunter per-field match/unmatch probabilities (fixed literals
# on both engines; weights are ln(m/u) on agree, ln((1-m)/(1-u)) on
# disagree)
FS_FIELDS = (
    ("name", 0.9, 0.05),    # levenshtein(name) <= 1
    ("brand", 0.85, 0.04),  # p_brand equal
    ("type", 0.8, 0.2),     # p_type equal
    ("price", 0.75, 0.1),   # |retailprice diff| <= 1.00
)
FS_MATCH_T = 4.0     # total weight >= -> 'match'
FS_NONMATCH_T = -2.0  # total weight <= -> 'non_match'


@register(
    "fellegi_sunter_part_linkage",
    sql=f"""
    WITH p AS (
      SELECT p_partkey, p_name, p_brand, p_type,
             round(p_retailprice, 2) AS price,
             string_split(p_name, ' ')[-1] AS blk_tok, p_size
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             CASE WHEN levenshtein(a.p_name, b.p_name) <= 1
                  THEN 1 ELSE 0 END AS ag_name,
             CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS ag_brand,
             CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS ag_type,
             CASE WHEN abs(a.price - b.price) <= 1.00
                  THEN 1 ELSE 0 END AS ag_price
      FROM p a JOIN p b
        ON a.blk_tok = b.blk_tok AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    ),
    scored AS (
      SELECT key_a, key_b,
             CAST(ag_name AS VARCHAR) || CAST(ag_brand AS VARCHAR)
               || CAST(ag_type AS VARCHAR) || CAST(ag_price AS VARCHAR)
               AS pattern,
             round(
               (CASE WHEN ag_name = 1 THEN ln(0.9 / 0.05)
                     ELSE ln(0.1 / 0.95) END)
             + (CASE WHEN ag_brand = 1 THEN ln(0.85 / 0.04)
                     ELSE ln(0.15 / 0.96) END)
             + (CASE WHEN ag_type = 1 THEN ln(0.8 / 0.2)
                     ELSE ln(0.2 / 0.8) END)
             + (CASE WHEN ag_price = 1 THEN ln(0.75 / 0.1)
                     ELSE ln(0.25 / 0.9) END), 6) AS weight
      FROM pairs
    )
    SELECT key_a, key_b, pattern, weight,
           CASE WHEN weight >= {FS_MATCH_T} THEN 'match'
                WHEN weight <= {FS_NONMATCH_T} THEN 'non_match'
                ELSE 'review' END AS decision
    FROM scored
    """,
)
def fellegi_sunter_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R254 Fellegi-Sunter probabilistic record linkage over the part
    catalog: blocked candidate pairs (same head noun AND same size —
    two independent blocking keys keep block growth bounded; the
    production alternative at 100 TB is the repo's
    sorted_neighborhood_pairs window) are scored per field with fixed
    m/u probabilities — agreement on field i contributes ln(m_i/u_i),
    disagreement ln((1-m_i)/(1-u_i)) — and the summed log-likelihood
    weight lands each pair in match / review / non_match via the
    classic two-threshold decision rule. The decision-theoretic
    upgrade of fuzzy_name_pairs' raw edit distance: field agreements
    (name edit<=1, brand, type, price within $1) are exact integer /
    cent-grid predicates, weights are lns of shared literals, so both
    engines agree bitwise."""
    from zoom_spark.io import spread_scan

    # spread_scan: the blocked self-join broadcasts one side and streams
    # the other; on the single-split fixture scan the per-pair scoring
    # (levenshtein + field predicates) would otherwise run inside the one
    # scan task. No-op when the scan already splits >= cores (guide §2.5).
    p = spread_scan(
        load_table(spark, sf_dir, "part").select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            F.round("p_retailprice", 2).alias("price"),
            F.element_at(F.split("p_name", " "), -1).alias("blk_tok"),
            "p_size",
        )
    )
    a, b = p.alias("a"), p.alias("b")
    import math

    pairs = a.join(
        b,
        (F.col("a.blk_tok") == F.col("b.blk_tok"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("key_a"),
        F.col("b.p_partkey").alias("key_b"),
        F.when(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 1, 1
        )
        .otherwise(0)
        .alias("ag_name"),
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), 1)
        .otherwise(0)
        .alias("ag_brand"),
        F.when(F.col("a.p_type") == F.col("b.p_type"), 1)
        .otherwise(0)
        .alias("ag_type"),
        F.when(F.abs(F.col("a.price") - F.col("b.price")) <= 1.00, 1)
        .otherwise(0)
        .alias("ag_price"),
    )
    weight = (
        F.when(F.col("ag_name") == 1, math.log(0.9 / 0.05)).otherwise(
            math.log(0.1 / 0.95)
        )
        + F.when(F.col("ag_brand") == 1, math.log(0.85 / 0.04)).otherwise(
            math.log(0.15 / 0.96)
        )
        + F.when(F.col("ag_type") == 1, math.log(0.8 / 0.2)).otherwise(
            math.log(0.2 / 0.8)
        )
        + F.when(F.col("ag_price") == 1, math.log(0.75 / 0.1)).otherwise(
            math.log(0.25 / 0.9)
        )
    )
    scored = pairs.select(
        "key_a",
        "key_b",
        F.concat(
            F.col("ag_name").cast("string"),
            F.col("ag_brand").cast("string"),
            F.col("ag_type").cast("string"),
            F.col("ag_price").cast("string"),
        ).alias("pattern"),
        F.round(weight, 6).alias("weight"),
    )
    return scored.select(
        "key_a",
        "key_b",
        "pattern",
        "weight",
        F.when(F.col("weight") >= FS_MATCH_T, "match")
        .when(F.col("weight") <= FS_NONMATCH_T, "non_match")
        .otherwise("review")
        .alias("decision"),
    )


DBSCAN_EPS = 0.05
DBSCAN_MIN_PTS = 5


DBSCAN_CC_ROUNDS = 24


def _dbscan_oracle_sql(
    rounds: int = DBSCAN_CC_ROUNDS,
    eps: float = 0.05,
    min_pts: int = 5,
) -> str:
    """Unrolled grid-DBSCAN replay: eps-grid 3x3 cell join, exact eps
    filter, degree threshold, then `rounds` min-label rounds over the
    core-core graph (the engine's star-contraction CC converges to
    the same min-member labeling), min-label border attachment, and a
    convergence sentinel on the last two rounds' label sums."""
    head = f"""pts AS MATERIALIZED (
      SELECT vec_id AS id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) / {eps}) AS BIGINT) AS cx,
             CAST(floor(CAST(embedding[2] AS DOUBLE) / {eps}) AS BIGINT) AS cy
      FROM embeddings
    ),
    nbr AS MATERIALIZED (
      SELECT a.id AS a_id, b.id AS b_id
      FROM pts a JOIN pts b
        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND a.id <> b.id
      WHERE pow(a.x - b.x, 2) + pow(a.y - b.y, 2) <= {eps} * {eps}
    ),
    core AS MATERIALIZED (
      SELECT a_id AS id FROM nbr GROUP BY a_id
      HAVING count(*) + 1 >= {min_pts}
    ),
    ce AS MATERIALIZED (
      SELECT n.a_id AS a, n.b_id AS b FROM nbr n
      JOIN core x ON x.id = n.a_id JOIN core y ON y.id = n.b_id
    ),
    l0 AS MATERIALIZED (SELECT id, id AS lab FROM core)"""
    parts = [head]
    for i in range(1, rounds + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (
      SELECT l.id, least(l.lab, coalesce(min(nl.lab), l.lab)) AS lab
      FROM l{i-1} l
      LEFT JOIN ce s ON s.a = l.id
      LEFT JOIN l{i-1} nl ON nl.id = s.b
      GROUP BY l.id, l.lab
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    core_lab AS MATERIALIZED (
      SELECT id, lab AS cluster, 1 AS is_core FROM l{rounds}
    ),
    border AS (
      SELECT n.a_id AS id, min(cl.cluster) AS cluster, 0 AS is_core
      FROM nbr n JOIN core_lab cl ON cl.id = n.b_id
      WHERE n.a_id NOT IN (SELECT id FROM core)
      GROUP BY n.a_id
    ),
    lab AS (
      SELECT * FROM core_lab UNION ALL SELECT * FROM border
      UNION ALL
      SELECT p.id, NULL AS cluster, 0 AS is_core
      FROM pts p
      WHERE p.id NOT IN (SELECT id FROM core_lab)
        AND p.id NOT IN (SELECT id FROM border)
    )
    SELECT coalesce(cluster, -1) AS cluster,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(is_core) AS BIGINT) AS n_core,
           CAST(min(id) AS BIGINT) AS min_member
    FROM lab GROUP BY 1
    UNION ALL
    -- convergence sentinel: min-label is monotone, equal label sums
    -- in the last two rounds == fixpoint inside the unroll depth
    SELECT -2 AS cluster, CAST(-1 AS BIGINT) AS n_points,
           CAST(-1 AS BIGINT) AS n_core, CAST(-1 AS BIGINT) AS min_member
    WHERE (SELECT sum(lab) FROM l{rounds})
       <> (SELECT sum(lab) FROM l{rounds - 1})"""
    )


@register(
    "dbscan_embedding_cells", sql=_dbscan_oracle_sql()
)  # oracle since round 8: unrolled min-label CC replay + sentinel
def dbscan_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R255 grid-accelerated DBSCAN over the first two embedding
    dimensions (eps={0.05}, min_pts={5}): the density-based
    complement of the centroid family (kmeans/semdedup assume convex
    cells; DBSCAN finds arbitrary-shape dense regions and labels
    sparse points as noise — the outlier-carving step of a curation
    pipeline). Composition of bounded ops: eps-grid cell join (3x3
    probe), exact eps filter, degree threshold for core points,
    star-contraction CC over the core-core graph, deterministic
    min-id border attachment (similarity/dbscan.py). Oracle-hashed
    since round 8 (all-integer/exact-double deterministic pipeline;
    the star-contraction CC equals the oracle's unrolled min-label
    replay with a convergence sentinel); the pure-python referee in
    tests/test_round7_ops.py stays the independent check. Output: one
    row per cluster plus one noise row keyed cluster = -1."""
    from zoom_spark.similarity.dbscan import dbscan_2d

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    lab = dbscan_2d(
        pts, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS
    )
    return lab.groupBy(
        # noise keyed as -1 (not NULL) so the driver canonicalizer
        # compares an integer key on both engines
        F.coalesce(F.col("cluster"), F.lit(-1)).cast("bigint").alias(
            "cluster"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum(F.when(F.col("is_core"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_core"),
        F.min("id").cast("bigint").alias("min_member"),
    )


@register(
    "silhouette_label_centroids",
    sql="""
    WITH dims AS (
      SELECT e.label, e.vec_id, d.dim,
             CAST(e.embedding[d.dim + 1] AS DOUBLE) AS val
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
    ),
    cent AS (
      SELECT label AS clabel, dim, round(avg(val), 6) AS m
      FROM dims GROUP BY label, dim
    ),
    pdist AS (
      SELECT d.vec_id, d.label, c.clabel,
             round(sqrt(sum(pow(d.val - c.m, 2))), 9) AS dist
      FROM dims d JOIN cent c ON d.dim = c.dim
      GROUP BY d.vec_id, d.label, c.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             max(CASE WHEN clabel = label THEN dist END) AS a,
             min(CASE WHEN clabel <> label THEN dist END) AS b
      FROM pdist GROUP BY vec_id, label
    ),
    s AS (
      SELECT vec_id, label, a, b,
             CASE WHEN greatest(a, b) > 0
                  THEN (b - a) / greatest(a, b) ELSE 0.0 END AS sil
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(a), 6) AS avg_intra,
           round(avg(b), 6) AS avg_nearest_other,
           round(avg(sil), 6) AS avg_silhouette
    FROM s GROUP BY label
    """,
)
def silhouette_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R256 simplified (centroid-based) silhouette per label cluster:
    a = distance to the own-label centroid, b = distance to the
    nearest other centroid, s = (b-a)/max(a,b) — the standard
    cluster-quality companion to davies_bouldin_embeddings (higher =
    tighter/better separated), in the O(N * |labels|) centroid
    formulation rather than the O(N^2) pairwise original (which is
    the referee in pytest at test SF). Same engine-parity recipe as
    Davies-Bouldin: per-dim centroid means rounded 6dp, distances
    rounded 9dp, |labels|-sized join on the dim expansion — one
    shuffle to build centroids, map-side scoring after."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("dim", "raw"),
    ).select("label", "vec_id", "dim", F.col("raw").cast("double").alias("val"))
    cent = dims.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.round(F.avg("val"), 6).alias("m")
    )
    pdist = (
        dims.join(F.broadcast(cent), on="dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.round(
                F.sqrt(F.sum(F.pow(F.col("val") - F.col("m"), 2))), 9
            ).alias("dist")
        )
    )
    ab = pdist.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dist"))
        ).alias("b"),
    )
    sil = F.when(
        F.greatest("a", "b") > 0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(0.0)
    return ab.select("label", "a", "b", sil.alias("sil")).groupBy(
        "label"
    ).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.avg("a"), 6).alias("avg_intra"),
        F.round(F.avg("b"), 6).alias("avg_nearest_other"),
        F.round(F.avg("sil"), 6).alias("avg_silhouette"),
    )


BP_SEG_TOKENS = 8   # disjoint token-window segment size
BP_MIN_DOCS = 3     # segment seen in >= this many docs == boilerplate


@register(
    "boilerplate_segment_removal",
    sql=rf"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    seg AS (
      SELECT doc_id, CAST(floor((i - 1.0) / {BP_SEG_TOKENS}) AS BIGINT)
               AS seg_idx,
             string_agg(w, ' ' ORDER BY i) AS seg_text
      FROM (
        SELECT doc_id, ts[i] AS w, i
        FROM tok, LATERAL (
          SELECT unnest(generate_series(1, len(ts))) AS i) g
      )
      GROUP BY doc_id, CAST(floor((i - 1.0) / {BP_SEG_TOKENS}) AS BIGINT)
    ),
    df AS (
      SELECT seg_text, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM seg GROUP BY seg_text
    ),
    marked AS (
      SELECT s.doc_id, s.seg_idx, s.seg_text,
             (d.n_docs >= {BP_MIN_DOCS}) AS is_boiler
      FROM seg s JOIN df d ON s.seg_text = d.seg_text
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN seg_text END,
                                   ' ' ORDER BY seg_idx), '')) AS cleaned_md5
    FROM marked GROUP BY doc_id
    """,
)
def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R257 C4/CCNet-style boilerplate removal at segment granularity:
    split each doc into disjoint {BP_SEG_TOKENS}-token segments, count
    the DISTINCT docs each segment occurs in, and strip every segment
    seen in >= {BP_MIN_DOCS} docs (navigation chrome, legal footers,
    templated intros — the near-dup mass REPAIR step, where the dedup
    family only detects). Emits per doc the segment counts and the
    md5 of the cleaned reassembly (segments rejoined in order) so the
    oracle hashes the actual output text without shipping it. Scale
    shape: explode -> two hash aggregates (segment doc-frequency is
    Zipf-small) -> broadcast-able enrich join -> ordered reassembly
    per doc; everything shuffles on doc_id or the segment hash."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", ws_tokens(F.lower("text")).alias("ts"))
    words = tok.select(
        "doc_id", F.posexplode("ts").alias("i0", "w")
    )
    seg = (
        words.groupBy(
            "doc_id",
            F.floor(F.col("i0") / BP_SEG_TOKENS).cast("bigint").alias("seg_idx"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i0", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("seg_text")
        )
    )
    df_counts = seg.groupBy("seg_text").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    marked = seg.join(df_counts, on="seg_text").select(
        "doc_id",
        "seg_idx",
        "seg_text",
        (F.col("n_docs") >= BP_MIN_DOCS).alias("is_boiler"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.md5(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("is_boiler"),
                                    F.struct("seg_idx", "seg_text"),
                                )
                            )
                        ),
                        lambda s: s["seg_text"],
                    ),
                    " ",
                ),
                F.lit(""),
            )
        ).alias("cleaned_md5"),
    )


MMR_QUERY_VEC = 0   # query = embedding of vec_id 0
MMR_CAND_K = 20     # candidate pool: top-20 by query cosine
MMR_SELECT_K = 5    # greedy MMR picks
MMR_LAMBDA = 0.7    # relevance/diversity trade-off


def _mmr_oracle_sql() -> str:
    """Unrolled greedy-MMR replay: candidate cosines from an explicit
    dims expansion (identical arithmetic to the engine's JVM fold up
    to 1ulp, absorbed by the 6dp rounding), then MMR_SELECT_K - 1
    argmax steps as chained CTEs, each accumulating the selection.
    The diversity weight is the literal 0.3 on BOTH engines (never
    `1 - 0.7`, whose decimal-vs-binary evaluation differs)."""
    head = f"""dims AS MATERIALIZED (
      SELECT e.vec_id, d.dim, CAST(e.embedding[d.dim + 1] AS DOUBLE) AS val
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
    ),
    nrm AS MATERIALIZED (
      SELECT vec_id, sqrt(sum(val * val)) AS nv FROM dims GROUP BY vec_id
    ),
    rel AS MATERIALIZED (
      SELECT d.vec_id,
             round(sum(d.val * q.val)
                   / (n.nv * (SELECT nv FROM nrm
                              WHERE vec_id = {MMR_QUERY_VEC})), 6) AS rel
      FROM dims d
      JOIN (SELECT dim, val FROM dims WHERE vec_id = {MMR_QUERY_VEC}) q
        ON q.dim = d.dim
      JOIN nrm n ON n.vec_id = d.vec_id
      WHERE d.vec_id <> {MMR_QUERY_VEC}
      GROUP BY d.vec_id, n.nv
    ),
    cand AS MATERIALIZED (
      SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id
      LIMIT {MMR_CAND_K}
    ),
    pair AS MATERIALIZED (
      SELECT a.vec_id AS ca, b.vec_id AS cb,
             round(sum(da.val * db.val) / (na.nv * nb.nv), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
      JOIN dims da ON da.vec_id = a.vec_id
      JOIN dims db ON db.vec_id = b.vec_id AND db.dim = da.dim
      JOIN nrm na ON na.vec_id = a.vec_id
      JOIN nrm nb ON nb.vec_id = b.vec_id
      GROUP BY a.vec_id, b.vec_id, na.nv, nb.nv
    ),
    sel1 AS MATERIALIZED (
      SELECT 1 AS rank, vec_id, rel AS score FROM cand
      ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    parts = [head]
    for k in range(2, MMR_SELECT_K + 1):
        parts.append(
            f"""pick{k} AS MATERIALIZED (
      SELECT {k} AS rank, c.vec_id,
             round({MMR_LAMBDA} * c.rel - 0.3 * max(p.sim), 6) AS score
      FROM cand c
      JOIN pair p ON p.ca = c.vec_id
                 AND p.cb IN (SELECT vec_id FROM sel{k-1})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k-1})
      GROUP BY c.vec_id, c.rel
      ORDER BY score DESC, c.vec_id LIMIT 1
    ),
    sel{k} AS MATERIALIZED (
      SELECT * FROM sel{k-1} UNION ALL SELECT * FROM pick{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, score
    FROM sel{MMR_SELECT_K}"""
    )


@register("mmr_rerank_topk", sql=_mmr_oracle_sql())
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R258 Maximal Marginal Relevance re-ranking (Carbonell &
    Goldstein 1998): from the top-{MMR_CAND_K} cosine candidates for a
    fixed query vector, greedily pick {MMR_SELECT_K} maximizing
    lambda*sim(q,c) - (1-lambda)*max_{{s in selected}} sim(c,s) — the
    diversity-aware re-rank every RAG / retrieval pipeline runs after
    ANN. Scale shape: the DATA-sized work is the candidate scan (the
    repo's knn family provides it; here a broadcast 1-query pass +
    TakeOrdered top-k); the greedy loop then runs on the
    MODEL-sized candidate set ({MMR_CAND_K} rows) via
    {MMR_SELECT_K - 1} chained joins — never on the corpus. Rounded
    6dp cosines make the argmax deterministic (ties break to the
    smaller vec_id). Oracle-hashed since round 7: the fixed
    {MMR_SELECT_K}-step greedy selection unrolls into chained argmax
    CTEs over the model-sized pool (python referee stays as the
    independent check)."""
    from zoom_spark.functions.vectors import cosine_with_norms, norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = emb.where(F.col("vec_id") == MMR_QUERY_VEC).select(
        F.col("v").alias("qv"), norm(F.col("v")).alias("qn")
    )
    scored = (
        emb.where(F.col("vec_id") != MMR_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            F.round(
                cosine_with_norms(
                    F.col("v"), F.col("qv"), norm(F.col("v")), F.col("qn")
                ),
                6,
            ).alias("rel"),
        )
    )
    cands = scored.orderBy(F.col("rel").desc(), "vec_id").limit(MMR_CAND_K)
    cands = cands.localCheckpoint(eager=False)
    # pairwise sims among the candidate pool (model-sized: K x K)
    a, b = cands.alias("a"), cands.alias("b")
    pair = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ca"),
            F.col("b.vec_id").alias("cb"),
            F.round(
                cosine_with_norms(
                    F.col("a.v"),
                    F.col("b.v"),
                    norm(F.col("a.v")),
                    norm(F.col("b.v")),
                ),
                6,
            ).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    rel = cands.select("vec_id", "rel")
    # greedy loop over the model-sized frame: selected ids accumulate,
    # each step re-scores remaining candidates against the selection
    selected: list[tuple[int, float]] = []
    first = rel.orderBy(F.col("rel").desc(), "vec_id").first()
    selected.append((first["vec_id"], float(first["rel"])))
    for _ in range(MMR_SELECT_K - 1):
        sel_ids = [s[0] for s in selected]
        mmr = (
            rel.where(~F.col("vec_id").isin(sel_ids))
            .join(
                pair.where(F.col("cb").isin(sel_ids)),
                F.col("vec_id") == F.col("ca"),
            )
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("max_sim"))
            .select(
                "vec_id",
                "rel",
                F.round(
                    MMR_LAMBDA * F.col("rel")
                    - 0.3 * F.col("max_sim"),
                    6,
                ).alias("mmr"),
            )
        )
        nxt = mmr.orderBy(F.col("mmr").desc(), "vec_id").first()
        selected.append((nxt["vec_id"], float(nxt["mmr"])))
    out = local_frame(
        spark,
        [
            (rank + 1, vid, score)
            for rank, (vid, score) in enumerate(selected)
        ],
        "rank bigint, vec_id bigint, score double",
    )
    return out


OBF_LOOKS = 5
OBF_ZK = 2.04  # O'Brien-Fleming final-look two-sided 5% boundary (K=5)


@register(
    "obrien_fleming_sequential",
    sql=f"""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS d,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    span AS (
      SELECT min(d) AS d0,
             CAST(max(d) - min(d) AS BIGINT) + 1 AS n_days
      FROM ev
    ),
    looks AS (
      SELECT CAST(range AS BIGINT) AS k FROM range(1, {OBF_LOOKS} + 1)
    ),
    cum AS (
      SELECT l.k,
             CAST(sum(CASE WHEN e.arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN e.arm = 1 THEN e.y ELSE 0 END) AS BIGINT)
               AS x_a,
             CAST(sum(CASE WHEN e.arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN e.arm = 0 THEN e.y ELSE 0 END) AS BIGINT)
               AS x_b
      FROM looks l
      JOIN span s ON true
      JOIN ev e
        ON e.d < s.d0 + CAST(ceil(s.n_days * l.k * 1.0 / {OBF_LOOKS})
                             AS INTEGER)
      GROUP BY l.k
    ),
    z AS (
      SELECT k, n_a, x_a, n_b, x_b,
             (x_a * 1.0 / n_a - x_b * 1.0 / n_b)
               / sqrt((x_a + x_b) * 1.0 / (n_a + n_b)
                      * (1 - (x_a + x_b) * 1.0 / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)) AS zval
      FROM cum
    )
    SELECT k AS look, n_a, x_a, n_b, x_b,
           round(zval, 6) AS z,
           round({OBF_ZK} * sqrt({OBF_LOOKS} * 1.0 / k), 6) AS boundary,
           (abs(zval) >= {OBF_ZK} * sqrt({OBF_LOOKS} * 1.0 / k)) AS crossed
    FROM z
    """,
)
def obrien_fleming_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R259 group-sequential monitoring with O'Brien-Fleming-style
    boundaries: an md5 placebo split of users into arms, conversion
    z-statistics recomputed at {OBF_LOOKS} equally-spaced calendar
    looks, each compared against the OBF z-boundary z_K*sqrt(K/k)
    (z_K = {OBF_ZK}, the classic K=5 two-sided 5% final-look value —
    early looks need overwhelming evidence, the final look spends
    nearly the full alpha). The interim-analysis discipline that
    SPRT's fully-sequential path doesn't cover; as an A/A calibration
    the placebo split should cross nothing. Counts are exact integers
    per look (the look-date cutoffs are integer day offsets), the
    pooled-z formula is one closed form, boundaries are shared
    literals; 5-row output."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"),
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            1,
        )
        .otherwise(0)
        .alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    span = ev.agg(
        F.min("d").alias("d0"),
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("bigint")
        .alias("n_days"),
    )
    looks = spark.range(1, OBF_LOOKS + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    cum = (
        looks.crossJoin(F.broadcast(span))
        .join(
            ev,
            ev["d"]
            < F.expr(
                f"date_add(d0, CAST(ceil(n_days * k * 1.0 / {OBF_LOOKS})"
                " AS INT))"
            ),
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("x_a"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("x_b"),
        )
    )
    p_pool = (F.col("x_a") + F.col("x_b")) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    zval = (
        F.col("x_a") * 1.0 / F.col("n_a")
        - F.col("x_b") * 1.0 / F.col("n_b")
    ) / F.sqrt(
        p_pool
        * (1 - p_pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    boundary = OBF_ZK * F.sqrt(F.lit(OBF_LOOKS * 1.0) / F.col("k"))
    return cum.select(
        F.col("k").alias("look"),
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(zval, 6).alias("z"),
        F.round(boundary, 6).alias("boundary"),
        (F.abs(zval) >= boundary).alias("crossed"),
    )


@register(
    "pacf_daily_revenue",
    sql="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    mu AS (SELECT round(avg(rev), 6) AS m FROM daily),
    dev AS MATERIALIZED (
      SELECT day, rev - (SELECT m FROM mu) AS dv FROM daily
    ),
    den AS (SELECT sum(dv * dv) AS d0 FROM dev),
    rk AS (
      SELECT l.lag,
             round(sum(a.dv * b.dv) / (SELECT d0 FROM den), 9) AS r
      FROM dev a
      JOIN (SELECT unnest(ARRAY[1, 2, 3]) AS lag) l ON true
      JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
      GROUP BY l.lag
    ),
    piv AS (
      SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2,
             max(CASE WHEN lag = 3 THEN r END) AS r3
      FROM rk
    ),
    dl AS (
      SELECT r1, r2, r3,
             (r2 - r1 * r1) / (1 - r1 * r1) AS p2
      FROM piv
    ),
    dl2 AS (
      SELECT r1, r2, r3, p2, r1 * (1 - p2) AS phi21 FROM dl
    )
    SELECT round(r1, 6) AS pacf_1,
           round(p2, 6) AS pacf_2,
           round((r3 - phi21 * r2 - p2 * r1)
                 / (1 - phi21 * r1 - p2 * r2), 6) AS pacf_3
    FROM dl2
    """,
)
def pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R261 partial autocorrelation of daily revenue at lags 1-3 via
    the Durbin-Levinson recursion (phi_11 = r1; phi_22 from r1,r2;
    phi_33 from the order-2 filter coefficients) — the AR-order
    selector that complements revenue_autocorrelation's raw ACF: a
    PACF cutoff after lag p is the textbook signature of an AR(p)
    series. Uses the stationary ACF estimator (global mean, shared
    denominator) so the recursion's assumptions hold; the day mean is
    rounded 6dp and each r_k 9dp before the closed-form chain, so
    both engines feed identical doubles through it. Everything after
    the daily pre-aggregate is calendar-bounded equi-joins plus a
    1-row scalar chain."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    mu = daily.agg(F.round(F.avg("rev"), 6).alias("m"))
    dev = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("rev") - F.col("m")).alias("dv")
    ).localCheckpoint(eager=False)
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("d0"))
    lags = local_frame(spark, [(1,), (2,), (3,)], "lag int")
    a, b = dev.alias("a"), dev.alias("b")
    rk = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.day") == F.expr("date_add(a.day, lag)"))
        .groupBy("lag")
        .agg(F.sum(F.col("a.dv") * F.col("b.dv")).alias("num"))
        .crossJoin(F.broadcast(den))
        .select("lag", F.round(F.col("num") / F.col("d0"), 9).alias("r"))
    )
    piv = rk.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p2 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 * (1 - p2)
    return piv.select(
        F.round(r1, 6).alias("pacf_1"),
        F.round(p2, 6).alias("pacf_2"),
        F.round(
            (r3 - phi21 * r2 - p2 * r1) / (1 - phi21 * r1 - p2 * r2), 6
        ).alias("pacf_3"),
    )


TUKEY_Q_CRIT = 3.858  # studentized range q(0.05, k=5, df=inf)


@register(
    "tukey_hsd_segments",
    sql=f"""
    WITH j AS (
      SELECT o.o_totalprice AS y, c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS ng,
             round(avg(y), 6) AS m,
             round(var_samp(y), 2) AS vv
      FROM j GROUP BY seg
    ),
    msw AS (
      SELECT sum((ng - 1) * vv) / (sum(ng) - count(*)) AS w FROM g
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b,
           a.ng AS n_a, b.ng AS n_b,
           round(abs(a.m - b.m), 6) AS mean_diff,
           round(abs(a.m - b.m)
                 / sqrt((SELECT w FROM msw) / 2
                        * (1.0 / a.ng + 1.0 / b.ng)), 6) AS q_stat,
           (abs(a.m - b.m)
            / sqrt((SELECT w FROM msw) / 2 * (1.0 / a.ng + 1.0 / b.ng))
            >= {TUKEY_Q_CRIT}) AS significant
    FROM g a JOIN g b ON a.seg < b.seg
    """,
)
def tukey_hsd_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R262 Tukey HSD post-hoc after anova_f_segments: all 10 pairwise
    segment mean comparisons via the studentized range statistic
    q = |m_i - m_j| / sqrt(MSW/2 * (1/n_i + 1/n_j)) against the fixed
    critical value q(0.05, k=5, df=inf) = {TUKEY_Q_CRIT} — the
    which-pairs-differ answer ANOVA's single F cannot give, with the
    family-wise error control the per-pair t-tests in effect_sizes
    lack.
    Same engine-parity recipe as the ANOVA gate (avg 6dp, var_samp
    2dp, then closed forms from the 5-row group frame); the pairwise
    step is a 5x5 self-join on the model-sized frame."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, c["c_custkey"] == o["o_custkey"]).select(
        F.col("o_totalprice").alias("y"),
        F.col("c_mktsegment").alias("seg"),
    )
    g = j.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.round(F.avg("y"), 6).alias("m"),
        F.round(F.var_samp("y"), 2).alias("vv"),
    )
    msw = g.agg(
        (
            F.sum((F.col("ng") - 1) * F.col("vv"))
            / (F.sum("ng") - F.count("*"))
        ).alias("w")
    )
    a, b = g.alias("a"), g.alias("b")
    se = F.sqrt(
        F.col("w") / 2 * (1.0 / F.col("a.ng") + 1.0 / F.col("b.ng"))
    )
    qs = F.abs(F.col("a.m") - F.col("b.m")) / se
    return (
        a.join(b, F.col("a.seg") < F.col("b.seg"))
        .crossJoin(F.broadcast(msw))
        .select(
            F.col("a.seg").alias("seg_a"),
            F.col("b.seg").alias("seg_b"),
            F.col("a.ng").alias("n_a"),
            F.col("b.ng").alias("n_b"),
            F.round(F.abs(F.col("a.m") - F.col("b.m")), 6).alias(
                "mean_diff"
            ),
            F.round(qs, 6).alias("q_stat"),
            (qs >= TUKEY_Q_CRIT).alias("significant"),
        )
    )


RMST_TAU = 14  # restricted-mean horizon (days)


@register(
    "rmst_conversion",
    sql=f"""
    WITH per_user AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS first_day,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS conv_day
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
    spells AS (
      SELECT CASE WHEN p.conv_day IS NOT NULL
                       AND p.conv_day >= p.first_day
                  THEN CAST(p.conv_day - p.first_day AS BIGINT)
                  ELSE CAST(hz.h - p.first_day AS BIGINT) END AS t,
             CASE WHEN p.conv_day IS NOT NULL
                       AND p.conv_day >= p.first_day
                  THEN 1 ELSE 0 END AS converted
      FROM per_user p CROSS JOIN horizon hz
    ),
    at_t AS (
      SELECT t, CAST(sum(converted) AS BIGINT) AS d,
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
      SELECT t,
             round(exp(sum(ln(1.0 - d * 1.0 / n_risk))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)), 9) AS s
      FROM risk WHERE d > 0 AND d < n_risk
    ),
    steps AS (
      SELECT t, s,
             lead(t, 1, {RMST_TAU}) OVER (ORDER BY t) AS t_next
      FROM km WHERE t < {RMST_TAU}
    ),
    first_seg AS (
      SELECT coalesce(min(t), {RMST_TAU}) AS t_first FROM km
      WHERE t < {RMST_TAU}
    )
    SELECT CAST({RMST_TAU} AS BIGINT) AS tau,
           round((SELECT t_first FROM first_seg) * 1.0
                 + coalesce(sum(s * (least(t_next, {RMST_TAU}) - t)), 0.0),
                 6) AS rmst,
           round(coalesce(min(CASE WHEN t_next >= {RMST_TAU} THEN s END),
                          1.0), 6) AS surv_at_tau
    FROM steps
    """,
)
def rmst_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R263 restricted mean survival time at tau = {RMST_TAU} days for
    time-to-first-purchase: the area under the Kaplan-Meier curve up
    to tau — 'expected purchase-free days in the first two weeks', the
    censoring-robust effect scale regulators now prefer over hazard
    ratios. Built from the same spell/risk frames as the KM gate:
    S(t) step heights (9dp, exp-sum-ln) times interval widths via one
    lead() over the <=|days| event-time frame, plus the leading
    S=1 segment before the first event. Single-row output with the
    tau-horizon survival for context."""
    spells = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_day"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("ts").cast("date"),
                )
            ).alias("conv_day"),
        )
    )
    horizon = load_table(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("h")
    )
    conv_ok = F.col("conv_day").isNotNull() & (
        F.col("conv_day") >= F.col("first_day")
    )
    sp = spells.crossJoin(F.broadcast(horizon)).select(
        F.when(conv_ok, F.datediff("conv_day", "first_day"))
        .otherwise(F.datediff("h", "first_day"))
        .cast("bigint")
        .alias("t"),
        F.when(conv_ok, 1).otherwise(0).alias("converted"),
    )
    from pyspark.sql import Window

    at_t = sp.groupBy("t").agg(
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
        risk.where((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
        .withColumn(
            "s",
            F.round(
                F.exp(
                    F.sum(
                        F.log(1.0 - F.col("d") * 1.0 / F.col("n_risk"))
                    ).over(w_asc)
                ),
                9,
            ),
        )
        .select("t", "s")
    )
    kml = km.where(F.col("t") < RMST_TAU).localCheckpoint(eager=False)
    w_lead = Window.orderBy("t")
    steps = kml.withColumn(
        "t_next", F.lead("t", 1, RMST_TAU).over(w_lead)
    )
    first_seg = kml.agg(
        F.coalesce(F.min("t"), F.lit(RMST_TAU)).alias("t_first")
    )
    agg = steps.agg(
        F.coalesce(
            F.sum(
                F.col("s")
                * (F.least(F.col("t_next"), F.lit(RMST_TAU)) - F.col("t"))
            ),
            F.lit(0.0),
        ).alias("area"),
        F.coalesce(
            F.min(
                F.when(F.col("t_next") >= RMST_TAU, F.col("s"))
            ),
            F.lit(1.0),
        ).alias("s_tau"),
    )
    return agg.crossJoin(F.broadcast(first_seg)).select(
        F.lit(RMST_TAU).cast("bigint").alias("tau"),
        F.round(F.col("t_first") * 1.0 + F.col("area"), 6).alias("rmst"),
        F.round(F.col("s_tau"), 6).alias("surv_at_tau"),
    )


GMM_ITERS = 5


def _gmm_oracle_sql(iters: int = GMM_ITERS) -> str:
    """Unrolled 2-component 1-d EM oracle (chained MATERIALIZED CTEs,
    one E+M pass per iteration). Parameters are snapped to the 9dp
    grid after every M step — the pagerank quantization schedule, in
    the repo's shared HALF-UP floor(x*1e9+0.5)/1e9 spelling on BOTH
    sides — so responsibility sums (the only cross-engine drift
    source) restart from bit-identical params each round."""
    head = """x AS MATERIALIZED (
      SELECT round(ln(o_totalprice), 6) AS x FROM orders
    ),
    init AS MATERIALIZED (
      SELECT round(avg(x), 6) AS m, round(stddev_samp(x), 6) AS s FROM x
    ),
    p0 AS MATERIALIZED (
      SELECT 0.5 AS w1, m - s AS mu1, s * s AS v1,
             m + s AS mu2, s * s AS v2
      FROM init
    )"""
    parts = [head]
    for i in range(1, iters + 1):
        parts.append(
            f"""e{i} AS MATERIALIZED (
      SELECT x.x,
             p.w1 * exp(-(x.x - p.mu1) * (x.x - p.mu1) / (2 * p.v1))
               / sqrt(2 * pi() * p.v1) AS f1,
             (1 - p.w1) * exp(-(x.x - p.mu2) * (x.x - p.mu2) / (2 * p.v2))
               / sqrt(2 * pi() * p.v2) AS f2
      FROM x CROSS JOIN p{i-1} p
    ),
    r{i} AS MATERIALIZED (
      SELECT x, f1 / (f1 + f2) AS r FROM e{i}
    ),
    p{i} AS MATERIALIZED (
      SELECT floor(avg(r) * 1e9 + 0.5) / 1e9 AS w1,
             floor(sum(r * x) / sum(r) * 1e9 + 0.5) / 1e9 AS mu1,
             floor((sum(r * x * x) / sum(r)
                   - pow(sum(r * x) / sum(r), 2)) * 1e9 + 0.5) / 1e9 AS v1,
             floor(sum((1 - r) * x) / sum(1 - r) * 1e9 + 0.5) / 1e9 AS mu2,
             floor((sum((1 - r) * x * x) / sum(1 - r)
                   - pow(sum((1 - r) * x) / sum(1 - r), 2)) * 1e9 + 0.5)
               / 1e9 AS v2
      FROM r{i}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    ll AS (
      SELECT round(sum(ln(f1 + f2)), 4) AS loglik,
             CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT p.w1 * exp(-(x.x - p.mu1) * (x.x - p.mu1) / (2 * p.v1))
                 / sqrt(2 * pi() * p.v1) AS f1,
               (1 - p.w1) * exp(-(x.x - p.mu2) * (x.x - p.mu2) / (2 * p.v2))
                 / sqrt(2 * pi() * p.v2) AS f2
        FROM x CROSS JOIN p{iters} p
      )
    )
    SELECT floor(p.w1 * 1e6 + 0.5) / 1e6 AS w1,
           floor(p.mu1 * 1e6 + 0.5) / 1e6 AS mu1,
           floor(sqrt(p.v1) * 1e6 + 0.5) / 1e6 AS sigma1,
           floor(p.mu2 * 1e6 + 0.5) / 1e6 AS mu2,
           floor(sqrt(p.v2) * 1e6 + 0.5) / 1e6 AS sigma2,
           ll.loglik, ll.n
    FROM p{iters} p CROSS JOIN ll"""
    )


@register("gmm_em_order_values", sql=_gmm_oracle_sql())
def gmm_em_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R264 distributed EM for a 2-component 1-d Gaussian mixture on
    ln(order value) — the canonical latent-variable fit (customer
    'regular vs bulk' spend modes), run as {GMM_ITERS} bulk-synchronous
    EM rounds: the E step is a map-side responsibility expression
    against 1-row broadcast params, the M step ONE decomposable
    aggregate (sum r, sum r*x, sum r*x^2), params re-broadcast.
    Deterministic moment init (mu = m -/+ s); params snapped to 9dp
    after every M step so the oracle's unrolled replay is
    bit-identical (pagerank schedule). Data passes: {GMM_ITERS}+1
    scans, zero shuffles beyond each scan's final aggregate —
    textbook 100 TB EM shape."""
    import math

    x = load_table(spark, sf_dir, "orders").select(
        F.round(F.log("o_totalprice"), 6).alias("x")
    )
    x = x.localCheckpoint(eager=False)
    init = x.agg(
        F.round(F.avg("x"), 6).alias("m"),
        F.round(F.stddev_samp("x"), 6).alias("s"),
    ).first()
    w1, mu1, v1 = 0.5, init["m"] - init["s"], init["s"] * init["s"]
    mu2, v2 = init["m"] + init["s"], init["s"] * init["s"]
    two_pi = 2 * math.pi
    for _ in range(GMM_ITERS):
        f1 = (
            F.lit(w1)
            * F.exp(-(F.col("x") - mu1) * (F.col("x") - mu1) / (2 * v1))
            / math.sqrt(two_pi * v1)
        )
        f2 = (
            F.lit(1 - w1)
            * F.exp(-(F.col("x") - mu2) * (F.col("x") - mu2) / (2 * v2))
            / math.sqrt(two_pi * v2)
        )
        r = (f1 / (f1 + f2)).alias("r")
        m = x.select("x", r).agg(
            F.avg("r").alias("w1"),
            (F.sum(F.col("r") * F.col("x")) / F.sum("r")).alias("mu1"),
            (
                F.sum(F.col("r") * F.col("x") * F.col("x")) / F.sum("r")
            ).alias("m2_1"),
            (
                F.sum((1 - F.col("r")) * F.col("x"))
                / F.sum(1 - F.col("r"))
            ).alias("mu2"),
            (
                F.sum((1 - F.col("r")) * F.col("x") * F.col("x"))
                / F.sum(1 - F.col("r"))
            ).alias("m2_2"),
        ).first()
        # HALF-UP 9dp snap — the repo's shared floor(x*1e9+0.5)/1e9
        # spelling (matches the oracle's identical spelling; Python
        # round() is half-to-even and can flip a hash on a half-grid
        # landing, the round-6 JL failure mode).
        snap9 = lambda v: math.floor(v * 1e9 + 0.5) / 1e9  # noqa: E731
        w1 = snap9(m["w1"])
        mu1 = snap9(m["mu1"])
        v1 = snap9(m["m2_1"] - m["mu1"] * m["mu1"])
        mu2 = snap9(m["mu2"])
        v2 = snap9(m["m2_2"] - m["mu2"] * m["mu2"])
    f1 = (
        F.lit(w1)
        * F.exp(-(F.col("x") - mu1) * (F.col("x") - mu1) / (2 * v1))
        / math.sqrt(two_pi * v1)
    )
    f2 = (
        F.lit(1 - w1)
        * F.exp(-(F.col("x") - mu2) * (F.col("x") - mu2) / (2 * v2))
        / math.sqrt(two_pi * v2)
    )
    ll = x.agg(
        F.round(F.sum(F.log(f1 + f2)), 4).alias("loglik"),
        F.count("*").cast("bigint").alias("n"),
    )
    snap6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    return ll.select(
        F.lit(snap6(w1)).alias("w1"),
        F.lit(snap6(mu1)).alias("mu1"),
        F.lit(snap6(math.sqrt(v1))).alias("sigma1"),
        F.lit(snap6(mu2)).alias("mu2"),
        F.lit(snap6(math.sqrt(v2))).alias("sigma2"),
        "loglik",
        "n",
    )


BT_ITERS = 5


def _bt_oracle_sql(iters: int = BT_ITERS) -> str:
    """Unrolled Bradley-Terry minorization-maximization oracle: the
    match table is model-sized (one representative doc per (source,
    md5 bucket), all cross-source pairs per bucket), and each MM round
    is two joins over the |sources|-row strength frame, strengths
    renormalized to mean 1 and snapped to 9dp per round."""
    head = """reps AS MATERIALIZED (
      SELECT source, bucket, min(doc_id) AS doc_id
      FROM (
        SELECT source, doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
        FROM documents
      )
      GROUP BY source, bucket
    ),
    rd AS MATERIALIZED (
      SELECT r.source, r.bucket, length(d.text) AS sc
      FROM reps r JOIN documents d ON r.doc_id = d.doc_id
    ),
    matches AS MATERIALIZED (
      SELECT a.source AS sa, b.source AS sb,
             CASE WHEN a.sc > b.sc THEN 1
                  WHEN a.sc < b.sc THEN 0
                  WHEN a.source < b.source THEN 1 ELSE 0 END AS win_a
      FROM rd a JOIN rd b
        ON a.bucket = b.bucket AND a.source < b.source
    ),
    pairw AS MATERIALIZED (
      SELECT sa, sb, CAST(count(*) AS BIGINT) AS n_ab,
             CAST(sum(win_a) AS BIGINT) AS w_a
      FROM matches GROUP BY sa, sb
    ),
    sym AS MATERIALIZED (
      SELECT sa AS i, sb AS j, n_ab, w_a AS w FROM pairw
      UNION ALL
      SELECT sb, sa, n_ab, n_ab - w_a FROM pairw
    ),
    wins AS MATERIALIZED (
      SELECT i, CAST(sum(w) AS BIGINT) AS wi FROM sym GROUP BY i
    ),
    pi0 AS MATERIALIZED (SELECT i, 1.0 AS p FROM wins)"""
    parts = [head]
    for k in range(1, iters + 1):
        parts.append(
            f"""u{k} AS MATERIALIZED (
      SELECT s.i,
             w.wi / sum(s.n_ab / (pa.p + pb.p)) AS p_raw
      FROM sym s
      JOIN pi{k-1} pa ON pa.i = s.i
      JOIN pi{k-1} pb ON pb.i = s.j
      JOIN wins w ON w.i = s.i
      GROUP BY s.i, w.wi
    ),
    pi{k} AS MATERIALIZED (
      SELECT i, round(p_raw / (SELECT avg(p_raw) FROM u{k}), 9) AS p
      FROM u{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT p.i AS source, w.wi AS n_wins,
           CAST((SELECT sum(n_ab) FROM sym WHERE i = p.i) AS BIGINT)
             AS n_matches,
           round(p.p, 6) AS strength
    FROM pi{iters} p JOIN wins w ON w.i = p.i"""
    )


@register("bradley_terry_sources", sql=_bt_oracle_sql())
def bradley_terry_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R265 Bradley-Terry strength ranking of document sources from
    pairwise contests — the arena-style paired-comparison model LLM
    evals popularized: one representative doc per (source, md5
    bucket) meets every other source's representative in that bucket,
    the longer text wins (deterministic tie-break), and {BT_ITERS}
    minorization-maximization rounds solve pi_i = W_i /
    sum_j n_ij/(pi_i+pi_j) (Hunter 2004), renormalized to mean 1 and
    9dp-snapped per round so the unrolled SQL replay is
    bit-identical. Scale shape: the data-sized work is ONE pass to
    pick bucket representatives; matches are |sources|^2 x 16 rows
    and every MM round is two broadcast-able joins on the
    |sources|-row strength frame."""
    docs = load_table(spark, sf_dir, "documents")
    reps = (
        docs.select(
            "source",
            "doc_id",
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias(
                "bucket"
            ),
        )
        .groupBy("source", "bucket")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    rd = reps.join(
        docs.select("doc_id", F.length("text").alias("sc")), on="doc_id"
    ).select("source", "bucket", "sc")
    a, b = rd.alias("a"), rd.alias("b")
    matches = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("sa"),
        F.col("b.source").alias("sb"),
        F.when(F.col("a.sc") > F.col("b.sc"), 1)
        .when(F.col("a.sc") < F.col("b.sc"), 0)
        .when(F.col("a.source") < F.col("b.source"), 1)
        .otherwise(0)
        .alias("win_a"),
    )
    pairw = matches.groupBy("sa", "sb").agg(
        F.count("*").cast("bigint").alias("n_ab"),
        F.sum("win_a").cast("bigint").alias("w_a"),
    )
    sym = pairw.select(
        F.col("sa").alias("i"), F.col("sb").alias("j"), "n_ab",
        F.col("w_a").alias("w"),
    ).unionAll(
        pairw.select(
            F.col("sb").alias("i"),
            F.col("sa").alias("j"),
            "n_ab",
            (F.col("n_ab") - F.col("w_a")).alias("w"),
        )
    ).localCheckpoint(eager=False)
    wins = sym.groupBy("i").agg(F.sum("w").cast("bigint").alias("wi"))
    pi = wins.select("i", F.lit(1.0).alias("p"))
    for _ in range(BT_ITERS):
        pa = pi.select(F.col("i").alias("ia"), F.col("p").alias("p_i"))
        pb = pi.select(F.col("i").alias("ib"), F.col("p").alias("p_j"))
        u = (
            sym.join(pa, sym["i"] == pa["ia"])
            .join(pb, sym["j"] == pb["ib"])
            .join(wins, on="i")
            .groupBy("i", "wi")
            .agg(
                (
                    F.first("wi")
                    / F.sum(F.col("n_ab") / (F.col("p_i") + F.col("p_j")))
                ).alias("p_raw")
            )
            .select("i", "p_raw")
        )
        norm = u.agg(F.avg("p_raw").alias("mean_p"))
        pi = (
            u.crossJoin(F.broadcast(norm))
            .select(
                "i",
                F.round(F.col("p_raw") / F.col("mean_p"), 9).alias("p"),
            )
            .localCheckpoint(eager=False)
        )
    n_matches = sym.groupBy("i").agg(
        F.sum("n_ab").cast("bigint").alias("n_matches")
    )
    return (
        pi.join(wins, on="i")
        .join(n_matches, on="i")
        .select(
            F.col("i").alias("source"),
            F.col("wi").alias("n_wins"),
            "n_matches",
            F.round("p", 6).alias("strength"),
        )
    )


RR_Q = 0.75  # probability the mechanism reports the TRUE bit


@register(
    "randomized_response_estimate",
    sql=f"""
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS truth,
             CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 2, 1) < 'c'
                  THEN 1 ELSE 0 END AS coin
      FROM events GROUP BY user_id
    ),
    rr AS (
      SELECT truth,
             CASE WHEN coin = 1 THEN truth ELSE 1 - truth END AS reported
      FROM u
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             round(avg(reported * 1.0), 6) AS p_obs,
             round(avg(truth * 1.0), 6) AS p_true
      FROM rr
    )
    SELECT n_users, p_obs, p_true,
           round((p_obs - (1 - {RR_Q})) / (2 * {RR_Q} - 1), 6) AS p_est,
           round(abs((p_obs - (1 - {RR_Q})) / (2 * {RR_Q} - 1) - p_true),
                 6) AS abs_error
    FROM s
    """,
)
def randomized_response_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R266 Warner randomized response: each user's sensitive bit (did
    they purchase?) passes through a report-truth-with-probability-q
    mechanism (q = {RR_Q}, the coin being a deterministic md5 bit so
    both engines replay the identical mechanism), and the de-biased
    estimator p_est = (p_obs - (1-q)) / (2q - 1) recovers the
    population rate without any individual's bit being trustworthy —
    the local-DP primitive under the repo's privacy family (epsilon =
    ln(q/(1-q)) ≈ 1.1 per response). The fixture's true rate is kept
    alongside to exhibit the estimator's error. One user-level
    aggregate + closed form."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("truth")
    ).select(
        "truth",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 2, 1)
            < "c",
            F.col("truth"),
        )
        .otherwise(1 - F.col("truth"))
        .alias("reported"),
    )
    s = u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg(F.col("reported") * 1.0), 6).alias("p_obs"),
        F.round(F.avg(F.col("truth") * 1.0), 6).alias("p_true"),
    )
    est = (F.col("p_obs") - (1 - RR_Q)) / (2 * RR_Q - 1)
    return s.select(
        "n_users",
        "p_obs",
        "p_true",
        F.round(est, 6).alias("p_est"),
        F.round(F.abs(est - F.col("p_true")), 6).alias("abs_error"),
    )


@register(
    "delta_method_ratio_ci",
    sql="""
    WITH per_cust AS (
      SELECT o_custkey,
             round(sum(o_totalprice), 2) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             round(sum(s), 2) AS ts,
             CAST(sum(m) AS BIGINT) AS tm
      FROM per_cust
    ),
    r AS (SELECT round(ts / tm, 9) AS r_hat FROM tot),
    v AS (
      SELECT sum(pow(p.s - (SELECT r_hat FROM r) * p.m, 2)) AS ssq
      FROM per_cust p
    )
    SELECT t.k AS n_customers, t.tm AS n_orders,
           round((SELECT r_hat FROM r), 6) AS r_hat,
           round(sqrt(v.ssq) / t.tm, 6) AS se,
           round((SELECT r_hat FROM r)
                 - 1.959964 * sqrt(v.ssq) / t.tm, 4) AS ci_lo,
           round((SELECT r_hat FROM r)
                 + 1.959964 * sqrt(v.ssq) / t.tm, 4) AS ci_hi
    FROM tot t CROSS JOIN v
    """,
)
def delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R267 cluster-robust delta-method CI for a ratio metric
    (revenue per order, clustered by customer): R = sum s_i / sum
    m_i over per-customer totals, Var(R) ~ sum (s_i - R m_i)^2 /
    (sum m_i)^2 — the linearization every experimentation platform
    uses for ratio metrics where the naive per-row variance is wrong
    because orders within a customer correlate (the closed-form
    sibling of jackknife_ratio_revenue_per_order, which resamples
    the same clusters). Per-customer totals are cent-grid 2dp and R
    is snapped to 9dp before the residual pass, so both engines sum
    identical squared residuals; z = 1.959964 shared literal. One
    aggregate + one residual pass."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("s"),
        F.count("*").cast("bigint").alias("m"),
    ).localCheckpoint(eager=False)
    tot = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.round(F.sum("s"), 2).alias("ts"),
        F.sum("m").cast("bigint").alias("tm"),
    )
    r = tot.select(F.round(F.col("ts") / F.col("tm"), 9).alias("r_hat"))
    v = per.crossJoin(F.broadcast(r)).agg(
        F.sum(
            F.pow(F.col("s") - F.col("r_hat") * F.col("m"), 2)
        ).alias("ssq")
    )
    se = F.sqrt(F.col("ssq")) / F.col("tm")
    return (
        tot.crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(r))
        .select(
            F.col("k").alias("n_customers"),
            F.col("tm").alias("n_orders"),
            F.round(F.col("r_hat"), 6).alias("r_hat"),
            F.round(se, 6).alias("se"),
            F.round(F.col("r_hat") - 1.959964 * se, 4).alias("ci_lo"),
            F.round(F.col("r_hat") + 1.959964 * se, 4).alias("ci_hi"),
        )
    )


RW_STEPS = 4
RW_START_PREFIX = "0"  # md5-selected ~1/16 of nodes start a walk


def _walks_oracle_sql(steps: int = RW_STEPS) -> str:
    """Unrolled deterministic-walk oracle: each step moves every
    walker to the neighbor minimizing md5(cur || '|' || step || '|' ||
    neighbor) — arg_min in DuckDB, min_by in Spark, identical hash
    text on both."""
    head = f"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eu AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM eu UNION ALL SELECT v AS a, u AS b FROM eu
    ),
    w0 AS MATERIALIZED (
      SELECT DISTINCT a AS start, a AS cur FROM sym
      WHERE substring(md5(CAST(a AS VARCHAR)), 1, 1) = '{RW_START_PREFIX}'
    )"""
    parts = [head]
    for k in range(1, steps + 1):
        parts.append(
            f"""w{k} AS MATERIALIZED (
      SELECT w.start,
             arg_min(s.b, md5(CAST(w.cur AS VARCHAR) || '|' || {k}
                              || '|' || CAST(s.b AS VARCHAR))) AS cur
      FROM w{k-1} w JOIN sym s ON s.a = w.cur
      GROUP BY w.start
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT cur AS node, CAST(count(*) AS BIGINT) AS n_visits
    FROM w{steps} GROUP BY cur"""
    )


@register("deterministic_random_walks", sql=_walks_oracle_sql())
def deterministic_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R268 graph random walks with a deterministic hash coin — the
    walk-generation primitive under DeepWalk/node2vec-style graph
    embeddings, replayable bit-for-bit: an md5-selected ~1/16 cohort
    of co-purchase nodes each walks {RW_STEPS} steps, every step
    moving to the neighbor minimizing md5(cur|step|neighbor) (a
    uniform-ish but seedlessly reproducible choice — the repo's
    shuffle_shards_deterministic trick applied to graph traversal).
    Output: landing-node visit counts (the empirical stationary
    sketch). Each step is ONE equi-join on the frontier + a min_by
    aggregate per walker — walk state is (start, cur), never a path
    blob, so state stays two columns wide at any scale."""
    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    eu = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = eu.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        eu.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint(eager=False)
    w = (
        sym.select(F.col("a").alias("start"))
        .distinct()
        .where(
            F.substring(F.md5(F.col("start").cast("string")), 1, 1)
            == RW_START_PREFIX
        )
        .withColumn("cur", F.col("start"))
    )
    # r13 measured and REJECTED: broadcasting the walker frame into the
    # per-step edge join (gated on one up-front count), with and
    # without spreading the checkpointed sym — steady 4.6-5.0 s vs the
    # 3.8 s shuffle-join baseline. Unlike the batch-1/2 loops, each
    # step here is join + min_by groupBy on the WALKER key, so the
    # shuffle join already moves only walker-sized frames; the
    # broadcast only added a per-step driver build. Keep the planner's
    # join.
    for k in range(1, RW_STEPS + 1):
        w = (
            w.join(sym, w["cur"] == sym["a"])
            .groupBy("start")
            .agg(
                F.min_by(
                    F.col("b"),
                    F.md5(
                        F.concat(
                            F.col("cur").cast("string"),
                            F.lit(f"|{k}|"),
                            F.col("b").cast("string"),
                        )
                    ),
                ).alias("cur")
            )
        )
    return w.groupBy(F.col("cur").alias("node")).agg(
        F.count("*").cast("bigint").alias("n_visits")
    )


ER_CC_ROUNDS = 10


def _er_oracle_sql(rounds: int = ER_CC_ROUNDS) -> str:
    """FS 'match' pairs -> unrolled min-label propagation (label =
    min(own, neighbors) per round; `rounds` exceeds the match-graph
    diameter at every test SF — verified stable vs rounds+2)."""
    head = """p AS MATERIALIZED (
      SELECT p_partkey, p_name, p_brand, p_type,
             round(p_retailprice, 2) AS price,
             string_split(p_name, ' ')[-1] AS blk_tok, p_size
      FROM part
    ),
    mp AS MATERIALIZED (
      SELECT a.p_partkey AS ka, b.p_partkey AS kb
      FROM p a JOIN p b
        ON a.blk_tok = b.blk_tok AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE (CASE WHEN levenshtein(a.p_name, b.p_name) <= 1
                  THEN ln(0.9 / 0.05) ELSE ln(0.1 / 0.95) END)
          + (CASE WHEN a.p_brand = b.p_brand
                  THEN ln(0.85 / 0.04) ELSE ln(0.15 / 0.96) END)
          + (CASE WHEN a.p_type = b.p_type
                  THEN ln(0.8 / 0.2) ELSE ln(0.2 / 0.8) END)
          + (CASE WHEN abs(a.price - b.price) <= 1.00
                  THEN ln(0.75 / 0.1) ELSE ln(0.25 / 0.9) END) >= 4.0
    ),
    sym AS MATERIALIZED (
      SELECT ka AS a, kb AS b FROM mp UNION ALL SELECT kb, ka FROM mp
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT a AS id, a AS lab FROM sym
    )"""
    parts = [head]
    for k in range(1, rounds + 1):
        parts.append(
            f"""l{k} AS MATERIALIZED (
      SELECT l.id, least(l.lab, coalesce(min(nl.lab), l.lab)) AS lab
      FROM l{k-1} l
      LEFT JOIN sym s ON s.a = l.id
      LEFT JOIN l{k-1} nl ON nl.id = s.b
      GROUP BY l.id, l.lab
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT l.lab AS entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(DISTINCT p.p_name) AS BIGINT) AS n_names,
           CAST(count(DISTINCT p.p_brand) AS BIGINT) AS n_brands
    FROM l{rounds} l JOIN p ON p.p_partkey = l.id
    GROUP BY l.lab
    UNION ALL
    -- convergence sentinel: min-label propagation is monotone (each
    -- label only decreases), so an unchanged label SUM in the last
    -- two rounds proves the fixpoint landed inside the unroll depth;
    -- otherwise emit a row the engine never produces so the gate
    -- fails loudly at any SF where {rounds} rounds are not enough.
    SELECT -1 AS entity_id, CAST(-1 AS BIGINT) AS n_members,
           CAST(-1 AS BIGINT) AS n_names, CAST(-1 AS BIGINT) AS n_brands
    WHERE (SELECT sum(lab) FROM l{rounds})
       <> (SELECT sum(lab) FROM l{rounds - 1})"""
    )


@register("er_clusters_from_linkage", sql=_er_oracle_sql())
def er_clusters_from_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R269 entity-resolution clustering: the Fellegi-Sunter 'match'
    pairs (R254's >= 4.0 log-likelihood decisions) close transitively
    into entity clusters via the repo's star-contraction connected
    components, reported with member counts and name/brand diversity
    (the cluster-purity signals an ER pipeline reviews before
    merging). Spark runs the real O(log n)-round CC; the oracle
    replays an unrolled min-label propagation ({ER_CC_ROUNDS} rounds,
    past the match-graph diameter). Composition: R254 scoring ->
    decision threshold -> dedup/components.canonical_ids — detection,
    decision, and closure as one gated pipeline."""
    from zoom_spark.dedup.components import canonical_ids

    scored = fellegi_sunter_part_linkage(spark, sf_dir)
    # Lazy checkpoint: matches feeds the node union (x2) and the CC
    # machinery — without it every consumer re-runs the full blocked
    # self-join + levenshtein scoring (the before-plan re-scanned
    # part.parquet 18x). Materialized by the CC loop's first checksum.
    matches = (
        scored.where(F.col("decision") == "match")
        .select(F.col("key_a").alias("id_a"), F.col("key_b").alias("id_b"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        matches.select(F.col("id_a").alias("p_partkey"))
        .unionAll(matches.select(F.col("id_b").alias("p_partkey")))
        .distinct()
    )
    lab = canonical_ids(nodes, matches, id_col="p_partkey").select(
        F.col("p_partkey"), F.col("canonical_id").alias("entity_id")
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand"
    )
    return (
        lab.join(p, on="p_partkey")
        .groupBy("entity_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.countDistinct("p_name").cast("bigint").alias("n_names"),
            F.countDistinct("p_brand").cast("bigint").alias("n_brands"),
        )
    )


MOM_BUCKETS = 32


@register(
    "median_of_means_order_value",
    sql=f"""
    WITH b AS (
      SELECT CAST(substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
                  AS VARCHAR) AS hx,
             o_totalprice AS y
      FROM orders
    ),
    bm AS (
      SELECT (CASE WHEN substring(hx, 1, 1) BETWEEN '0' AND '9'
                   THEN CAST(substring(hx, 1, 1) AS INTEGER)
                   ELSE ascii(substring(hx, 1, 1)) - 87 END) * 2
             + (CASE WHEN substring(hx, 2, 1) < '8' THEN 0 ELSE 1 END)
               AS bucket,
             round(avg(y), 6) AS m,
             CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY 1
    ),
    med AS (
      SELECT round(avg(m), 6) AS mom FROM (
        SELECT m, row_number() OVER (ORDER BY m) AS r,
               count(*) OVER () AS c
        FROM bm
      ) WHERE r IN (CAST(floor((c + 1) / 2.0) AS BIGINT),
                    CAST(floor((c + 2) / 2.0) AS BIGINT))
    ),
    raw AS (SELECT round(avg(o_totalprice), 6) AS raw_mean FROM orders)
    SELECT CAST({MOM_BUCKETS} AS BIGINT) AS n_buckets,
           (SELECT min(n) FROM bm) AS min_bucket_n,
           (SELECT mom FROM med) AS median_of_means,
           (SELECT raw_mean FROM raw) AS raw_mean
    """,
)
def median_of_means_order_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R270 median-of-means robust mean estimator: orders are split
    into {MOM_BUCKETS} deterministic md5 buckets, the bucket means
    (6dp) are medianed — the estimator whose deviation bound holds
    under heavy tails where the raw mean's does not (the robust-mean
    primitive behind heavy-tailed metric aggregation). Bucket index =
    first md5 hex digit x2 + second-digit half (exactly {MOM_BUCKETS}
    cells, deterministic on both engines); the median step runs over
    the {MOM_BUCKETS}-row bucket frame. Reported next to the raw mean
    for the robustness delta."""
    o = load_table(spark, sf_dir, "orders")
    hx = F.md5(F.col("o_orderkey").cast("string"))
    d1 = F.substring(hx, 1, 1)
    d2 = F.substring(hx, 2, 1)
    bucket = (
        F.when(d1.between("0", "9"), d1.cast("int")).otherwise(
            F.ascii(d1) - 87
        )
        * 2
        + F.when(d2 < "8", 0).otherwise(1)
    )
    bm = o.groupBy(bucket.alias("bucket")).agg(
        F.round(F.avg("o_totalprice"), 6).alias("m"),
        F.count("*").cast("bigint").alias("n"),
    )
    from pyspark.sql import Window

    wn = Window.orderBy("m")
    ranked = bm.select(
        "m",
        F.row_number().over(wn).alias("r"),
        F.count("*").over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("c"),
    )
    med = ranked.where(
        (F.col("r") == F.floor((F.col("c") + 1) / 2))
        | (F.col("r") == F.floor((F.col("c") + 2) / 2))
    ).agg(F.round(F.avg("m"), 6).alias("mom"))
    raw = o.agg(F.round(F.avg("o_totalprice"), 6).alias("raw_mean"))
    minn = bm.agg(F.min("n").alias("min_bucket_n"))
    return (
        med.crossJoin(F.broadcast(raw))
        .crossJoin(F.broadcast(minn))
        .select(
            F.lit(MOM_BUCKETS).cast("bigint").alias("n_buckets"),
            "min_bucket_n",
            F.col("mom").alias("median_of_means"),
            "raw_mean",
        )
    )


MP_W = 7          # subsequence window length (days)
MP_EXCL = 3       # trivial-match exclusion half-width (|i-j| > MP_EXCL)


@register(
    "matrix_profile_revenue",
    sql=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    pos AS MATERIALIZED (
      SELECT day, rev,
             row_number() OVER (ORDER BY day) - 1 AS i
      FROM daily
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pos),
    wins AS MATERIALIZED (
      SELECT a.i, b.i - a.i AS k, b.rev AS x
      FROM pos a JOIN pos b ON b.i BETWEEN a.i AND a.i + {MP_W - 1}
      WHERE a.i + {MP_W - 1} <= (SELECT n FROM n) - 1
    ),
    mom AS MATERIALIZED (
      SELECT i, sum(x) AS s, sum(x * x) AS ss FROM wins GROUP BY i
    ),
    dots AS MATERIALIZED (
      SELECT a.i AS ia, b.i AS ib, sum(a.x * b.x) AS dot
      FROM wins a JOIN wins b ON a.k = b.k
      WHERE abs(a.i - b.i) > {MP_EXCL}
      GROUP BY a.i, b.i
    ),
    dist AS MATERIALIZED (
      SELECT d.ia, d.ib,
             round(2.0 * {MP_W} * (1.0 -
               (d.dot - ma.s * mb.s / {MP_W})
               / sqrt((ma.ss - ma.s * ma.s / {MP_W})
                      * (mb.ss - mb.s * mb.s / {MP_W}))), 9) AS d2
      FROM dots d
      JOIN mom ma ON ma.i = d.ia
      JOIN mom mb ON mb.i = d.ib
    ),
    prof AS (
      SELECT ia, d2, ib,
             row_number() OVER (PARTITION BY ia ORDER BY d2, ib) AS rn
      FROM dist
    )
    SELECT p.ia AS pos_idx, ps.day AS window_start,
           round(sqrt(greatest(p.d2, 0.0)), 6) AS profile_dist,
           p.ib AS nn_idx
    FROM prof p JOIN pos ps ON ps.i = p.ia
    WHERE p.rn = 1
    """,
)
def matrix_profile_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R271 matrix profile of daily revenue (window w={MP_W}): for
    every length-{MP_W} subsequence, the z-normalized Euclidean
    distance to its nearest non-trivial neighbor (exclusion zone
    |i-j| > {MP_EXCL}) — low profile values are MOTIFS (repeated
    weekly shapes), high values are DISCORDS (anomalous weeks); the
    UCR matrix-profile primitive behind modern time-series mining.
    Uses the d^2 = 2w(1 - rho) identity, with every moment (window
    sums, sums of squares, cross dots) an EXACT cent-grid double —
    both engines compute bit-identical distances, 9dp-rounded before
    the argmin so ties break identically (then by neighbor index).
    Dots use the STOMP diagonal formulation: pairwise products along
    each diagonal d = ib - ia (a calendar-bounded ~days^2/2 frame at
    ANY SF), then ONE sliding window sum per diagonal — ~|days|
    well-balanced window partitions instead of the w-distinct-key
    skew join of the naive window-row spelling (which funnels
    |days|^2 * w rows through w tasks)."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    pos = daily.select(
        "day",
        "rev",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
    ).localCheckpoint(eager=False)
    n = pos.count()
    # spread the calendar-bounded position frame so the O(days^2)
    # diagonal-product join runs on every core (the checkpointed day
    # frame is one AQE-coalesced partition)
    from zoom_spark.io import spread_rows

    pspread = spread_rows(pos)
    a, b = pspread.alias("a"), pspread.alias("b")
    # products along diagonals beyond the exclusion zone; diagonal
    # rows are contiguous in i, so a ROWS sliding frame is the exact
    # window dot: dot(i, i+d) = sum_{k<w} x[i+k] * x[i+d+k]
    prod = a.join(b, F.col("b.i") - F.col("a.i") > MP_EXCL).select(
        F.col("a.i").alias("i"),
        (F.col("b.i") - F.col("a.i")).alias("diag"),
        (F.col("a.rev") * F.col("b.rev")).alias("p"),
    )
    w_diag = (
        Window.partitionBy("diag").orderBy("i").rowsBetween(0, MP_W - 1)
    )
    dots_d = (
        prod.select(
            "i",
            "diag",
            F.sum("p").over(w_diag).alias("dot"),
            F.count("p").over(w_diag).alias("_cnt"),
        )
        .where(F.col("_cnt") == MP_W)  # == both windows fit in [0, n)
    )
    half = dots_d.select(
        F.col("i").alias("ia"),
        (F.col("i") + F.col("diag")).alias("ib"),
        "dot",
    )
    # the distance is symmetric: emit both orientations so every
    # window's argmin sees all non-trivial neighbors
    dots = half.unionByName(
        half.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "dot"
        )
    )
    # per-window moments: one sliding frame over the day sequence
    # (calendar-bounded single-task window, the repo's documented
    # bounded class — same frame as the position index above)
    w_mom = Window.orderBy("i").rowsBetween(0, MP_W - 1)
    mom = (
        pos.select(
            "i",
            F.sum("rev").over(w_mom).alias("s"),
            F.sum(F.col("rev") * F.col("rev")).over(w_mom).alias("ss"),
            F.count("rev").over(w_mom).alias("_cnt"),
        )
        .where(F.col("_cnt") == MP_W)
        .drop("_cnt")
    )
    ma = mom.select(
        F.col("i").alias("ia"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    mb = mom.select(
        F.col("i").alias("ib"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    rho_num = F.col("dot") - F.col("sa") * F.col("sb") / MP_W
    rho_den = F.sqrt(
        (F.col("ssa") - F.col("sa") * F.col("sa") / MP_W)
        * (F.col("ssb") - F.col("sb") * F.col("sb") / MP_W)
    )
    dist = (
        dots.join(ma, on="ia")
        .join(mb, on="ib")
        .select(
            "ia",
            "ib",
            F.round(2.0 * MP_W * (1.0 - rho_num / rho_den), 9).alias("d2"),
        )
    )
    wmin = Window.partitionBy("ia").orderBy("d2", "ib")
    prof = dist.withColumn("rn", F.row_number().over(wmin)).where(
        F.col("rn") == 1
    )
    return prof.join(pos, prof["ia"] == pos["i"]).select(
        F.col("ia").alias("pos_idx"),
        F.col("day").alias("window_start"),
        F.round(F.sqrt(F.greatest(F.col("d2"), F.lit(0.0))), 6).alias(
            "profile_dist"
        ),
        F.col("ib").alias("nn_idx"),
    )


@register(
    "two_segment_trend_fit",
    sql="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, round(sum(rev), 2) AS grand
      FROM daily
    ),
    pre AS MATERIALIZED (
      SELECT day,
             row_number() OVER (ORDER BY day) AS k,
             round(sum(rev) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS sk,
             rev
      FROM daily
    ),
    best AS (
      SELECT k AS split_k FROM (
        SELECT p.k, abs(p.sk - p.k * t.grand / t.n) AS cusum, p.day
        FROM pre p CROSS JOIN tot t WHERE p.k < t.n
        ORDER BY cusum DESC, day LIMIT 1
      )
    ),
    seg AS (
      SELECT p.k, p.rev,
             CASE WHEN p.k <= (SELECT split_k FROM best)
                  THEN 0 ELSE 1 END AS seg
      FROM pre p
    ),
    fits AS (
      SELECT seg,
             CAST(count(*) AS BIGINT) AS n_days,
             regr_slope(rev, k) AS slope,
             regr_intercept(rev, k) AS icept
      FROM seg GROUP BY seg
    )
    SELECT CAST((SELECT split_k FROM best) AS BIGINT) AS split_k,
           max(CASE WHEN seg = 0 THEN n_days END) AS n_before,
           max(CASE WHEN seg = 1 THEN n_days END) AS n_after,
           round(max(CASE WHEN seg = 0 THEN slope END), 4) AS slope_before,
           round(max(CASE WHEN seg = 1 THEN slope END), 4) AS slope_after,
           round(max(CASE WHEN seg = 1 THEN icept END)
                 + max(CASE WHEN seg = 1 THEN slope END)
                   * ((SELECT n FROM tot) + 7), 2) AS forecast_day_plus7
    FROM fits
    """,
)
def two_segment_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R272 piecewise-linear trend with one changepoint — the
    Prophet-style decomposition's core move, composed from the repo's
    own parts: the CUSUM-optimal split (cusum_changepoint_revenue's
    argmax, recomputed inline on the identical cent-grid prefix sums)
    divides the day index, OLS fits each side (regr_slope /
    regr_intercept — the SQL:2016 aggregates both engines share), and
    the after-segment line extrapolates a 7-days-ahead forecast. The
    slope comparison IS the trend-break report ('growth halved after
    day k'). Day-frame bounded end to end; two aggregate passes."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("rev"), 2).alias("grand"),
    )
    w = Window.orderBy("day")
    pre = daily.select(
        "day",
        F.row_number().over(w).alias("k"),
        F.round(
            F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            2,
        ).alias("sk"),
        "rev",
    ).localCheckpoint(eager=False)
    best = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("n"))
        .select(
            "k",
            "day",
            F.abs(
                F.col("sk") - F.col("k") * F.col("grand") / F.col("n")
            ).alias("cusum"),
        )
        .orderBy(F.col("cusum").desc(), "day")
        .limit(1)
        .select(F.col("k").alias("split_k"))
    )
    seg = pre.crossJoin(F.broadcast(best)).select(
        "k",
        "rev",
        F.when(F.col("k") <= F.col("split_k"), 0).otherwise(1).alias("seg"),
    )
    fits = seg.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.regr_slope("rev", "k").alias("slope"),
        F.regr_intercept("rev", "k").alias("icept"),
    )
    out = (
        fits.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(tot))
        .groupBy("split_k", "n")
        .agg(
            F.max(F.when(F.col("seg") == 0, F.col("n_days"))).alias(
                "n_before"
            ),
            F.max(F.when(F.col("seg") == 1, F.col("n_days"))).alias(
                "n_after"
            ),
            F.max(F.when(F.col("seg") == 0, F.col("slope"))).alias("sb"),
            F.max(F.when(F.col("seg") == 1, F.col("slope"))).alias("sa"),
            F.max(F.when(F.col("seg") == 1, F.col("icept"))).alias("ia"),
        )
    )
    return out.select(
        F.col("split_k").cast("bigint").alias("split_k"),
        "n_before",
        "n_after",
        F.round("sb", 4).alias("slope_before"),
        F.round("sa", 4).alias("slope_after"),
        F.round(F.col("ia") + F.col("sa") * (F.col("n") + 7), 2).alias(
            "forecast_day_plus7"
        ),
    )


ABC_A, ABC_B = 0.8, 0.95   # cumulative revenue share cuts
XYZ_X, XYZ_Y = 0.5, 1.0    # weekly-demand CV cuts


@register(
    "abc_xyz_inventory",
    sql=f"""
    WITH pr AS MATERIALIZED (
      SELECT l_partkey,
             round(sum(l_extendedprice), 2) AS rev,
             CAST(floor((CAST(l_shipdate AS DATE) - DATE '1990-01-01')
                        / 7.0) AS BIGINT) AS wk,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      GROUP BY l_partkey,
               CAST(floor((CAST(l_shipdate AS DATE) - DATE '1990-01-01')
                          / 7.0) AS BIGINT)
    ),
    per_part AS MATERIALIZED (
      SELECT l_partkey,
             round(sum(rev), 2) AS rev,
             round(avg(qty), 6) AS mean_wq,
             round(coalesce(stddev_samp(qty), 0.0), 6) AS sd_wq,
             CAST(count(*) AS BIGINT) AS n_weeks
      FROM pr GROUP BY l_partkey
    ),
    tot AS (SELECT round(sum(rev), 2) AS grand FROM per_part),
    ranked AS (
      SELECT p.*,
             round(sum(p.rev) OVER (ORDER BY p.rev DESC, p.l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / t.grand, 9) AS cum_share
      FROM per_part p CROSS JOIN tot t
    ),
    cls AS (
      SELECT l_partkey, rev, n_weeks,
             CASE WHEN cum_share <= {ABC_A} THEN 'A'
                  WHEN cum_share <= {ABC_B} THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN mean_wq <= 0 THEN 'Z'
                  WHEN sd_wq / mean_wq < {XYZ_X} THEN 'X'
                  WHEN sd_wq / mean_wq < {XYZ_Y} THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM ranked
    )
    SELECT abc, xyz,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(rev), 2) AS revenue,
           CAST(sum(n_weeks) AS BIGINT) AS part_weeks
    FROM cls GROUP BY abc, xyz
    """,
)
def abc_xyz_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R273 ABC/XYZ inventory classification — the supply-chain
    segmentation every demand planner starts from: ABC = cumulative
    revenue share (A: first {ABC_A:.0%}, B: to {ABC_B:.0%}, C: tail)
    over parts ranked by revenue, XYZ = weekly-demand coefficient of
    variation (X: steady < {XYZ_X}, Y: variable < {XYZ_Y}, Z:
    erratic). Output: the 9-cell class matrix with part counts and
    revenue — the artifact that routes A/X parts to tight forecasting
    and C/Z to make-to-order. Scale shape: one (part, week) aggregate,
    one per-part rollup, then the two-phase prefix_sum (range shuffle +
    O(P) offsets) for the ranked revenue share — no single-task global
    window anywhere; all moments cent-grid/integer with 6dp CV inputs."""
    from zoom_spark.operators.prefix import prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    wk = F.floor(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1990-01-01").cast("date")
        )
        / 7.0
    ).cast("bigint")
    pr = li.groupBy("l_partkey", wk.alias("wk")).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        F.sum("l_quantity").cast("bigint").alias("qty"),
    )
    per_part = pr.groupBy("l_partkey").agg(
        F.round(F.sum("rev"), 2).alias("rev"),
        F.round(F.avg("qty"), 6).alias("mean_wq"),
        F.round(F.coalesce(F.stddev_samp("qty"), F.lit(0.0)), 6).alias(
            "sd_wq"
        ),
        F.count("*").cast("bigint").alias("n_weeks"),
    )
    tot = per_part.agg(F.round(F.sum("rev"), 2).alias("grand"))
    # Two-phase prefix sum instead of an unpartitioned ranked window:
    # the part dimension grows with SF, so the single-task global
    # window is the one stage that would stop scaling. Cumulative sums
    # of 2dp prices are cent-grid exact in double, so the re-ordered
    # partial summation is bit-identical to the sequential window.
    cum = prefix_sum(
        per_part.withColumn("_negrev", -F.col("rev")),
        ["_negrev", "l_partkey"],
        "rev",
        out_col="_cum_rev",
    ).drop("_negrev")
    ranked = cum.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share",
        F.round(F.col("_cum_rev") / F.col("grand"), 9),
    )
    cls = ranked.select(
        "rev",
        "n_weeks",
        F.when(F.col("cum_share") <= ABC_A, "A")
        .when(F.col("cum_share") <= ABC_B, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("mean_wq") <= 0, "Z")
        .when(F.col("sd_wq") / F.col("mean_wq") < XYZ_X, "X")
        .when(F.col("sd_wq") / F.col("mean_wq") < XYZ_Y, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return cls.groupBy("abc", "xyz").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("rev"), 2).alias("revenue"),
        F.sum("n_weeks").cast("bigint").alias("part_weeks"),
    )


SA_ROUNDS = 10   # prefix-doubling rounds: covers doc lengths up to 2^10
SA_TOP = 100     # emit the SA_TOP lexicographically smallest suffixes


def _suffix_array_oracle_sql(rounds: int = SA_ROUNDS) -> str:
    """Unrolled prefix-doubling replay: r_{k} = dense_rank of
    (r_{k/2}[i], r_{k/2}[i + k/2] or 0) — integer ranks end-to-end,
    idempotent once all distinguishable suffixes have distinct ranks
    (exact-clone docs keep tied ranks, identically on both engines)."""
    head = r"""tok AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos, w
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> '') AS ts
        FROM documents
      ), LATERAL (
        SELECT unnest(generate_series(1, len(ts))) AS i) g,
      LATERAL (SELECT ts[i] AS w) w
    ),
    r0 AS MATERIALIZED (
      SELECT doc_id, pos, dense_rank() OVER (ORDER BY w) AS r
      FROM tok
    )"""
    parts = [head]
    k = 1
    for step in range(1, rounds + 1):
        parts.append(
            f"""r{step} AS MATERIALIZED (
      SELECT a.doc_id, a.pos,
             dense_rank() OVER (ORDER BY a.r, coalesce(b.r, 0)) AS r
      FROM r{step-1} a
      LEFT JOIN r{step-1} b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + {k}
    )"""
        )
        k *= 2
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    prev AS (
      SELECT s.r AS sa_rank, s.doc_id, s.pos,
             (SELECT string_agg(t.w, ' ' ORDER BY t.pos)
              FROM tok t
              WHERE t.doc_id = s.doc_id
                AND t.pos BETWEEN s.pos AND s.pos + 2) AS preview
      FROM r{rounds} s WHERE s.r <= {SA_TOP}
    )
    SELECT CAST(sa_rank AS BIGINT) AS sa_rank, doc_id,
           CAST(pos AS BIGINT) AS pos, preview
    FROM prev"""
    )


@register("suffix_array_corpus", sql=_suffix_array_oracle_sql())
def suffix_array_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R274 distributed suffix array over the token corpus by prefix
    doubling (Manber-Myers re-expressed relationally): round k ranks
    every suffix by the pair (rank of its first 2^(k-1) tokens, rank
    of the next 2^(k-1)) — {SA_ROUNDS} rounds cover any doc below
    2^{SA_ROUNDS} tokens, after which ranks are the suffix array
    (exact-clone docs keep tied ranks, deterministically). This is
    the exact-substring-dedup index (Lee et al. 2022 deduplicate
    entire repeated spans with it) built with NO single-task sort:
    each round's dense rank comes from global_dense_rank over the
    pair frame itself (operators/prefix.py two-phase flag scan), and
    the pair lookup is lead(r, k) over the bounded per-doc position
    window, so every round is one hash + one range shuffle. Output: the
    {SA_TOP} lexicographically smallest suffixes with a 3-token
    preview."""
    from pyspark.sql import Window

    from zoom_spark.functions.text import ws_tokens
    from zoom_spark.operators.prefix import (
        global_dense_rank,
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r13 measured and REJECTED: spreading the scan before the
    # tokenize (A/B interleaved same-JVM: 17.8 spread vs 16.7 s
    # nospread) — whitespace tokenize is cheap next to the doubling
    # rounds, each of which range-repartitions anyway, so the extra
    # exchange only adds a token-frame shuffle.
    tok = (
        docs.select(
            "doc_id", F.posexplode(ws_tokens(F.lower("text"))).alias("pos", "w")
        )
        .localCheckpoint(eager=False)
    )
    # r0: rank of the token itself = row number over the DISTINCT
    # vocabulary (map-side partial distinct shrinks the exchange to
    # vocabulary size), broadcast-joined back — the join-back side is
    # vocabulary-sized and the count riding the offsets collect gates
    # the broadcast for free (fails closed past the sizing budget).
    # n_classes accumulates the class counts (free: they ride the
    # offsets collects) for the Manber-Myers early exit below; the
    # oracle's fixed-round replay reaches the identical fixpoint
    # because post-stability rounds are provably no-ops.
    from zoom_spark.operators.sizing import broadcaster

    n_classes: list = []
    vocab = global_row_number(
        tok.select("w").distinct(), ["w"], out_col="r",
        count_out=n_classes,
    )
    vocab = broadcaster(n_classes[-1], 24)(vocab)  # (w, r)
    cur = tok.join(vocab, on="w").select("doc_id", "pos", "r")
    # rounds beyond ceil(log2(longest doc)) are no-ops (every suffix
    # pair already distinguishable), so run only the binding ones —
    # the oracle's fixed SA_ROUNDS replay reaches the identical
    # fixpoint. One cheap max() action prunes ~3 of 10 rounds.
    import math

    max_len = tok.agg(F.max("pos").alias("m")).first()["m"] + 1
    rounds = min(SA_ROUNDS, max(1, math.ceil(math.log2(max(2, max_len)))))
    k = 1
    # Positions are CONTIGUOUS 0..len-1 per doc (posexplode of the
    # token array), so "the rank at pos + k" is exactly lead(r, k)
    # over (doc_id, pos) — one hash shuffle per round instead of the
    # former positional self-join (which shuffled BOTH join legs).
    # Per-doc window partitions are bounded by the SA_ROUNDS contract
    # (docs < 2^SA_ROUNDS tokens), so no window task can be huge at
    # any scale.
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    # Doubling rounds alternate two FORMS of the same refinement (r14):
    #
    #  * MAP-COMBINE: when every current rank value is <= a driver-
    #    tracked bound M with (M+1)^2 small enough for BIGINT, the pair
    #    (r, r2) is packed as r*(M+1) + r2 — ORDER-ISOMORPHIC to the
    #    dense pair rank (r2 <= M by construction), so later rounds see
    #    the identical refinement. This is a pure lazy projection: no
    #    sampling job, no range shuffle, no collect — consecutive map
    #    rounds chain into ONE plan whose lead() windows share the
    #    doc_id hash partitioning (a single exchange + sort).
    #
    #  * COMPRESS: a dense re-rank via global_dense_rank (one range
    #    shuffle + the O(P) offsets collect), which restores small
    #    dense values (and the exact class count for the fixpoint
    #    test). Forced on the FINAL round — the output contract reads
    #    dense ranks (r <= SA_TOP).
    #
    # At billion-class scale the map bound fails closed (M exceeds the
    # packable range) and every round compresses — exactly the r13
    # behavior. Class counts are monotone non-decreasing across
    # doublings, so comparing consecutive COMPRESS counts still
    # detects the Manber-Myers fixpoint exactly (see below).
    #
    # Manber-Myers fixpoint: if a doubling produces NO new rank
    # classes (#distinct (r, r2) pairs == #distinct r), every class
    # is stable — each old class maps to exactly one pair, so the
    # dense re-rank is the identity, and by induction (members of
    # a stable class have pairwise-tied ranks at offset 2^(k-1),
    # whose classes are themselves stable) every later doubling is
    # a no-op too. With map rounds in between, the counts of two
    # consecutive compress rounds straddle the map rounds; equality
    # plus monotonicity forces every intermediate count equal, so the
    # exit remains exact (it can only fire LATER than the per-round
    # test, never earlier, and post-stability rounds are no-ops).
    # The compress adopted just before exiting is an identity re-rank,
    # so breaking after adoption is value-identical.
    PACK_MAX = (1 << 62) // 2  # (M+1)^2 - 1 must stay well inside BIGINT
    bound = n_classes[-1]
    last_classes = n_classes[-1]
    for i in range(rounds):
        r2 = F.coalesce(
            F.lead("r", k).over(wdoc), F.lit(0).cast("bigint")
        )
        is_final = i == rounds - 1
        if not is_final and (bound + 1) * (bound + 1) - 1 <= PACK_MAX:
            cur = cur.select(
                "doc_id",
                "pos",
                (F.col("r").cast("bigint") * F.lit(bound + 1) + r2).alias(
                    "r"
                ),
            )
            bound = (bound + 1) * (bound + 1) - 1
        else:
            paired = cur.select("doc_id", "pos", "r", r2.alias("r2"))
            ranked = global_dense_rank(
                paired, ["r", "r2"], out_col="nr", count_out=n_classes
            )
            cur = ranked.select(
                "doc_id", "pos", F.col("nr").alias("r")
            ).localCheckpoint(eager=False)
            bound = n_classes[-1]
            if n_classes[-1] == last_classes:
                break
            last_classes = n_classes[-1]
        k *= 2
    top = cur.where(F.col("r") <= SA_TOP)
    prev = (
        top.join(
            tok.select(
                F.col("doc_id").alias("td"),
                F.col("pos").alias("tp"),
                "w",
            ),
            (F.col("doc_id") == F.col("td"))
            & (F.col("tp") >= F.col("pos"))
            & (F.col("tp") <= F.col("pos") + 2),
        )
        .groupBy("r", "doc_id", "pos")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("preview")
        )
    )
    return prev.select(
        F.col("r").cast("bigint").alias("sa_rank"),
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "preview",
    )


@register(
    "token_stats_by_lang",
    sql=r"""
    WITH t AS (
      SELECT lang,
             CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                     '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens * 1.0), 4) AS avg_tokens_per_doc,
           round(sum(n_chars) * 1.0 / sum(n_tokens), 6)
             AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R275 tokenizer fertility by language: chars-per-token and
    tokens-per-doc per language bucket — the corpus card row a
    multilingual pipeline reads before setting per-language token
    budgets (a language whose chars/token runs high pays more
    sequence length per information unit; the BPE analog is the
    rows-gated bpe_token_counts). One map-side expression + one
    aggregate; exact integer counts."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(ws_tokens(F.lower("text"))).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg(F.col("n_tokens") * 1.0), 4).alias(
            "avg_tokens_per_doc"
        ),
        F.round(
            F.sum("n_chars") * 1.0 / F.sum("n_tokens"), 6
        ).alias("chars_per_token"),
    )


@register(
    "competing_risks_cif",
    sql="""
    WITH per_user AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS first_day,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS p_day,
             min(CASE WHEN event_type = 'error'
                      THEN CAST(ts AS DATE) END) AS e_day
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
    spells AS (
      SELECT CASE
               WHEN p.p_day IS NOT NULL
                    AND (p.e_day IS NULL OR p.p_day <= p.e_day)
               THEN CAST(p.p_day - p.first_day AS BIGINT)
               WHEN p.e_day IS NOT NULL
               THEN CAST(p.e_day - p.first_day AS BIGINT)
               ELSE CAST(hz.h - p.first_day AS BIGINT) END AS t,
             CASE
               WHEN p.p_day IS NOT NULL
                    AND (p.e_day IS NULL OR p.p_day <= p.e_day) THEN 1
               WHEN p.e_day IS NOT NULL THEN 2
               ELSE 0 END AS cause
      FROM per_user p CROSS JOIN horizon hz
    ),
    at_t AS (
      SELECT t,
             CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS d2,
             CAST(count(*) AS BIGINT) AS leaving
      FROM spells GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d2,
             CAST(sum(leaving) OVER (ORDER BY t DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS n_risk
      FROM at_t
    ),
    km AS (
      SELECT t, d1, d2, n_risk,
             coalesce(exp(sum(CASE WHEN d1 + d2 < n_risk
                  THEN ln(1.0 - (d1 + d2) * 1.0 / n_risk) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)), 1.0) AS s_minus
      FROM risk WHERE d1 + d2 > 0
    )
    SELECT t AS day, n_risk, d1 AS d_purchase, d2 AS d_error,
           round(sum(s_minus * d1 / n_risk)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS cif_purchase,
           round(sum(s_minus * d2 / n_risk)
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS cif_error
    FROM km
    """,
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R276 Aalen-Johansen cumulative incidence under competing risks:
    first purchase vs first error (whichever strikes first ends the
    spell; ties go to purchase), censored at the horizon. CIF_k(t) =
    sum S(t-) d_k/n where S is the KM of the COMBINED event process —
    the estimator that 1-KM famously overstates when a competing
    event removes users from risk. Same calendar-bounded day-frame
    recipe as the KM/Nelson-Aalen gates: exact integer risk counts,
    exp-sum-ln running product (lagged one event time for S(t-)),
    6dp rounded CIFs. Identity CIF_1 + CIF_2 <= 1 referee-checked."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts").cast("date")
            )
        ).alias("p_day"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts").cast("date"))
        ).alias("e_day"),
    )
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("h"))
    p_first = F.col("p_day").isNotNull() & (
        F.col("e_day").isNull() | (F.col("p_day") <= F.col("e_day"))
    )
    spells = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(p_first, F.datediff("p_day", "first_day"))
        .when(F.col("e_day").isNotNull(), F.datediff("e_day", "first_day"))
        .otherwise(F.datediff("h", "first_day"))
        .cast("bigint")
        .alias("t"),
        F.when(p_first, 1)
        .when(F.col("e_day").isNotNull(), 2)
        .otherwise(0)
        .alias("cause"),
    )
    from pyspark.sql import Window

    at_t = spells.groupBy("t").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = at_t.withColumn(
        "n_risk", F.sum("leaving").over(w_desc).cast("bigint")
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    d_all = F.col("d1") + F.col("d2")
    km = risk.where(d_all > 0).withColumn(
        "s_minus",
        F.coalesce(
            F.exp(
                F.sum(
                    F.when(
                        d_all < F.col("n_risk"),
                        F.log(1.0 - d_all * 1.0 / F.col("n_risk")),
                    )
                ).over(w_prev)
            ),
            F.lit(1.0),
        ),
    )
    return km.select(
        F.col("t").alias("day"),
        "n_risk",
        F.col("d1").alias("d_purchase"),
        F.col("d2").alias("d_error"),
        F.round(
            F.sum(F.col("s_minus") * F.col("d1") / F.col("n_risk")).over(
                w_cum
            ),
            6,
        ).alias("cif_purchase"),
        F.round(
            F.sum(F.col("s_minus") * F.col("d2") / F.col("n_risk")).over(
                w_cum
            ),
            6,
        ).alias("cif_error"),
    )


OLS_DIAG_TOPK = 10


@register(
    "ols_influence_diagnostics",
    sql=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS k
      FROM orders GROUP BY 1
    ),
    fit AS (
      SELECT round(regr_slope(rev, k), 9) AS b,
             round(regr_intercept(rev, k), 9) AS a,
             CAST(count(*) AS BIGINT) AS n,
             avg(k * 1.0) AS kbar,
             sum(k * k * 1.0) - pow(sum(k * 1.0), 2) / count(*) AS skk
      FROM daily
    ),
    res AS (
      SELECT d.day, d.k, d.rev,
             d.rev - (f.a + f.b * d.k) AS e,
             1.0 / f.n + pow(d.k - f.kbar, 2) / f.skk AS h,
             f.n
      FROM daily d CROSS JOIN fit f
    ),
    s2 AS (
      SELECT sum(e * e) / (max(n) - 2.0) AS s2 FROM res
    ),
    scored AS (
      SELECT day, k, rev,
             round(e, 2) AS residual,
             round(h, 9) AS leverage,
             round(pow(e / sqrt((SELECT s2 FROM s2) * (1 - h)), 2)
                   * h / (2.0 * (1 - h)), 9) AS cooks_d
      FROM res
    )
    SELECT day, CAST(k AS BIGINT) AS k, rev, residual, leverage, cooks_d
    FROM scored ORDER BY cooks_d DESC, day LIMIT {OLS_DIAG_TOPK}
    """,
)
def ols_influence_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R277 OLS influence diagnostics for the daily-revenue trend fit:
    leverage h = 1/n + (k-kbar)^2/Skk, studentized residuals, and
    Cook's distance D = r^2 h / (p(1-h)) — the which-days-drive-the-
    fit audit behind every regression-based trend/forecast op in the
    repo (a quarter-end spike with high D means the slope is one
    outlier's opinion). Engine parity via the EM/pagerank schedule:
    the fitted (a, b) snap to 9dp BEFORE the residual pass, k moments
    are exact integers, day revenue is cent-grid — so residuals,
    leverages and D agree bitwise; top-{OLS_DIAG_TOPK} by (D, day)."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev")).select(
        "day",
        "rev",
        F.row_number().over(Window.orderBy("day")).alias("k"),
    ).localCheckpoint(eager=False)
    fit = daily.agg(
        F.round(F.regr_slope("rev", "k"), 9).alias("b"),
        F.round(F.regr_intercept("rev", "k"), 9).alias("a"),
        F.count("*").cast("bigint").alias("n"),
        F.avg(F.col("k") * 1.0).alias("kbar"),
        (
            F.sum(F.col("k") * F.col("k") * 1.0)
            - F.pow(F.sum(F.col("k") * 1.0), 2) / F.count("*")
        ).alias("skk"),
    )
    res = daily.crossJoin(F.broadcast(fit)).select(
        "day",
        "k",
        "rev",
        (F.col("rev") - (F.col("a") + F.col("b") * F.col("k"))).alias("e"),
        (
            1.0 / F.col("n")
            + F.pow(F.col("k") - F.col("kbar"), 2) / F.col("skk")
        ).alias("h"),
        "n",
    ).localCheckpoint(eager=False)
    s2 = res.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.max("n") - 2.0)).alias("s2")
    )
    scored = res.crossJoin(F.broadcast(s2)).select(
        "day",
        "k",
        "rev",
        F.round("e", 2).alias("residual"),
        F.round("h", 9).alias("leverage"),
        F.round(
            F.pow(
                F.col("e") / F.sqrt(F.col("s2") * (1 - F.col("h"))), 2
            )
            * F.col("h")
            / (2.0 * (1 - F.col("h"))),
            9,
        ).alias("cooks_d"),
    )
    return (
        scored.orderBy(F.col("cooks_d").desc(), "day")
        .limit(OLS_DIAG_TOPK)
        .select(
            "day", F.col("k").cast("bigint").alias("k"), "rev",
            "residual", "leverage", "cooks_d",
        )
    )


BASS_NSCALE = 1000.0  # cumulative-adopter scaling keeps moment sums small


@register(
    "bass_diffusion_fit",
    sql=f"""
    WITH firsts AS (
      SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS d0
      FROM orders GROUP BY o_custkey
    ),
    daily AS MATERIALIZED (
      SELECT d0 AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY d0
    ),
    series AS MATERIALIZED (
      SELECT day, n_new * 1.0 AS y,
             coalesce(sum(n_new) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {BASS_NSCALE} AS x
      FROM daily
    ),
    m AS (
      SELECT round(count(*) * 1.0, 9) AS s0,
             round(sum(x), 9) AS s1, round(sum(x * x), 9) AS s2,
             round(sum(x * x * x), 9) AS s3,
             round(sum(x * x * x * x), 9) AS s4,
             round(sum(y), 9) AS t0, round(sum(x * y), 9) AS t1,
             round(sum(x * x * y), 9) AS t2
      FROM series
    ),
    solve AS (
      SELECT
        (s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
         + s2 * (s1 * s3 - s2 * s2)) AS det,
        (t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
         + s2 * (t1 * s3 - t2 * s2)) AS det0,
        (s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
         + s2 * (s1 * t2 - s2 * t1)) AS det1,
        (s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
         + t0 * (s1 * s3 - s2 * s2)) AS det2
      FROM m
    ),
    beta AS (
      SELECT round(det0 / det, 9) AS b0,
             round(det1 / det, 9) AS b1,
             round(det2 / det, 9) AS b2
      FROM solve
    )
    SELECT round(b0, 6) AS beta0,
           round(b1, 6) AS beta1,
           round(b2, 6) AS beta2,
           round((-b1 - sqrt(b1 * b1 - 4 * b0 * b2)) / (2 * b2)
                 * {BASS_NSCALE}, 2) AS market_size_m,
           round(b0 / ((-b1 - sqrt(b1 * b1 - 4 * b0 * b2)) / (2 * b2))
                 / {BASS_NSCALE}, 6) AS p_innovation,
           round(b1 / {BASS_NSCALE}
                 + b0 / ((-b1 - sqrt(b1 * b1 - 4 * b0 * b2)) / (2 * b2))
                   / {BASS_NSCALE}, 6) AS q_imitation
    FROM beta
    """,
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R278 Bass diffusion model fit for customer adoption: daily new
    adopters n_t regressed on cumulative adopters N and N^2 (the
    discrete Bass identity n = pM + (q-p)N - (q/M)N^2, Bass 1969 /
    Mahajan's OLS estimation), solved by Cramer's rule on the 3x3
    normal equations. Engine parity: N is scaled by 1/{BASS_NSCALE}
    so the quartic moment sums stay far below 2^53, every moment and
    the solved betas snap to 9dp on both engines before the
    market-size root M = (-b1 - sqrt(b1^2 - 4 b0 b2)) / (2 b2) and
    the innovation coefficient p = b0/M. One window over the
    calendar-bounded adopter-day frame + one aggregate + scalar
    algebra."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0")
    )
    daily = firsts.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    series = daily.select(
        (F.col("n_new") * 1.0).alias("y"),
        (
            F.coalesce(F.sum("n_new").over(w), F.lit(0)) / BASS_NSCALE
        ).alias("x"),
    )
    x, y = F.col("x"), F.col("y")
    m = series.agg(
        F.round(F.count("*") * 1.0, 9).alias("s0"),
        F.round(F.sum(x), 9).alias("s1"),
        F.round(F.sum(x * x), 9).alias("s2"),
        F.round(F.sum(x * x * x), 9).alias("s3"),
        F.round(F.sum(x * x * x * x), 9).alias("s4"),
        F.round(F.sum(y), 9).alias("t0"),
        F.round(F.sum(x * y), 9).alias("t1"),
        F.round(F.sum(x * x * y), 9).alias("t2"),
    )
    s0, s1, s2, s3, s4 = (F.col(c) for c in ("s0", "s1", "s2", "s3", "s4"))
    t0, t1, t2 = (F.col(c) for c in ("t0", "t1", "t2"))
    det = (
        s0 * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * s3 - s2 * s2)
    )
    det0 = (
        t0 * (s2 * s4 - s3 * s3)
        - s1 * (t1 * s4 - t2 * s3)
        + s2 * (t1 * s3 - t2 * s2)
    )
    det1 = (
        s0 * (t1 * s4 - t2 * s3)
        - t0 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * t2 - s2 * t1)
    )
    det2 = (
        s0 * (s2 * t2 - s3 * t1)
        - s1 * (s1 * t2 - s2 * t1)
        + t0 * (s1 * s3 - s2 * s2)
    )
    beta = m.select(
        F.round(det0 / det, 9).alias("b0"),
        F.round(det1 / det, 9).alias("b1"),
        F.round(det2 / det, 9).alias("b2"),
    )
    b0, b1, b2 = F.col("b0"), F.col("b1"), F.col("b2")
    m_root = (-b1 - F.sqrt(b1 * b1 - 4 * b0 * b2)) / (2 * b2)
    return beta.select(
        F.round(b0, 6).alias("beta0"),
        F.round(b1, 6).alias("beta1"),
        F.round(b2, 6).alias("beta2"),
        F.round(m_root * BASS_NSCALE, 2).alias("market_size_m"),
        F.round(b0 / m_root / BASS_NSCALE, 6).alias("p_innovation"),
        F.round(
            b1 / BASS_NSCALE + b0 / m_root / BASS_NSCALE, 6
        ).alias("q_imitation"),
    )


@register(
    "lang_id_confusion_matrix",
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
    ),
    pred AS (
      SELECT lang AS true_lang,
             CASE
               WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0
                 THEN 'und'
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es'
             END AS pred_lang
      FROM scores
    ),
    cm AS (
      SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    marg AS (
      SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true FROM cm GROUP BY 1
    )
    SELECT c.true_lang, c.pred_lang, c.n,
           round(c.n * 1.0 / m.n_true, 6) AS recall_share,
           (c.true_lang = c.pred_lang) AS is_correct
    FROM cm c JOIN marg m ON c.true_lang = m.true_lang
    """,
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R279 confusion matrix for the lang_id heuristic against the
    gold `lang` labels: per (true, predicted) cell the count and its
    share of the true-language row (per-class recall on the diagonal)
    — the evaluation artifact that turns the classifier gate into a
    measured quality report (which languages leak into 'und', which
    marker sets collide). Reuses the exact lang_guess scoring
    (functions/text.py); two hash aggregates + a broadcast marginal
    join."""
    from zoom_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        T.lang_guess("text").alias("pred_lang"),
    )
    cm = pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    marg = cm.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    return cm.join(F.broadcast(marg), on="true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") * 1.0 / F.col("n_true"), 6).alias(
            "recall_share"
        ),
        (F.col("true_lang") == F.col("pred_lang")).alias("is_correct"),
    )


@register(
    "negative_binomial_fit_events",
    sql="""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             round(avg(n_events * 1.0), 6) AS mu,
             round(var_samp(n_events * 1.0), 6) AS v
      FROM per_user
    )
    SELECT n_users, mu, v,
           round(v / mu, 6) AS dispersion_index,
           CASE WHEN v > mu
                THEN round(mu * mu / (v - mu), 6) END AS nb_r,
           CASE WHEN v > mu THEN round(mu / v, 6) END AS nb_p
    FROM m
    """,
)
def negative_binomial_fit_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R280 negative-binomial method-of-moments fit for events per
    user: r = mu^2/(v - mu), p = mu/v — the overdispersed-count model
    a Poisson assumption silently fails (overdispersion_daily_events
    reports THAT the variance exceeds the mean; this op fits WHAT
    distribution matches, the input to per-user volume simulation and
    rate limiting). Guarded NULL when v <= mu (Poisson or under-
    dispersed — NB undefined). One user-level aggregate, moments
    rounded 6dp before the closed forms."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    m = per.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg(F.col("n_events") * 1.0), 6).alias("mu"),
        F.round(F.var_samp(F.col("n_events") * 1.0), 6).alias("v"),
    )
    mu, v = F.col("mu"), F.col("v")
    return m.select(
        "n_users",
        "mu",
        "v",
        F.round(v / mu, 6).alias("dispersion_index"),
        F.when(v > mu, F.round(mu * mu / (v - mu), 6)).alias("nb_r"),
        F.when(v > mu, F.round(mu / v, 6)).alias("nb_p"),
    )


@register(
    "atkinson_index_spend",
    sql="""
    WITH per_cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      FROM orders GROUP BY o_custkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             round(avg(spend), 6) AS mu,
             round(avg(sqrt(spend)), 9) AS mean_sqrt,
             round(exp(avg(ln(spend))), 6) AS geo_mean
      FROM per_cust
    )
    SELECT n AS n_customers, mu AS mean_spend,
           round(1.0 - (mean_sqrt * mean_sqrt) / mu, 6) AS atkinson_05,
           round(1.0 - geo_mean / mu, 6) AS atkinson_10
    FROM m
    """,
)
def atkinson_index_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R281 Atkinson inequality index of customer spend at inequality
    aversion eps = 0.5 (A = 1 - (mean sqrt x)^2 / mean) and eps = 1
    (A = 1 - geometric mean / mean) — the welfare-grounded companion
    to gini_customer_spend/theil_index_spend: A is the share of total
    spend society would give up for equality at that aversion. Both
    are single decomposable aggregates (sqrt/ln map-side); the
    ln/sqrt arguments are cent-grid spends so both engines feed
    identical doubles, moments rounded before the closed form."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    m = per.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("spend"), 6).alias("mu"),
        F.round(F.avg(F.sqrt("spend")), 9).alias("mean_sqrt"),
        F.round(F.exp(F.avg(F.log("spend"))), 6).alias("geo_mean"),
    )
    return m.select(
        F.col("n").alias("n_customers"),
        F.col("mu").alias("mean_spend"),
        F.round(
            1.0 - (F.col("mean_sqrt") * F.col("mean_sqrt")) / F.col("mu"), 6
        ).alias("atkinson_05"),
        F.round(1.0 - F.col("geo_mean") / F.col("mu"), 6).alias(
            "atkinson_10"
        ),
    )


HURST_WINDOWS = (8, 16, 32, 64)


@register(
    "hurst_exponent_revenue",
    sql=f"""
    WITH daily AS MATERIALIZED (
      SELECT round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) - 1
               AS k
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    grid AS (
      SELECT unnest(ARRAY[{", ".join(str(w) for w in HURST_WINDOWS)}]) AS w
    ),
    blocks AS MATERIALIZED (
      SELECT g.w, CAST(floor(d.k / g.w) AS BIGINT) AS blk, d.k, d.rev
      FROM daily d CROSS JOIN grid g
      WHERE d.k < CAST(floor((SELECT n FROM n) * 1.0 / g.w) AS BIGINT) * g.w
    ),
    bm AS MATERIALIZED (
      SELECT w, blk, round(avg(rev), 9) AS m,
             round(sqrt(avg(rev * rev) - avg(rev) * avg(rev)), 9) AS s
      FROM blocks GROUP BY w, blk
    ),
    cum AS (
      SELECT b.w, b.blk,
             sum(b.rev - bm.m) OVER (PARTITION BY b.w, b.blk ORDER BY b.k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd,
             bm.s
      FROM blocks b JOIN bm ON bm.w = b.w AND bm.blk = b.blk
    ),
    rs AS (
      SELECT w, blk,
             round((max(cd) - least(min(cd), 0.0)) / max(s), 9) AS rs
      FROM cum GROUP BY w, blk HAVING max(s) > 0
    ),
    per_w AS (
      SELECT w, round(avg(rs), 9) AS mean_rs,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM rs GROUP BY w
    ),
    fit AS (
      SELECT regr_slope(ln(mean_rs), ln(w * 1.0)) AS hurst,
             regr_intercept(ln(mean_rs), ln(w * 1.0)) AS icept
      FROM per_w
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_w) AS n_windows,
           round((SELECT hurst FROM fit), 6) AS hurst,
           round((SELECT icept FROM fit), 6) AS log_intercept
    """,
)
def hurst_exponent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R282 Hurst exponent of daily revenue by rescaled-range (R/S)
    analysis: for window sizes {HURST_WINDOWS}, split the day series
    into complete blocks, compute each block's range of cumulative
    mean-deviations over its std, average per window size, and fit
    ln(R/S) ~ H ln(w) — H > 0.5 means long-memory persistence (shocks
    echo for weeks, so i.i.d. bootstrap CIs understate variance),
    H < 0.5 mean reversion. Complements the ACF/PACF short-lag view
    with the scaling view. Everything runs on the calendar-bounded
    day frame x 4 window sizes; block moments snap to 9dp so both
    engines window identical deviations; R uses max(cd) - min(cd, 0)
    (the 0-anchored classical form)."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "rev",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("k"),
    ).localCheckpoint(eager=False)
    n = daily.count()
    grid = local_frame(
        spark,
        [(w,) for w in HURST_WINDOWS], "w int"
    )
    blocks = (
        daily.crossJoin(F.broadcast(grid))
        .where(F.col("k") < F.floor(n / F.col("w")) * F.col("w"))
        .select(
            "w",
            F.floor(F.col("k") / F.col("w")).cast("bigint").alias("blk"),
            "k",
            "rev",
        )
        .localCheckpoint(eager=False)
    )
    bm = blocks.groupBy("w", "blk").agg(
        F.round(F.avg("rev"), 9).alias("m"),
        F.round(
            F.sqrt(
                F.avg(F.col("rev") * F.col("rev"))
                - F.avg("rev") * F.avg("rev")
            ),
            9,
        ).alias("s"),
    )
    wcum = (
        Window.partitionBy("w", "blk")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = blocks.join(bm, on=["w", "blk"]).withColumn(
        "cd", F.sum(F.col("rev") - F.col("m")).over(wcum)
    )
    rs = (
        cum.groupBy("w", "blk")
        .agg(
            F.max("cd").alias("mx"),
            F.min("cd").alias("mn"),
            F.max("s").alias("s"),
        )
        .where(F.col("s") > 0)
        .select(
            "w",
            F.round(
                (F.col("mx") - F.least(F.col("mn"), F.lit(0.0)))
                / F.col("s"),
                9,
            ).alias("rs"),
        )
    )
    per_w = rs.groupBy("w").agg(
        F.round(F.avg("rs"), 9).alias("mean_rs"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    fit = per_w.agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.round(
            F.regr_slope(F.log("mean_rs"), F.log(F.col("w") * 1.0)), 6
        ).alias("hurst"),
        F.round(
            F.regr_intercept(F.log("mean_rs"), F.log(F.col("w") * 1.0)), 6
        ).alias("log_intercept"),
    )
    return fit.select("n_windows", "hurst", "log_intercept")


@register(
    "taylors_law_demand",
    sql="""
    WITH pw AS (
      SELECT l_partkey,
             CAST(floor((CAST(l_shipdate AS DATE) - DATE '1990-01-01')
                        / 7.0) AS BIGINT) AS wk,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             round(avg(qty * 1.0), 9) AS m,
             round(var_samp(qty * 1.0), 9) AS v,
             CAST(count(*) AS BIGINT) AS n_weeks
      FROM pw GROUP BY l_partkey HAVING count(*) >= 8
    ),
    pts AS (
      SELECT ln(m) AS lx, ln(v) AS ly FROM per_part WHERE m > 0 AND v > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           round(regr_slope(ly, lx), 6) AS taylor_b,
           round(regr_intercept(ly, lx), 6) AS taylor_ln_a,
           round(regr_r2(ly, lx), 6) AS r2
    FROM pts
    """,
)
def taylors_law_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R283 Taylor's power law for part demand: variance ~ a * mean^b
    across parts' weekly order quantities — the mean-variance scaling
    exponent (b = 1: Poisson-like; b -> 2: clumped/bursty demand)
    that calibrates safety-stock formulas and synthetic-demand
    generators; the cross-sectional companion to abc_xyz_inventory's
    per-part CV. Per-part weekly moments snap to 9dp, the ln-ln OLS
    runs on the part-dimension frame via the shared regr_*
    aggregates; parts with under 8 observed weeks drop (variance too
    noisy to place)."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = F.floor(
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        / 7.0
    ).cast("bigint")
    pw = li.groupBy("l_partkey", wk.alias("wk")).agg(
        F.sum("l_quantity").cast("bigint").alias("qty")
    )
    per = (
        pw.groupBy("l_partkey")
        .agg(
            F.round(F.avg(F.col("qty") * 1.0), 9).alias("m"),
            F.round(F.var_samp(F.col("qty") * 1.0), 9).alias("v"),
            F.count("*").alias("n_weeks"),
        )
        .where(F.col("n_weeks") >= 8)
    )
    pts = per.where((F.col("m") > 0) & (F.col("v") > 0)).select(
        F.log("m").alias("lx"), F.log("v").alias("ly")
    )
    return pts.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.regr_slope("ly", "lx"), 6).alias("taylor_b"),
        F.round(F.regr_intercept("ly", "lx"), 6).alias("taylor_ln_a"),
        F.round(F.regr_r2("ly", "lx"), 6).alias("r2"),
    )


HILL_K = 100  # tail order statistics used by the Hill estimator


@register(
    "hill_tail_index_spend",
    sql=f"""
    WITH per_cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      FROM orders GROUP BY o_custkey
    ),
    topk AS (
      SELECT spend,
             row_number() OVER (ORDER BY spend DESC, o_custkey) AS r
      FROM per_cust QUALIFY r <= {HILL_K} + 1
    ),
    xk AS (SELECT spend AS x_k FROM topk WHERE r = {HILL_K} + 1)
    SELECT CAST({HILL_K} AS BIGINT) AS k,
           round((SELECT x_k FROM xk), 2) AS threshold_spend,
           round(avg(ln(spend / (SELECT x_k FROM xk))), 6) AS hill_gamma,
           round(1.0 / avg(ln(spend / (SELECT x_k FROM xk))), 6)
             AS tail_alpha
    FROM topk WHERE r <= {HILL_K}
    """,
)
def hill_tail_index_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R284 Hill estimator of the spend tail index: gamma = mean of
    ln(x_(i)/x_(k+1)) over the top-k order statistics, alpha = 1/gamma
    — the standard heavy-tail measurement (alpha < 2: infinite
    variance, sample means are unstable; the quantitative justifier
    for median_of_means and winsorized estimators). Top-(k+1)
    selection is a TakeOrdered pass (no global sort); the threshold
    x_(k+1) broadcasts as a 1-row scalar; ln arguments are ratios of
    cent-grid values so both engines agree."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend")
    )
    # deterministic tie-break on the customer key: ties at the k-th
    # boundary would otherwise make top-k membership engine-dependent
    topk = (
        per.orderBy(F.col("spend").desc(), "o_custkey")
        .limit(HILL_K + 1)
        .select(
            "spend",
            F.row_number()
            .over(Window.orderBy(F.col("spend").desc(), "o_custkey"))
            .alias("r"),
        )
        .localCheckpoint(eager=False)
    )
    xk = topk.where(F.col("r") == HILL_K + 1).select(
        F.col("spend").alias("x_k")
    )
    gamma = F.avg(F.log(F.col("spend") / F.col("x_k")))
    return (
        topk.where(F.col("r") <= HILL_K)
        .crossJoin(F.broadcast(xk))
        .agg(
            F.lit(HILL_K).cast("bigint").alias("k"),
            F.round(F.first("x_k"), 2).alias("threshold_spend"),
            F.round(gamma, 6).alias("hill_gamma"),
            F.round(1.0 / gamma, 6).alias("tail_alpha"),
        )
    )


PGRAM_PERIODS = (7, 14, 30, 91, 365)


@register(
    "periodogram_fixed_bins",
    sql=f"""
    WITH daily AS MATERIALIZED (
      SELECT round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) - 1
               AS t
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    mu AS (SELECT round(avg(rev), 6) AS m,
                  CAST(count(*) AS BIGINT) AS n FROM daily),
    grid AS (
      SELECT unnest(ARRAY[{", ".join(str(p) for p in PGRAM_PERIODS)}])
        AS period
    ),
    terms AS (
      SELECT g.period,
             sum((d.rev - mu.m) * cos(2 * pi() * d.t / g.period)) AS c,
             sum((d.rev - mu.m) * sin(2 * pi() * d.t / g.period)) AS s,
             max(mu.n) AS n
      FROM daily d CROSS JOIN grid g CROSS JOIN mu
      GROUP BY g.period
    )
    SELECT CAST(period AS BIGINT) AS period,
           round((c * c + s * s) / n / 1000000.0, 4) AS power_millions
    FROM terms
    """,
)
def periodogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R285 periodogram at fixed candidate periods {PGRAM_PERIODS}
    (weekly/fortnightly/monthly/quarterly/annual): spectral power
    |sum (x_t - mean) e^(-2 pi i t / P)|^2 / n per period — the
    single-bin Goertzel/DFT probe that confirms which seasonality the
    decomposition and Holt-Winters ops should model, WITHOUT an FFT
    (each bin is one map-side cos/sin expression + one aggregate; at
    100 TB this is the cheap way to test a handful of hypothesized
    periods). Mean snaps to 6dp; power reported millions-scaled at
    4dp so the ~1e-16-relative cos/sin libm drift across engines
    stays far below the grid."""
    from pyspark.sql import Window
    import math

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "rev",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    ).localCheckpoint(eager=False)
    mu = daily.agg(
        F.round(F.avg("rev"), 6).alias("m"),
        F.count("*").cast("bigint").alias("n"),
    )
    grid = local_frame(
        spark,
        [(p,) for p in PGRAM_PERIODS], "period int"
    )
    ang = 2 * math.pi * F.col("t") / F.col("period")
    terms = (
        daily.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(mu))
        .groupBy("period")
        .agg(
            F.sum((F.col("rev") - F.col("m")) * F.cos(ang)).alias("c"),
            F.sum((F.col("rev") - F.col("m")) * F.sin(ang)).alias("s"),
            F.max("n").alias("n"),
        )
    )
    return terms.select(
        F.col("period").cast("bigint").alias("period"),
        F.round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("n")
            / 1000000.0,
            4,
        ).alias("power_millions"),
    )


@register(
    "distance_correlation_daily",
    sql="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    pairs AS MATERIALIZED (
      SELECT a.day AS dj, abs(a.rev - b.rev) AS ax,
             abs(a.n_orders - b.n_orders) * 1.0 AS ay
      FROM daily a CROSS JOIN daily b
    ),
    rowm AS MATERIALIZED (
      SELECT dj, round(avg(ax), 9) AS amj, round(avg(ay), 9) AS bmj
      FROM pairs GROUP BY dj
    ),
    gm AS (
      SELECT round(avg(ax), 9) AS ag, round(avg(ay), 9) AS bg FROM pairs
    ),
    centered AS (
      SELECT (p.ax - ra.amj - rb.amj + g.ag) AS ca,
             (p.ay - ra.bmj - rb.bmj + g.bg) AS cb
      FROM (
        SELECT a.day AS dj, b.day AS dk,
               abs(a.rev - b.rev) AS ax,
               abs(a.n_orders - b.n_orders) * 1.0 AS ay
        FROM daily a CROSS JOIN daily b
      ) p
      JOIN rowm ra ON ra.dj = p.dj
      JOIN rowm rb ON rb.dj = p.dk
      CROSS JOIN gm g
    ),
    mom AS (
      SELECT avg(ca * cb) AS dcov2,
             avg(ca * ca) AS dvarx,
             avg(cb * cb) AS dvary
      FROM centered
    )
    SELECT (SELECT n FROM n) AS n_days,
           round(dcov2 / 1000.0, 6) AS dcov2_thousands,
           round(sqrt(greatest(dcov2, 0.0))
                 / sqrt(sqrt(dvarx * dvary)), 6) AS dcor
    FROM mom
    """,
)
def distance_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R286 distance correlation (Szekely-Rizzo) between daily revenue
    and daily order count: doubly-centered pairwise distance matrices
    A, B over the day frame, dCov^2 = mean(A.B), dCor =
    dCov/sqrt(dVarX dVarY) — the dependence measure that is ZERO iff
    independent (Pearson misses non-monotone structure; Spearman
    misses non-monotone too; dCor catches any). The O(days^2) pair
    join is the repo's documented calendar-bounded quadratic class
    (mann_kendall, matrix profile); distances are cent-grid/integer
    exact, row/grand means snap to 9dp so both engines center
    identically; dCov reported thousands-scaled."""
    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
        F.count("*").cast("bigint").alias("n_orders"),
    ).localCheckpoint(eager=False)
    n = daily.count()
    # spread the calendar-bounded day frame: the O(days^2) crossJoin
    # inherits its partitioning, and the checkpointed day aggregate is
    # one AQE-coalesced partition — the whole pair stage would run
    # serially on any core count
    from zoom_spark.io import spread_rows

    dspread = spread_rows(daily)
    a, b = dspread.alias("a"), dspread.alias("b")
    pairs = a.crossJoin(b).select(
        F.col("a.day").alias("dj"),
        F.col("b.day").alias("dk"),
        F.abs(F.col("a.rev") - F.col("b.rev")).alias("ax"),
        (
            F.abs(F.col("a.n_orders") - F.col("b.n_orders")) * 1.0
        ).alias("ay"),
    ).localCheckpoint(eager=False)
    rowm = pairs.groupBy("dj").agg(
        F.round(F.avg("ax"), 9).alias("amj"),
        F.round(F.avg("ay"), 9).alias("bmj"),
    )
    gm = pairs.agg(
        F.round(F.avg("ax"), 9).alias("ag"),
        F.round(F.avg("ay"), 9).alias("bg"),
    )
    ra = rowm.select(
        F.col("dj").alias("rj"), F.col("amj").alias("am_j"),
        F.col("bmj").alias("bm_j"),
    )
    rb = rowm.select(
        F.col("dj").alias("rk"), F.col("amj").alias("am_k"),
        F.col("bmj").alias("bm_k"),
    )
    centered = (
        pairs.join(ra, pairs["dj"] == ra["rj"])
        .join(rb, pairs["dk"] == rb["rk"])
        .crossJoin(F.broadcast(gm))
        .select(
            (
                F.col("ax") - F.col("am_j") - F.col("am_k") + F.col("ag")
            ).alias("ca"),
            (
                F.col("ay") - F.col("bm_j") - F.col("bm_k") + F.col("bg")
            ).alias("cb"),
        )
    )
    mom = centered.agg(
        F.avg(F.col("ca") * F.col("cb")).alias("dcov2"),
        F.avg(F.col("ca") * F.col("ca")).alias("dvarx"),
        F.avg(F.col("cb") * F.col("cb")).alias("dvary"),
    )
    return mom.select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.round(F.col("dcov2") / 1000.0, 6).alias("dcov2_thousands"),
        F.round(
            F.sqrt(F.greatest(F.col("dcov2"), F.lit(0.0)))
            / F.sqrt(F.sqrt(F.col("dvarx") * F.col("dvary"))),
            6,
        ).alias("dcor"),
    )


CVM_CRIT_05 = 0.461  # asymptotic two-sample CvM critical value, alpha=.05


@register(
    "cramer_von_mises_weekend",
    sql=f"""
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
      SELECT v, na, nb,
             sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS ca,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cb
      FROM pv
    ),
    tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                   CAST(sum(nb) AS BIGINT) AS n_b FROM pv),
    tsum AS (
      SELECT t.n_a, t.n_b,
             sum((c.na + c.nb)
                 * pow(c.ca * 1.0 / t.n_a - c.cb * 1.0 / t.n_b, 2)) AS g
      FROM c CROSS JOIN tot t GROUP BY t.n_a, t.n_b
    )
    SELECT n_a, n_b,
           round(n_a * n_b * 1.0 / pow(n_a + n_b, 2) * g, 6) AS cvm_t,
           (n_a * n_b * 1.0 / pow(n_a + n_b, 2) * g) >= {CVM_CRIT_05}
             AS reject_05
    FROM tsum
    """,
)
def cramer_von_mises_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R287 two-sample Cramér-von Mises test (weekend vs weekday event
    values): T = (n m/(n+m)^2) * sum over pooled observations of
    (ECDF_a - ECDF_b)^2 — integrating the WHOLE ECDF gap where KS
    takes only the sup, so distributed-mass differences that never
    form one big gap still register. Identical scale recipe to the KS
    gate: one distinct-value hash aggregate, two two-phase prefix
    sums, one weighted-square aggregate; decision against the
    asymptotic 5% critical value {CVM_CRIT_05} (shared literal)."""
    from zoom_spark.operators.prefix import prefix_sum

    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
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
    g = F.sum(
        (F.col("na") + F.col("nb"))
        * F.pow(
            F.col("ca") * 1.0 / F.col("n_a")
            - F.col("cb") * 1.0 / F.col("n_b"),
            2,
        )
    )
    t_expr = (
        F.col("n_a")
        * F.col("n_b")
        * 1.0
        / F.pow(F.col("n_a") + F.col("n_b"), 2)
        * F.col("g")
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(g.alias("g"))
        .select(
            "n_a",
            "n_b",
            F.round(t_expr, 6).alias("cvm_t"),
            (t_expr >= CVM_CRIT_05).alias("reject_05"),
        )
    )


@register(
    "kuiper_test_weekend",
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
             max(c.ca * 1.0 / t.n_a - c.cb * 1.0 / t.n_b) AS d_plus,
             max(c.cb * 1.0 / t.n_b - c.ca * 1.0 / t.n_a) AS d_minus
      FROM c CROSS JOIN tot t GROUP BY t.n_a, t.n_b
    )
    SELECT n_a, n_b,
           round(d_plus, 6) AS d_plus,
           round(d_minus, 6) AS d_minus,
           round(d_plus + d_minus, 6) AS kuiper_v
    FROM d
    """,
)
def kuiper_test_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R288 two-sample Kuiper test (weekend vs weekday event values):
    V = D+ + D- (the sum of the largest positive and negative ECDF
    gaps) — equally sensitive across the whole support including both
    tails, where KS's single sup under-weights tail shifts; also the
    right statistic for circular data (its value is invariant to
    rotating the support). Same machinery as the KS gate: one
    distinct-value aggregate, two two-phase prefix sums, one max
    aggregate per direction."""
    from zoom_spark.operators.prefix import prefix_sum

    ev = load_table(spark, sf_dir, "events")
    wd = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
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
    fa = F.col("ca") * 1.0 / F.col("n_a")
    fb = F.col("cb") * 1.0 / F.col("n_b")
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(fa - fb).alias("dp"),
            F.max(fb - fa).alias("dm"),
        )
        .select(
            "n_a",
            "n_b",
            F.round("dp", 6).alias("d_plus"),
            F.round("dm", 6).alias("d_minus"),
            F.round(F.col("dp") + F.col("dm"), 6).alias("kuiper_v"),
        )
    )


GUMBEL_EULER = 0.5772156649  # Euler-Mascheroni, shared literal


@register(
    "gumbel_block_maxima_fit",
    sql=f"""
    WITH blocks AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                  AS BIGINT) AS blk,
             max(o_totalprice) AS mx
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             round(avg(mx), 6) AS m1,
             round(stddev_samp(mx), 6) AS sd
      FROM blocks
    )
    SELECT n_blocks, m1 AS mean_max, sd AS sd_max,
           round(sd * sqrt(6.0) / pi(), 6) AS gumbel_beta,
           round(m1 - {GUMBEL_EULER} * sd * sqrt(6.0) / pi(), 6)
             AS gumbel_mu,
           round(m1 - {GUMBEL_EULER} * sd * sqrt(6.0) / pi()
                 - sd * sqrt(6.0) / pi() * ln(-ln(0.99)), 2)
             AS return_level_100
    FROM m
    """,
)
def gumbel_block_maxima_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R289 Gumbel extreme-value fit by block maxima: monthly maxima
    of order value, method-of-moments location/scale (beta =
    sd*sqrt(6)/pi, mu = mean - gamma*beta with the Euler-Mascheroni
    literal), and the 100-block return level mu - beta*ln(-ln(0.99))
    — 'the largest order we should expect once per ~8 years' — the
    EVT capacity-planning primitive complementing the Hill tail index
    (maxima-based vs order-statistic-based). One month-granular max
    aggregate + one moment pass, all rounded before the closed
    forms."""
    o = load_table(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("blk")
    ).agg(F.max("o_totalprice").alias("mx"))
    import math

    m = blocks.agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.round(F.avg("mx"), 6).alias("m1"),
        F.round(F.stddev_samp("mx"), 6).alias("sd"),
    )
    beta = F.col("sd") * math.sqrt(6.0) / math.pi
    mu = F.col("m1") - GUMBEL_EULER * beta
    return m.select(
        "n_blocks",
        F.col("m1").alias("mean_max"),
        F.col("sd").alias("sd_max"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(mu - beta * math.log(-math.log(0.99)), 2).alias(
            "return_level_100"
        ),
    )


@register(
    "gpd_tail_fit_spend",
    sql="""
    WITH base AS (
      SELECT o_totalprice AS x FROM orders
    ),
    thr AS (
      SELECT round(avg(x) + stddev_samp(x), 2) AS u FROM base
    ),
    exc AS (
      SELECT x - (SELECT u FROM thr) AS y FROM base
      WHERE x > (SELECT u FROM thr)
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exceed,
             round(avg(y), 6) AS m1,
             round(var_samp(y), 4) AS v
      FROM exc
    )
    SELECT (SELECT u FROM thr) AS threshold,
           n_exceed, m1 AS mean_excess,
           round(0.5 * (1 - m1 * m1 / v), 6) AS gpd_xi,
           round(0.5 * m1 * (m1 * m1 / v + 1), 6) AS gpd_sigma
    FROM m
    """,
)
def gpd_tail_fit_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R290 generalized-Pareto peaks-over-threshold fit for order
    values: exceedances over u = mean + 2sd (a deterministic
    moment-based threshold, rounded to the cent grid) fitted by
    method of moments — xi = (1 - m^2/v)/2, sigma = m(m^2/v + 1)/2
    (Hosking-Wallis) — the POT side of extreme-value theory
    complementing gumbel_block_maxima_fit's block-maxima side (POT
    uses every tail observation, not one per block; xi > 0 flags a
    Frechet-heavy tail consistent with the Hill index). Two moment
    passes; all inputs cent-grid, moments rounded before the closed
    forms."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x")
    )
    thr = o.agg(
        F.round(F.avg("x") + F.stddev_samp("x"), 2).alias("u")
    )
    exc = o.crossJoin(F.broadcast(thr)).where(
        F.col("x") > F.col("u")
    ).select((F.col("x") - F.col("u")).alias("y"), "u")
    m = exc.groupBy("u").agg(
        F.count("*").cast("bigint").alias("n_exceed"),
        F.round(F.avg("y"), 6).alias("m1"),
        F.round(F.var_samp("y"), 4).alias("v"),
    )
    m1, v = F.col("m1"), F.col("v")
    return m.select(
        F.col("u").alias("threshold"),
        "n_exceed",
        m1.alias("mean_excess"),
        F.round(0.5 * (1 - m1 * m1 / v), 6).alias("gpd_xi"),
        F.round(0.5 * m1 * (m1 * m1 / v + 1), 6).alias("gpd_sigma"),
    )


MAHA_Z2_CRIT = 13.815511  # chi2(2) 0.999 quantile, shared literal


@register(
    "mahalanobis_anomaly_events",
    sql=f"""
    WITH pts AS (
      SELECT event_id, value AS x, hour(ts) * 1.0 AS y FROM events
    ),
    m AS (
      SELECT round(avg(x), 6) AS mx, round(avg(y), 6) AS my,
             round(var_samp(x), 6) AS vx, round(var_samp(y), 6) AS vy,
             round(covar_samp(x, y), 6) AS cxy
      FROM pts
    ),
    scored AS (
      SELECT p.event_id, p.x, p.y,
             ((p.x - m.mx) * (p.x - m.mx) * m.vy
              - 2 * (p.x - m.mx) * (p.y - m.my) * m.cxy
              + (p.y - m.my) * (p.y - m.my) * m.vx)
             / (m.vx * m.vy - m.cxy * m.cxy) AS d2
      FROM pts p CROSS JOIN m
    )
    SELECT event_id, round(x, 2) AS value, CAST(y AS BIGINT) AS hour,
           round(d2, 6) AS mahalanobis_d2
    FROM scored WHERE d2 > {MAHA_Z2_CRIT}
    """,
)
def mahalanobis_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R291 bivariate Mahalanobis anomaly detection over (event value,
    hour of day): d^2 = (p - mu)' Sigma^inv (p - mu) via the explicit
    2x2 inverse, flagging d^2 above the chi-square(2) 99.9% quantile
    — the correlation-aware outlier screen where per-axis z-scores
    (zscore_anomaly_events) miss points anomalous only in
    COMBINATION (a huge value at an hour where huge values never
    happen). Moments snap to 6dp so both engines score identical
    quadratic forms; the flagged set is the output (one scan +
    1-row moment broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        F.col("value").alias("x"),
        (F.hour("ts") * 1.0).alias("y"),
    )
    m = pts.agg(
        F.round(F.avg("x"), 6).alias("mx"),
        F.round(F.avg("y"), 6).alias("my"),
        F.round(F.var_samp("x"), 6).alias("vx"),
        F.round(F.var_samp("y"), 6).alias("vy"),
        F.round(F.covar_samp("x", "y"), 6).alias("cxy"),
    )
    dx, dy = F.col("x") - F.col("mx"), F.col("y") - F.col("my")
    det = F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy")
    d2 = (
        dx * dx * F.col("vy") - 2 * dx * dy * F.col("cxy")
        + dy * dy * F.col("vx")
    ) / det
    return (
        pts.crossJoin(F.broadcast(m))
        .select(
            "event_id",
            F.round("x", 2).alias("value"),
            F.col("y").cast("bigint").alias("hour"),
            F.round(d2, 6).alias("mahalanobis_d2"),
        )
        .where(F.col("mahalanobis_d2") > MAHA_Z2_CRIT)
    )


ARCH_LAGS = 5


@register(
    "arch_lm_test_revenue",
    sql=f"""
    WITH daily AS MATERIALIZED (
      SELECT round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS k
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    mu AS (SELECT round(avg(rev), 6) AS m FROM daily),
    e2 AS MATERIALIZED (
      SELECT k, round(pow(rev - (SELECT m FROM mu), 2) / 1000000.0, 9)
               AS u
      FROM daily
    ),
    lagged AS (
      SELECT a.u AS y,
             {", ".join(f"l{i}.u AS x{i}" for i in range(1, ARCH_LAGS + 1))}
      FROM e2 a
      {" ".join(f"JOIN e2 l{i} ON l{i}.k = a.k - {i}" for i in range(1, ARCH_LAGS + 1))}
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             round(regr_r2(y, x1), 9) AS r2_1
      FROM lagged
    )
    SELECT n AS n_obs, CAST({ARCH_LAGS} AS BIGINT) AS n_lags_joined,
           r2_1 AS r2_lag1,
           round(n * r2_1, 6) AS lm_stat_lag1,
           (n * r2_1 > 3.841459) AS arch_at_lag1
    FROM fit
    """,
)
def arch_lm_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R292 Engle's ARCH LM test (lag-1 reported, lag frame joined to
    {ARCH_LAGS}) on daily revenue: squared mean-deviations regressed
    on their own lags — LM = n*R^2 vs chi-square(1) 5% = 3.841459
    detects volatility CLUSTERING (calm/wild periods), which the
    Ljung-Box test on levels misses and which decides whether
    bootstrap/forecast intervals may assume constant variance.
    Squared deviations are millions-scaled and 9dp-snapped so both
    engines regress identical inputs; the lag pairing is the
    Ljung-Box equi-join recipe over the calendar-bounded day frame."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "rev", F.row_number().over(Window.orderBy("day")).alias("k")
    )
    mu = daily.agg(F.round(F.avg("rev"), 6).alias("m"))
    e2 = daily.crossJoin(F.broadcast(mu)).select(
        "k",
        F.round(
            F.pow(F.col("rev") - F.col("m"), 2) / 1000000.0, 9
        ).alias("u"),
    ).localCheckpoint(eager=False)
    lagged = e2.alias("a")
    for i in range(1, ARCH_LAGS + 1):
        li = e2.select(
            (F.col("k") + i).alias(f"k{i}"), F.col("u").alias(f"x{i}")
        )
        lagged = lagged.join(li, F.col("k") == F.col(f"k{i}"))
    fit = lagged.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.regr_r2("u", "x1"), 9).alias("r2_1"),
    )
    return fit.select(
        F.col("n").alias("n_obs"),
        F.lit(ARCH_LAGS).cast("bigint").alias("n_lags_joined"),
        F.col("r2_1").alias("r2_lag1"),
        F.round(F.col("n") * F.col("r2_1"), 6).alias("lm_stat_lag1"),
        (F.col("n") * F.col("r2_1") > 3.841459).alias("arch_at_lag1"),
    )


VR_Q = (2, 5, 10)


@register(
    "variance_ratio_test_revenue",
    sql=f"""
    WITH daily AS MATERIALIZED (
      SELECT round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS k
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    r1 AS MATERIALIZED (
      SELECT a.k, round(a.rev - b.rev, 2) AS d
      FROM daily a JOIN daily b ON b.k = a.k - 1
    ),
    base AS (
      SELECT round(var_samp(d), 4) AS v1,
             CAST(count(*) AS BIGINT) AS n1
      FROM r1
    ),
    grid AS (SELECT unnest(ARRAY[{", ".join(str(q) for q in VR_Q)}]) AS q),
    rq AS (
      SELECT g.q, a.k, round(a.rev - b.rev, 2) AS d
      FROM grid g
      JOIN daily a ON true
      JOIN daily b ON b.k = a.k - g.q
    ),
    vq AS (
      SELECT q, round(var_samp(d), 4) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM rq GROUP BY q
    )
    SELECT CAST(vq.q AS BIGINT) AS q, vq.n AS n_obs,
           round(vq.v / (vq.q * b.v1), 6) AS variance_ratio,
           round((vq.v / (vq.q * b.v1) - 1)
                 * sqrt(vq.n * 1.0
                        / (2.0 * (2 * vq.q - 1) * (vq.q - 1)
                           / (3.0 * vq.q))), 6) AS z_stat
    FROM vq CROSS JOIN base b
    """,
)
def variance_ratio_test_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R293 Lo-MacKinlay variance-ratio test on daily revenue changes:
    VR(q) = Var(q-day difference) / (q * Var(1-day difference)) with
    the homoskedastic z — VR < 1 flags mean reversion, > 1 momentum,
    = 1 a random walk; the market-efficiency diagnostic that reads
    the same scaling behavior as the Hurst gate from variances
    instead of ranges. Differences snap to the cent grid, variances
    to 4dp before the ratio; q-difference pairing is an equi-join on
    the day index over the calendar-bounded frame."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "rev", F.row_number().over(Window.orderBy("day")).alias("k")
    ).localCheckpoint(eager=False)
    a, b = daily.alias("a"), daily.alias("b")
    r1 = a.join(b, F.col("b.k") == F.col("a.k") - 1).select(
        F.round(F.col("a.rev") - F.col("b.rev"), 2).alias("d")
    )
    base = r1.agg(
        F.round(F.var_samp("d"), 4).alias("v1"),
        F.count("*").cast("bigint").alias("n1"),
    )
    grid = local_frame(spark, [(q,) for q in VR_Q], "q int")
    rq = (
        a.crossJoin(F.broadcast(grid))
        .join(b, F.col("b.k") == F.col("a.k") - F.col("q"))
        .select(
            "q", F.round(F.col("a.rev") - F.col("b.rev"), 2).alias("d")
        )
    )
    vq = rq.groupBy("q").agg(
        F.round(F.var_samp("d"), 4).alias("v"),
        F.count("*").cast("bigint").alias("n"),
    )
    vr = F.col("v") / (F.col("q") * F.col("v1"))
    z = (vr - 1) * F.sqrt(
        F.col("n")
        * 1.0
        / (
            2.0
            * (2 * F.col("q") - 1)
            * (F.col("q") - 1)
            / (3.0 * F.col("q"))
        )
    )
    return vq.crossJoin(F.broadcast(base)).select(
        F.col("q").cast("bigint").alias("q"),
        F.col("n").alias("n_obs"),
        F.round(vr, 6).alias("variance_ratio"),
        F.round(z, 6).alias("z_stat"),
    )


@register(
    "sample_entropy_revenue",
    sql="""
    WITH daily AS MATERIALIZED (
      SELECT round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS k
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    tol AS (
      SELECT round(0.2 * stddev_samp(rev), 6) AS r FROM daily
    ),
    tpl AS MATERIALIZED (
      SELECT a.k, a.rev AS x0, b.rev AS x1, c.rev AS x2
      FROM daily a
      JOIN daily b ON b.k = a.k + 1
      JOIN daily c ON c.k = a.k + 2
    ),
    matches AS (
      SELECT CAST(sum(CASE WHEN greatest(abs(p.x0 - q.x0),
                                         abs(p.x1 - q.x1))
                            <= (SELECT r FROM tol)
                      THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
             CAST(sum(CASE WHEN greatest(abs(p.x0 - q.x0),
                                         abs(p.x1 - q.x1),
                                         abs(p.x2 - q.x2))
                            <= (SELECT r FROM tol)
                      THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
      FROM tpl p JOIN tpl q ON p.k < q.k
    )
    SELECT (SELECT round(r, 6) FROM tol) AS tolerance_r,
           b_cnt AS n_matches_m2, a_cnt AS n_matches_m3,
           CASE WHEN a_cnt > 0 AND b_cnt > 0
                THEN round(-ln(a_cnt * 1.0 / b_cnt), 6) END AS sampen
    FROM matches
    """,
)
def sample_entropy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R294 sample entropy (Richman-Moorman, m=2, r=0.2sd) of daily
    revenue: -ln(A/B) where B counts template pairs matching at
    length 2 under the Chebyshev tolerance and A at length 3 — the
    regularity/complexity measure behind physiological and ops
    anomaly baselines (low SampEn = repetitive/templated series, high
    = irregular), reading the same series as Hurst/VR from the
    predictability angle. Cent-grid values and a 6dp tolerance make
    every <= comparison deterministic; the template pair join is the
    documented calendar-bounded day-frame quadratic."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "rev", F.row_number().over(Window.orderBy("day")).alias("k")
    ).localCheckpoint(eager=False)
    tol = daily.agg(
        F.round(0.2 * F.stddev_samp("rev"), 6).alias("r")
    )
    a, b, c = daily.alias("a"), daily.alias("b"), daily.alias("c")
    tpl = (
        a.join(b, F.col("b.k") == F.col("a.k") + 1)
        .join(c, F.col("c.k") == F.col("a.k") + 2)
        .select(
            F.col("a.k").alias("k"),
            F.col("a.rev").alias("x0"),
            F.col("b.rev").alias("x1"),
            F.col("c.rev").alias("x2"),
        )
        .localCheckpoint(eager=False)
    )
    p, q = tpl.alias("p"), tpl.alias("q")
    d2 = F.greatest(
        F.abs(F.col("p.x0") - F.col("q.x0")),
        F.abs(F.col("p.x1") - F.col("q.x1")),
    )
    d3 = F.greatest(
        F.abs(F.col("p.x0") - F.col("q.x0")),
        F.abs(F.col("p.x1") - F.col("q.x1")),
        F.abs(F.col("p.x2") - F.col("q.x2")),
    )
    matches = (
        p.join(q, F.col("p.k") < F.col("q.k"))
        .crossJoin(F.broadcast(tol))
        .agg(
            F.sum(F.when(d2 <= F.col("r"), 1).otherwise(0))
            .cast("bigint")
            .alias("b_cnt"),
            F.sum(F.when(d3 <= F.col("r"), 1).otherwise(0))
            .cast("bigint")
            .alias("a_cnt"),
            F.round(F.first("r"), 6).alias("tolerance_r"),
        )
    )
    return matches.select(
        "tolerance_r",
        F.col("b_cnt").alias("n_matches_m2"),
        F.col("a_cnt").alias("n_matches_m3"),
        F.when(
            (F.col("a_cnt") > 0) & (F.col("b_cnt") > 0),
            F.round(-F.log(F.col("a_cnt") * 1.0 / F.col("b_cnt")), 6),
        ).alias("sampen"),
    )


@register(
    "permutation_entropy_revenue",
    sql="""
    WITH daily AS MATERIALIZED (
      SELECT round(sum(o_totalprice), 2) AS rev,
             row_number() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS k
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    tpl AS (
      SELECT (CASE WHEN a.rev < b.rev
                   OR (a.rev = b.rev) THEN 4 ELSE 0 END)
           + (CASE WHEN b.rev < c.rev
                   OR (b.rev = c.rev) THEN 2 ELSE 0 END)
           + (CASE WHEN a.rev < c.rev
                   OR (a.rev = c.rev) THEN 1 ELSE 0 END) AS pat
      FROM daily a
      JOIN daily b ON b.k = a.k + 1
      JOIN daily c ON c.k = a.k + 2
    ),
    hist AS (
      SELECT pat, CAST(count(*) AS BIGINT) AS n FROM tpl GROUP BY pat
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM hist)
    SELECT (SELECT t FROM tot) AS n_windows,
           (SELECT CAST(count(*) AS BIGINT) FROM hist) AS n_patterns,
           round(-sum((n * 1.0 / (SELECT t FROM tot))
                      * ln(n * 1.0 / (SELECT t FROM tot)))
                 / ln(6.0), 6) AS perm_entropy
    FROM hist
    """,
)
def permutation_entropy_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R295 permutation entropy (Bandt-Pompe, order 3) of daily
    revenue: each consecutive day-triple maps to its ordinal pattern
    (ties rank by time index — the standard convention, encoded as
    three <=-comparisons into a 3-bit id), and the normalized Shannon
    entropy of the 6-pattern histogram measures how UNPREDICTABLE the
    local ordering dynamics are (1 = white noise, low = rigid weekly
    choreography) — robust to any monotone transformation of the
    values, unlike SampEn's amplitude tolerance. One triple join on
    the day frame + a 6-row histogram."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).select(
        "rev", F.row_number().over(Window.orderBy("day")).alias("k")
    ).localCheckpoint(eager=False)
    a, b, c = daily.alias("a"), daily.alias("b"), daily.alias("c")
    pat = (
        F.when(F.col("a.rev") <= F.col("b.rev"), 4).otherwise(0)
        + F.when(F.col("b.rev") <= F.col("c.rev"), 2).otherwise(0)
        + F.when(F.col("a.rev") <= F.col("c.rev"), 1).otherwise(0)
    )
    tpl = (
        a.join(b, F.col("b.k") == F.col("a.k") + 1)
        .join(c, F.col("c.k") == F.col("a.k") + 2)
        .select(pat.alias("pat"))
    )
    hist = tpl.groupBy("pat").agg(F.count("*").cast("bigint").alias("n"))
    tot = hist.agg(F.sum("n").cast("bigint").alias("t"))
    p = F.col("n") * 1.0 / F.col("t")
    import math

    return (
        hist.crossJoin(F.broadcast(tot))
        .agg(
            F.max("t").alias("n_windows"),
            F.count("*").cast("bigint").alias("n_patterns"),
            F.round(
                -F.sum(p * F.log(p)) / math.log(6.0), 6
            ).alias("perm_entropy"),
        )
        .select(
            F.col("n_windows").cast("bigint").alias("n_windows"),
            "n_patterns",
            "perm_entropy",
        )
    )


@register(
    "lexical_diversity_docs",
    sql=r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    counts AS (
      SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ts)) AS BIGINT) AS n_types
      FROM tok
    )
    SELECT doc_id, n_tokens, n_types,
           round(n_types * 1.0 / n_tokens, 6) AS ttr,
           round(n_types / sqrt(n_tokens * 1.0), 6) AS guiraud_r,
           CASE WHEN n_tokens > 1
                THEN round(ln(n_types * 1.0) / ln(n_tokens * 1.0), 6)
           END AS herdan_c
    FROM counts WHERE n_tokens > 0
    """,
)
def lexical_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R296 per-document lexical diversity: type-token ratio plus the
    two length-corrected classics — Guiraud's R = V/sqrt(N) and
    Herdan's C = ln V / ln N (raw TTR shrinks mechanically with doc
    length, so quality filters comparing docs of different sizes need
    the corrected forms) — the per-doc companion to the corpus-level
    heaps_law_fit and the vocabulary inputs to Gopher-style repetition
    gates. Map-side array ops + one projection; integer type/token
    counts feed exact closed forms."""
    from zoom_spark.functions.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.size(ws_tokens(F.lower("text"))).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ws_tokens(F.lower("text"))))
        .cast("bigint")
        .alias("n_types"),
    ).where(F.col("n_tokens") > 0)
    return counts.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") * 1.0 / F.col("n_tokens"), 6).alias("ttr"),
        F.round(
            F.col("n_types") / F.sqrt(F.col("n_tokens") * 1.0), 6
        ).alias("guiraud_r"),
        F.when(
            F.col("n_tokens") > 1,
            F.round(
                F.log(F.col("n_types") * 1.0)
                / F.log(F.col("n_tokens") * 1.0),
                6,
            ),
        ).alias("herdan_c"),
    )


@register(
    "duplicate_token_waste",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, text FROM documents
    ),
    fp AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(lower(trim(text)),
                                                     '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h
      FROM corpus
    ),
    canon AS (
      SELECT doc_id, source, n_tokens,
             (doc_id = min(doc_id) OVER (PARTITION BY h)) AS is_canonical
      FROM fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN is_canonical THEN 0 ELSE n_tokens END)
                AS BIGINT) AS duplicate_tokens,
           round(sum(CASE WHEN is_canonical THEN 0 ELSE n_tokens END)
                 * 1.0 / sum(n_tokens), 6) AS waste_share
    FROM canon GROUP BY source
    """,
)
def duplicate_token_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R297 duplicate-token waste report per source: tokens sitting in
    NON-canonical exact duplicates (fingerprint groups, min-doc_id
    canonical — the same contract as canonical_doc_ids) as a share of
    each source's token budget — the number that prices the dedup
    stage ('src7 wastes 40% of its tokens on copies') and decides
    which feeds get the aggressive near-dup pass. Composes the exact-
    dedup fingerprint with the fertility counts: one fingerprint
    window + one source rollup."""
    from pyspark.sql import Window

    from zoom_spark.functions.text import fingerprint_md5, ws_tokens
    from zoom_spark.queries.dedup_queries import _doubled_docs

    docs = _doubled_docs(spark, sf_dir)
    fp = docs.select(
        "doc_id",
        "source",
        F.size(ws_tokens(F.lower("text"))).cast("bigint").alias("n_tokens"),
        fingerprint_md5("text").alias("h"),
    )
    canon = fp.withColumn(
        "is_canonical",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("h")),
    )
    return canon.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(
            F.when(F.col("is_canonical"), 0).otherwise(F.col("n_tokens"))
        )
        .cast("bigint")
        .alias("duplicate_tokens"),
        F.round(
            F.sum(
                F.when(F.col("is_canonical"), 0).otherwise(
                    F.col("n_tokens")
                )
            )
            * 1.0
            / F.sum("n_tokens"),
            6,
        ).alias("waste_share"),
    )


@register(
    "seasonality_strength_revenue",
    sql="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS day,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    tr AS MATERIALIZED (
      SELECT day, rev,
             round(avg(rev) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 2) AS trend,
             CAST((day - DATE '1990-01-01') % 7 AS BIGINT) AS wd
      FROM daily
    ),
    sr AS (
      SELECT wd, round(avg(rev - trend), 2) AS s_raw FROM tr GROUP BY wd
    ),
    ctr AS (SELECT round(avg(s_raw), 2) AS s_mean FROM sr),
    comp AS (
      SELECT t.rev, t.trend,
             round(s.s_raw - c.s_mean, 2) AS seasonal,
             round(t.rev - t.trend - (s.s_raw - c.s_mean), 2) AS resid
      FROM tr t JOIN sr s ON t.wd = s.wd CROSS JOIN ctr c
    ),
    v AS (
      SELECT round(var_samp(resid), 4) AS v_r,
             round(var_samp(seasonal + resid), 4) AS v_sr,
             round(var_samp(trend + resid), 4) AS v_tr,
             CAST(count(*) AS BIGINT) AS n_days
      FROM comp
    )
    SELECT n_days,
           round(greatest(0.0, 1.0 - v_r / v_sr), 6) AS seasonal_strength,
           round(greatest(0.0, 1.0 - v_r / v_tr), 6) AS trend_strength
    FROM v
    """,
)
def seasonality_strength_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """R298 seasonal and trend strength (Hyndman's STL-feature pair):
    F_s = max(0, 1 - Var(resid)/Var(seasonal + resid)) and the trend
    analog — the two scalars that summarize
    seasonal_decompose_revenue's whole output into model-selection
    features (F_s near 1 mandates a seasonal forecaster; near 0 says
    Holt without the W). Reuses the identical decomposition recipe
    (centered 7-day MA trend, weekday means re-centered, 2dp at every
    stage) so both engines difference the same components; variances
    snap to 4dp before the ratios."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "rev",
        F.round(F.avg("rev").over(w), 2).alias("trend"),
        (
            F.datediff(F.col("day"), F.lit("1990-01-01").cast("date")) % 7
        )
        .cast("bigint")
        .alias("wd"),
    ).localCheckpoint(eager=False)
    sr = tr.groupBy("wd").agg(
        F.round(F.avg(F.col("rev") - F.col("trend")), 2).alias("s_raw")
    )
    ctr = sr.agg(F.round(F.avg("s_raw"), 2).alias("s_mean"))
    comp = (
        tr.join(F.broadcast(sr), on="wd")
        .crossJoin(F.broadcast(ctr))
        .select(
            "rev",
            "trend",
            F.round(F.col("s_raw") - F.col("s_mean"), 2).alias("seasonal"),
            F.round(
                F.col("rev")
                - F.col("trend")
                - (F.col("s_raw") - F.col("s_mean")),
                2,
            ).alias("resid"),
        )
    )
    v = comp.agg(
        F.round(F.var_samp("resid"), 4).alias("v_r"),
        F.round(
            F.var_samp(F.col("seasonal") + F.col("resid")), 4
        ).alias("v_sr"),
        F.round(F.var_samp(F.col("trend") + F.col("resid")), 4).alias(
            "v_tr"
        ),
        F.count("*").cast("bigint").alias("n_days"),
    )
    return v.select(
        "n_days",
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_sr")), 6
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("v_r") / F.col("v_tr")), 6
        ).alias("trend_strength"),
    )


# factorials 0!..12! as shared literals (basket sizes are small ints)
_FACTS = [1, 1, 2, 6, 24, 120, 720, 5040, 40320, 362880, 3628800,
          39916800, 479001600]


@register(
    "poissonness_basket_sizes",
    sql=f"""
    WITH basket AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
      FROM lineitem GROUP BY l_orderkey
    ),
    hist AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_k
      FROM basket WHERE k <= 12 GROUP BY k
    ),
    tot AS (SELECT CAST(sum(n_k) AS BIGINT) AS n FROM hist),
    facts AS (
      SELECT CAST(range AS BIGINT) AS k,
             CAST(([{", ".join(str(f) for f in _FACTS)}])[range + 1]
                  AS DOUBLE) AS kfact
      FROM range(0, 13)
    ),
    pts AS (
      SELECT h.k, h.n_k,
             round(ln(f.kfact * h.n_k / t.n), 9) AS phi
      FROM hist h JOIN facts f ON f.k = h.k CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           (SELECT n FROM tot) AS n_orders,
           round(regr_slope(phi, k * 1.0), 6) AS slope_ln_lambda,
           round(exp(regr_slope(phi, k * 1.0)), 6) AS lambda_hat,
           round(regr_r2(phi, k * 1.0), 6) AS linearity_r2
    FROM pts
    """,
)
def poissonness_basket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R299 Hoaglin Poissonness plot fit for order basket sizes
    (lineitems per order): under a Poisson(lambda) model the count
    metameter phi(k) = ln(k! n_k / N) is LINEAR in k with slope
    ln(lambda) — the graphical GOF diagnostic reduced to its
    regression form (r^2 near 1 = Poisson-consistent; curvature =
    over/under-dispersion, cross-checked by the NB fit gate).
    Factorials are shared integer literals (basket sizes cap at 12 in
    TPC-H-shaped data), phi snaps to 9dp, the fit is one regr pass
    over the <=13-row histogram."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("k")
    )
    hist = (
        basket.where(F.col("k") <= 12)
        .groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_k"))
    )
    tot = hist.agg(F.sum("n_k").cast("bigint").alias("n"))
    facts = local_frame(
        spark,
        [(k, float(f)) for k, f in enumerate(_FACTS)], "k bigint, kfact double"
    )
    pts = (
        hist.join(F.broadcast(facts), on="k")
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_k",
            F.round(
                F.log(F.col("kfact") * F.col("n_k") / F.col("n")), 9
            ).alias("phi"),
        )
    )
    return pts.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.max("n").alias("n_orders"),
        F.round(F.regr_slope("phi", F.col("k") * 1.0), 6).alias(
            "slope_ln_lambda"
        ),
        F.round(
            F.exp(F.regr_slope("phi", F.col("k") * 1.0)), 6
        ).alias("lambda_hat"),
        F.round(F.regr_r2("phi", F.col("k") * 1.0), 6).alias(
            "linearity_r2"
        ),
    )


def _scorecard_oracle_sql() -> str:
    """Composes the already-gated per-doc oracles (KN logprob, lexical
    diversity, boilerplate removal) as CTEs — the oracle is literally
    the component oracles joined, so scorecard consistency is
    inherited from their hashes."""
    from zoom_spark.queries import ORACLE

    kn = ORACLE["kneser_ney_bigram_quality"].strip()
    lex = ORACLE["lexical_diversity_docs"].strip()
    bp = ORACLE["boilerplate_segment_removal"].strip()
    return f"""
    WITH kn AS ({kn}),
    lex AS ({lex}),
    bp AS ({bp})
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(kn.avg_kn_logprob), 6) AS avg_kn_logprob,
           round(avg(lex.ttr), 6) AS avg_ttr,
           round(sum(bp.n_dropped) * 1.0 / sum(bp.n_segments), 6)
             AS boilerplate_share,
           CAST(sum(lex.n_tokens) AS BIGINT) AS total_tokens
    FROM documents d
    JOIN kn ON kn.doc_id = d.doc_id
    JOIN lex ON lex.doc_id = d.doc_id
    JOIN bp ON bp.doc_id = d.doc_id
    GROUP BY d.source
    """


@register("corpus_quality_scorecard", sql=_scorecard_oracle_sql())
def corpus_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R300 composed per-source corpus quality scorecard: the round-7
    text gates joined into the one table a data-sourcing review reads
    — per source the Kneser-Ney LM fluency, mean type-token ratio,
    boilerplate segment share, and token volume. Composition at the
    operator level (the engine calls the REGISTERED queries and joins
    their outputs; the oracle embeds the component oracles as CTEs),
    so the scorecard is consistent-by-construction with every
    component's own hash gate — the same flagship-composition pattern
    as pretrain_corpus_pipeline and lakehouse_maintenance_pipeline."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    kn = kneser_ney_bigram_quality(spark, sf_dir).select(
        "doc_id", "avg_kn_logprob"
    )
    lex = lexical_diversity_docs(spark, sf_dir).select(
        "doc_id", "ttr", "n_tokens"
    )
    bp = boilerplate_segment_removal(spark, sf_dir).select(
        "doc_id", "n_segments", "n_dropped"
    )
    j = (
        docs.join(kn, on="doc_id")
        .join(lex, on="doc_id")
        .join(bp, on="doc_id")
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("avg_kn_logprob"), 6).alias("avg_kn_logprob"),
        F.round(F.avg("ttr"), 6).alias("avg_ttr"),
        F.round(
            F.sum("n_dropped") * 1.0 / F.sum("n_segments"), 6
        ).alias("boilerplate_share"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
