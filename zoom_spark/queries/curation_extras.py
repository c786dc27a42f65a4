"""Round-5 curation / graph / time-series extras (R75-R79).

Cluster-level topic terms (c-TF-IDF), contrastive hard-negative
mining over the embedding table, k-core graph peeling, seasonal-naive
forecast-error scoring (MASE), and conditional-entropy feature
diagnostics — the remaining analytics a corpus-curation warehouse
leans on around the round-2..4 dedup/ANN/mixing core.

All but the iterative k-core carry exact DuckDB oracle twins; every
float aggregate is rounded on both sides before compare.

Reference parity note: the reference pipeline (/root/reference/main.py)
has no analog for any of these — they belong to the mandated
LLM-pipeline / warehouse extension family (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.queries import register

CTFIDF_TOPK = 5


@register(
    "ctfidf_cluster_terms",
    sql=f"""
    WITH labeled AS (
      SELECT e.label, d.text
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    tf AS (
      SELECT label, t.tok, CAST(count(*) AS DOUBLE) AS tf
      FROM labeled
      CROSS JOIN LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) t
      WHERE t.tok <> ''
      GROUP BY label, t.tok
    ),
    wc AS (SELECT label, sum(tf) AS w_c FROM tf GROUP BY label),
    ft AS (SELECT tok, sum(tf) AS f_t FROM tf GROUP BY tok),
    a AS (SELECT avg(w_c) AS a FROM wc),
    scored AS (
      SELECT tf.label, tf.tok AS term,
             round((tf.tf / wc.w_c) * ln(1.0 + a.a / ft.f_t), 6) AS ctfidf
      FROM tf JOIN wc USING (label) JOIN ft USING (tok) CROSS JOIN a
    ),
    ranked AS (
      SELECT label, term, ctfidf,
             CAST(row_number() OVER (
               PARTITION BY label ORDER BY ctfidf DESC, term) AS BIGINT) AS rnk
      FROM scored
    )
    SELECT label, term, ctfidf, rnk FROM ranked WHERE rnk <= {CTFIDF_TOPK}
    """,
)
def ctfidf_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF (the BERTopic topic-labeling formula,
    Grootendorst 2022: score = (tf_t,c / w_c) * ln(1 + A / f_t)) — the
    top terms that characterize each embedding cluster, turning
    k-means/label cells into human-readable topics. One token-explode
    pass aggregates to (label, token); w_c and the 1-row class-average
    A broadcast; the token-keyed f_t join is equi; the per-label top-5
    compiles to WindowGroupLimit (rank <= 5 pushed below the final
    sort). Score rounded to 6dp before ranking so both engines order
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    tf = (
        docs.join(emb, "doc_id")
        .select("label", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("label", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    wc = tf.groupBy("label").agg(F.sum("tf").alias("w_c"))
    ft = tf.groupBy("tok").agg(F.sum("tf").alias("f_t"))
    a = wc.agg(F.avg("w_c").alias("a"))
    scored = (
        tf.join(F.broadcast(wc), "label")
        .join(ft, "tok")
        .crossJoin(F.broadcast(a))
        .select(
            "label",
            F.col("tok").alias("term"),
            F.round(
                (F.col("tf") / F.col("w_c"))
                * F.log(1.0 + F.col("a") / F.col("f_t")),
                6,
            ).alias("ctfidf"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("ctfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= CTFIDF_TOPK)
        .select("label", "term", "ctfidf", "rnk")
    )


HNP_BATCH = 64


def exact_hard_negatives(v: DataFrame) -> DataFrame:
    """Exact O(N^2) full-corpus hard-negative baseline: for every
    vector, the single most-cosine-similar vector carrying a DIFFERENT
    label (broadcast corpus x corpus, JVM-side zip_with/aggregate
    math, one max-struct reduce per vector — no window over the N^2
    frame).  Kept as the REFEREE for both the ANN scale path
    (mine_hard_negatives_ann at full probes) and the registered
    query-batch contract below; not itself a registry query since
    round 10 (the r9 verdict's last quadratic-by-design plan).
    Input: (vec_id, label, vec[double]).  Sim rounded to 6dp before
    the argmax; ties break to the highest neg_id."""
    from zoom_spark.functions.vectors import cosine_with_norms, norm

    a = v.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("vec").alias("a_vec"),
        norm(F.col("vec")).alias("a_norm"),
    )
    b = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("vec").alias("b_vec"),
        norm(F.col("vec")).alias("b_norm"),
    )
    sim = F.round(
        cosine_with_norms(
            F.col("a_vec"), F.col("b_vec"), F.col("a_norm"), F.col("b_norm")
        ),
        6,
    )
    best = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a_label") != F.col("b_label"))
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("a_label").alias("label"),
            F.struct(
                sim.alias("sim"),
                F.col("b_id").alias("neg_id"),
                F.col("b_label").alias("neg_label"),
            ).alias("cand"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("cand").alias("best"))
    )
    return best.select(
        "vec_id",
        "label",
        F.col("best.neg_id").alias("neg_id"),
        F.col("best.neg_label").alias("neg_label"),
        F.col("best.sim").alias("sim"),
    )


@register(
    "hard_negative_pairs",
    sql=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    q AS (
      -- deterministic md5 query batch: the {HNP_BATCH} vectors with the
      -- smallest (md5 low-60, vec_id) key — fixed-size, so total work
      -- is {HNP_BATCH} * N (linear in the corpus)
      SELECT vec_id, label, vec FROM v
      ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT), vec_id
      LIMIT {HNP_BATCH}
    ),
    scored AS (
      SELECT q.vec_id, q.label,
             b.vec_id AS neg_id, b.label AS neg_label,
             round(list_cosine_similarity(q.vec, b.vec), 6) AS sim
      FROM q JOIN v b ON q.label <> b.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, neg_id DESC) AS rn
      FROM scored
    )
    SELECT vec_id, label, neg_id, neg_label, sim
    FROM ranked WHERE rn = 1
    """,
)
def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining, query-batch contract (round
    10 re-scope): for each vector in a deterministic md5 QUERY BATCH
    (the HNP_BATCH = 64 vectors with the smallest (md5(vec_id) low-60,
    vec_id) key — a TakeOrderedAndProject, no global sort), the single
    most-cosine-similar corpus vector carrying a DIFFERENT label — the
    pair a metric-learning / embedding-finetune loop trains against.

    The batch is FIXED-SIZE, so total work is 64 * N: one broadcast of
    the 64 queries against a map-side corpus scan, one max-struct
    reduce per query — linear in the corpus, the production
    contrastive-mining lookup shape (the r9 tfidf_cosine_pairs
    precedent; the r9 verdict flagged the previous full N^2 crossJoin
    as the last quadratic-by-design registry plan).  Full-corpus
    mining at scale runs through the ANN path
    (hard_negative_pairs_ann, 3*N^1.5 contract); the exact full-corpus
    baseline lives on as exact_hard_negatives, referee-tested against
    both at sf0.01.  Sim rounded to 6dp before the argmax; ties break
    to the highest neg_id on both engines (max-struct vs DESC rank)."""
    from zoom_spark.functions.vectors import cosine_with_norms, norm

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "vec"
        ),
    )
    h = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    qbatch = (
        v.orderBy(h.asc(), F.col("vec_id").asc())
        .limit(HNP_BATCH)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("vec").alias("q_vec"),
            norm(F.col("vec")).alias("q_norm"),
        )
    )
    corpus = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("vec").alias("b_vec"),
        norm(F.col("vec")).alias("b_norm"),
    )
    sim = F.round(
        cosine_with_norms(
            F.col("q_vec"), F.col("b_vec"), F.col("q_norm"), F.col("b_norm")
        ),
        6,
    )
    best = (
        corpus.crossJoin(F.broadcast(qbatch))
        .where(F.col("q_label") != F.col("b_label"))
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.struct(
                sim.alias("sim"),
                F.col("b_id").alias("neg_id"),
                F.col("b_label").alias("neg_label"),
            ).alias("cand"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("cand").alias("best"))
    )
    return best.select(
        "vec_id",
        "label",
        F.col("best.neg_id").alias("neg_id"),
        F.col("best.neg_label").alias("neg_label"),
        F.col("best.sim").alias("sim"),
    )


def mine_hard_negatives_ann(
    v: DataFrame, *, n_centroids: int = 8, n_probe: int = 3
) -> DataFrame:
    """ANN-backed hard-negative mining: IVF coarse cells bound the
    candidate set (each vector scores only the vectors in its n_probe
    nearest cells), label filter applied POST-probe, then one
    max-struct reduce per vector — the 100 TB shape, vs the O(N^2)
    exact baseline in hard_negative_pairs (kept as the referee).
    Input: (vec_id, label, vec[double]). Same tiebreak as the
    baseline: round(sim, 6) desc, then highest neg_id. At
    n_probe == n_centroids the probe is exhaustive and the result
    equals the exact baseline (property-tested)."""
    from zoom_spark.functions.vectors import cosine_with_norms
    from zoom_spark.similarity.ivf import (
        assign_cells,
        probe_cells,
        sample_centroids,
    )

    centroids = sample_centroids(v, "vec", "vec_id", n_centroids)
    labels = v.select(
        F.col("vec_id").alias("id"), F.col("label").alias("n_label")
    )
    cells = assign_cells(v, "vec", "vec_id", centroids).join(labels, on="id")
    probes = probe_cells(v, "vec", "vec_id", centroids, n_probe).join(
        v.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")),
        on="q_id",
    )
    sim = F.round(
        cosine_with_norms(
            F.col("q_vec"), F.col("vec"), F.col("q_norm"), F.col("v_norm")
        ),
        6,
    )
    best = (
        probes.join(cells, on="cell")
        .where(F.col("q_id") != F.col("id"))
        .where(F.col("q_label") != F.col("n_label"))
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.struct(
                sim.alias("sim"),
                F.col("id").alias("neg_id"),
                F.col("n_label").alias("neg_label"),
            ).alias("cand"),
        )
        # a vector probed via multiple cells can meet the same
        # candidate once per shared cell — max-struct dedups for free
        .groupBy("vec_id", "label")
        .agg(F.max("cand").alias("best"))
    )
    return best.select(
        "vec_id",
        "label",
        F.col("best.neg_id").alias("neg_id"),
        F.col("best.neg_label").alias("neg_label"),
        F.col("best.sim").alias("sim"),
    )


HNA_ITERS = 3
HNA_QSCALE = 1_000_000
_HNA_K_SQL = (
    "(SELECT greatest(8, CAST(floor(sqrt(count(*))) AS INTEGER)) "
    "FROM embeddings)"
)


def _hna_oracle_sql() -> str:
    from zoom_spark.queries.similarity_queries import int_lloyd_cte_sql

    return (
        int_lloyd_cte_sql(_HNA_K_SQL, HNA_ITERS, HNA_QSCALE)
        + f""",
    lab AS (SELECT vec_id, label FROM embeddings),
    cn2_f AS (
      SELECT cell, sum(cv * cv) AS n2
      FROM cent{HNA_ITERS} GROUP BY cell
    ),
    qscore AS (   -- EVERY vector probes: exact integer L2 per cell
      SELECT e.vec_id AS q_id, c.cell,
             -2 * sum(e.x * c.cv) + any_value(n.n2) AS s
      FROM edim e
      JOIN cent{HNA_ITERS} c ON e.d = c.d
      JOIN cn2_f n ON n.cell = c.cell
      GROUP BY e.vec_id, c.cell
    ),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT q_id, cell,
               row_number() OVER (
                 PARTITION BY q_id ORDER BY s, cell) AS pr
        FROM qscore
      ) WHERE pr <= 3
    ),
    nv AS MATERIALIZED (
      SELECT a.vec_id, a.cell, v.qv, l.label,
             sqrt(CAST(list_inner_product(v.qv, v.qv) AS DOUBLE)) AS nrm
      FROM assign{HNA_ITERS} a
      JOIN vecs v USING (vec_id)
      JOIN lab l USING (vec_id)
    ),
    scored AS (
      SELECT p.q_id AS vec_id, q.label,
             c.vec_id AS neg_id, c.label AS neg_label,
             floor(CAST(list_inner_product(q.qv, c.qv) AS DOUBLE)
                   / (q.nrm * c.nrm) * 1e6 + 0.5) / 1e6 AS sim
      FROM probes p
      JOIN nv c ON c.cell = p.cell
      JOIN nv q ON q.vec_id = p.q_id
      WHERE c.vec_id <> p.q_id AND c.label <> q.label
    )
    SELECT vec_id, label, neg_id, neg_label, sim FROM (
      SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, neg_id DESC) AS rn
      FROM scored
    ) WHERE rn = 1
    """
    )


@register("hard_negative_pairs_ann", sql=_hna_oracle_sql())
def hard_negative_pairs_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of hard_negative_pairs: IVF-bucketed candidate
    generation (~sqrt(N) cells, CONSTANT n_probe = 3 -> 3*N^1.5 total
    candidate work) instead of the exact N^2 scan.

    Oracle-hashed since round 9 via the integer-quantized IVF
    machinery shared with knn_ivf: the coarse quantizer is the exact
    int-Lloyd fit with a DATA-DEPENDENT k = max(8, floor(sqrt(N)))
    (the oracle computes the same k as a scalar subquery), probe
    ordering is exact integer L2, and the per-vector argmax uses the
    shared snapped-cosine contract with (sim desc, neg_id desc)
    tie-break — approximate recall, deterministic result.  The float
    operator (mine_hard_negatives_ann, cosine probe ordering) keeps
    its full-probe-equals-baseline property test."""
    from pyspark.sql import Window

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
        emb, "embedding", "vec_id", HNA_QSCALE
    ).localCheckpoint(eager=False)
    n = base.count()
    k = max(8, int(n**0.5))
    # n_probe stays CONSTANT: with sqrt(N) cells, fixed-probe work is
    # N * 3 * (N/k) = 3 N^1.5 total; a k//8-scaled probe count would
    # quietly restore N^2/8 (the round-9 scale review caught this) —
    # the recall-vs-cost tradeoff of growing k is the documented
    # production contract
    n_probe = 3
    cents = int_lloyd_fit(
        base, k=k, iters=HNA_ITERS,
        cache_key=lloyd_cache_key(sf_dir, "embeddings", "embedding", HNA_QSCALE),
    )
    labels = emb.select(F.col("vec_id").alias("id"), "label")
    nv = (
        int_assign(base, cents)
        .join(labels, on="id")
        .select(
            "id",
            "cell",
            "vec",
            "label",
            F.sqrt(int_dot(F.col("vec"), F.col("vec")).cast("double")).alias(
                "nrm"
            ),
        )
        .localCheckpoint(eager=False)
    )
    cstats = int_centroid_stats(spark, cents)
    q = base.crossJoin(cstats).select(
        F.col("id").alias("q_id"),
        F.explode(
            F.zip_with(
                F.zip_with(
                    F.col("cmat"),
                    F.col("cn2"),
                    lambda c, n2: -2 * int_dot(F.col("vec"), c) + n2,
                ),
                F.col("cid"),
                lambda sc, cid: F.struct(sc.alias("s"), cid.alias("cell")),
            )
        ).alias("sc"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("sc.s"), F.col("sc.cell"))
    probes = (
        q.withColumn("pr", F.row_number().over(wq))
        .where(F.col("pr") <= n_probe)
        .select("q_id", F.col("sc.cell").alias("cell"))
    )
    qv = nv.select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    sim = (
        F.floor(
            int_dot(F.col("q_vec"), F.col("vec")).cast("double")
            / (F.col("q_nrm") * F.col("nrm"))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    # Gated broadcasts (the already-paid n count): nv and qv are
    # vector-corpus-sized but checkpoint-derived (unknown stats), so the
    # planner sort-merge-joined the 3*N^1.5 candidate stream against
    # them — the wrong side to shuffle. Fails closed past the sizing
    # budget: a row is four scalars plus the int vector, as wide as
    # the fitted centroids.
    from zoom_spark.operators.sizing import broadcaster

    bc = broadcaster(n, 32 + 8 * (len(cents[0][1]) if cents else 0))
    cand = (
        probes.join(bc(nv), on="cell")
        .where(F.col("q_id") != F.col("id"))
        .join(bc(qv), on="q_id")
        .where(F.col("q_label") != F.col("label"))
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("q_label").alias("label"),
            F.col("id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            sim.alias("sim"),
        )
    )
    # Per-query argmax as an aggregate, not a window: max(struct) gives
    # the identical (sim desc, neg_id desc) winner — (sim, neg_id) pairs
    # are unique per query since each id joins through exactly one cell —
    # and Spark's partial (map-side) aggregation means only one row per
    # (query, map partition) crosses the exchange instead of the full
    # candidate stream (guide §2.3 "aggregate before you shuffle").
    best = F.max(F.struct("sim", "neg_id", "neg_label")).alias("m")
    return (
        cand.groupBy("vec_id", "label")
        .agg(best)
        .select(
            "vec_id",
            "label",
            F.col("m.neg_id").alias("neg_id"),
            F.col("m.neg_label").alias("neg_label"),
            F.col("m.sim").alias("sim"),
        )
    )


def _kcore_oracle_sql(rounds: int = 16, k: int = 3) -> str:
    """Unrolled peel oracle: `rounds` bulk-synchronous peel rounds as
    chained MATERIALIZED CTEs (peeling is monotone and idempotent at
    the fixpoint, so extra rounds are no-ops — 16 rounds converges
    with large margin at every test SF; verified round-12 == round-20
    at sf0.01 and sf0.1). Integer degrees only, so no float-grid
    concerns. MATERIALIZED keeps DuckDB from inlining each round's 3
    references into an exponential plan."""
    parts = [
        """li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eu AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    e0 AS MATERIALIZED (
      SELECT u AS a, v AS b FROM eu UNION ALL SELECT v AS a, u AS b FROM eu
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""s{i} AS MATERIALIZED (
      SELECT a FROM e{i-1} GROUP BY a HAVING count(*) >= {k}
    ),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i-1} e
      JOIN s{i} x ON e.a = x.a JOIN s{i} y ON e.b = y.a
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT a AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{rounds} GROUP BY a HAVING count(*) >= {k}
    UNION ALL
    -- convergence sentinel: peeling is monotone (edge set only
    -- shrinks), so equal edge counts in the last two rounds proves
    -- the fixpoint was reached inside the unroll depth. If a larger
    -- SF ever needs more rounds, this row makes the gate fail LOUDLY
    -- (the engine never emits node=-1) instead of silently diverging.
    SELECT -1 AS node, CAST(-1 AS BIGINT) AS core_deg
    WHERE (SELECT count(*) FROM e{rounds})
       <> (SELECT count(*) FROM e{rounds - 1})"""
    )


@register("kcore_parts", sql=_kcore_oracle_sql())
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (operators/graph.k_core):
    vertices surviving iterated removal of degree<3 nodes, with their
    in-core degree — the density filter that strips periphery/noise
    parts before community or ranking passes. Oracle-hashed since
    round 7: the engine peels to the true fixpoint while the oracle
    unrolls 16 peel rounds (a fixpoint superset — extra rounds are
    no-ops), all-integer so the hashes agree exactly; the pure-python
    peeling referee in tests/test_curation_extras.py stays as the
    independent check."""
    from zoom_spark.operators.graph import k_core
    from zoom_spark.queries.advanced_analytics import _co_purchase_edges

    return k_core(_co_purchase_edges(spark, sf_dir), k=3)


@register(
    "seasonal_naive_mase",
    sql="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT d, rev,
             lag(rev, 7) OVER (ORDER BY d) AS rev_7,
             lag(rev, 1) OVER (ORDER BY d) AS rev_1
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(rev - rev_7)), 2) AS mae_seasonal,
           round(avg(abs(rev - rev_7)) / avg(abs(rev - rev_1)), 6) AS mase
    FROM lagged WHERE rev_7 IS NOT NULL AND rev_1 IS NOT NULL
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast skill on daily revenue: MASE = mean
    absolute error of the 7-rows-ago forecast over that of the
    1-row-ago naive — the scale-free yardstick (Hyndman-Koehler 2006)
    a forecasting pipeline reports before trying anything fancier
    (MASE < 1: weekly seasonality carries signal). The lags run over
    the day-level PRE-AGGREGATE — one row per order date, calendar-
    bounded at any SF — so the single-task window is over a
    constant-sized frame (same justification as
    range_frame_rolling_revenue); day revenue is rounded to 2dp
    before differencing so both engines difference identical values."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev",
        F.lag("rev", 7).over(w).alias("rev_7"),
        F.lag("rev", 1).over(w).alias("rev_1"),
    ).where(F.col("rev_7").isNotNull() & F.col("rev_1").isNotNull())
    err7 = F.abs(F.col("rev") - F.col("rev_7"))
    err1 = F.abs(F.col("rev") - F.col("rev_1"))
    return lagged.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg(err7), 2).alias("mae_seasonal"),
        F.round(F.avg(err7) / F.avg(err1), 6).alias("mase"),
    )


@register(
    "conditional_entropy_props",
    sql="""
    WITH base AS (
      SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS kb,
             event_type AS et
      FROM events WHERE props IS NOT NULL
    ),
    cells AS (
      SELECT kb, et, CAST(count(*) AS DOUBLE) AS n FROM base GROUP BY 1, 2
    ),
    bt AS (SELECT kb, sum(n) AS nb FROM cells GROUP BY kb),
    tt AS (SELECT et, sum(n) AS nt FROM cells GROUP BY et),
    g AS (SELECT sum(n) AS n_tot FROM cells),
    hc AS (
      SELECT -sum((c.n / g.n_tot) * ln(c.n / b.nb)) AS h_cond
      FROM cells c JOIN bt b USING (kb) CROSS JOIN g
    ),
    hm AS (
      SELECT -sum((nt / g.n_tot) * ln(nt / g.n_tot)) AS h_type
      FROM tt CROSS JOIN g
    )
    SELECT round(h_type, 6) AS h_type,
           round(h_cond, 6) AS h_cond,
           round(h_type - h_cond, 6) AS info_gain
    FROM hm CROSS JOIN hc
    """,
)
def conditional_entropy_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(event_type | props.k mod 10) and the
    information gain H(T) - H(T|B) — the feature-usefulness
    diagnostic (does this JSON property predict behavior at all?)
    that feature stores compute across thousands of candidate
    columns. One JSON-extract + hash-aggregate pass reduces the
    stream to a <=|types| x 10 contingency; all entropy legs are
    broadcasts/1-row cross-joins over that tiny frame."""
    from zoom_spark.operators.conform import json_field

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.where(F.col("props").isNotNull())
        .select(
            (json_field("props", "k").cast("int") % 10).alias("kb"),
            F.col("event_type").alias("et"),
        )
        .groupBy("kb", "et")
        .agg(F.count("*").cast("double").alias("n"))
    )
    bt = cells.groupBy("kb").agg(F.sum("n").alias("nb"))
    tt = cells.groupBy("et").agg(F.sum("n").alias("nt"))
    g = cells.agg(F.sum("n").alias("n_tot"))
    hc = (
        cells.join(F.broadcast(bt), "kb")
        .crossJoin(F.broadcast(g))
        .agg(
            (-F.sum((F.col("n") / F.col("n_tot")) * F.log(F.col("n") / F.col("nb"))))
            .alias("h_cond")
        )
    )
    hm = tt.crossJoin(F.broadcast(g)).agg(
        (-F.sum((F.col("nt") / F.col("n_tot")) * F.log(F.col("nt") / F.col("n_tot"))))
        .alias("h_type")
    )
    return hm.crossJoin(hc).select(
        F.round("h_type", 6).alias("h_type"),
        F.round("h_cond", 6).alias("h_cond"),
        F.round(F.col("h_type") - F.col("h_cond"), 6).alias("info_gain"),
    )
