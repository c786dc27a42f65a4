"""Graph analytics over edge-list DataFrames.

Triangle counting with the degree-orientation trick (Cohen's
MapReduce formulation / the "compact-forward" algorithm): orient every
undirected edge from its lower-(degree, id) endpoint to the
higher one, build wedges only from each node's oriented out-edges,
and close them against the oriented edge set. Out-degree is bounded
by O(sqrt(m)) after orientation, so the wedge join — the quadratic
step in naive triangle counting — stays near-linear in edge count
even on skewed (power-law) graphs. Everything is equi-joins: shuffle
on node / (v, w) keys, no cross products, and the degree table is a
dimension-sized broadcast.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.operators.local import local_frame
from zoom_spark.operators.sizing import broadcaster, fits, frame_partitions

# ord key = degree * ORD_BASE + node_id: a single BIGINT total order
# (degree-major, id tie-break) that both sides of every comparison
# share. Node ids must lie in [0, ORD_BASE).
ORD_BASE = 1_000_000_000


def orient_edges(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Orient undirected, deduped edges `(u, v)` from the lower
    (degree, id) endpoint to the higher. Returns columns
    ``src, dst, dst_ord`` (the destination's order key, kept so the
    wedge join can order destinations without re-joining degrees).
    The query fails at execution if a node id lies outside
    [0, ORD_BASE), where two order keys could collide."""
    u, v = F.col(src), F.col(dst)
    node = F.col("node")
    deg = (
        edges.select(u.alias("node"))
        .unionAll(edges.select(v.alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .select(
            "node",
            # checked in the degree projection itself: no extra job
            F.when(
                (node < 0) | (node >= ORD_BASE),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "orient_edges node ids must lie in "
                            f"[0, {ORD_BASE}), got "
                        ),
                        node.cast("string"),
                    )
                ),
            )
            .otherwise(F.col("deg") * F.lit(ORD_BASE) + node)
            .alias("ord"),
        )
    )
    with_ord = (
        edges.join(
            F.broadcast(deg.withColumnRenamed("ord", "ord_u")),
            on=u == F.col("node"),
        )
        .drop("node")
        .join(
            F.broadcast(deg.withColumnRenamed("ord", "ord_v")),
            on=v == F.col("node"),
        )
        .drop("node")
    )
    fwd = F.col("ord_u") < F.col("ord_v")
    return with_ord.select(
        F.when(fwd, u).otherwise(v).alias("src"),
        F.when(fwd, v).otherwise(u).alias("dst"),
        F.when(fwd, F.col("ord_v")).otherwise(F.col("ord_u")).alias("dst_ord"),
    )


def _oriented_triangles(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """All triangles of a deduped undirected edge list, each found
    EXACTLY once, as rows (src, dst, w): orient edges low -> high
    (degree, id), build each node's out-neighbor set (bounded
    ~sqrt(m) by the orientation), then per oriented edge (a, b) the
    closing vertices are array_intersect(adj[a], adj[b]) — both are
    out-neighbors, and a triangle's unique generator is its
    lowest-(degree, id) edge. r14: this adjacency-intersection shape
    (already the k_truss enumerator) replaces the wedge self-join in
    triangle_count/local_clustering — wedges can be ~20x the triangle
    count, and the wedge rows all crossed an exchange (A/B at sf0.1
    on the co-purchase graph, per-node counts: 6.7-8.2 s wedge join
    vs 2.0-2.7 s adjacency intersect). One groupBy + two node-keyed
    joins; the heavy intersection runs inside the join projection,
    map-side."""
    oriented = orient_edges(edges, src=src, dst=dst).localCheckpoint(
        eager=False
    )
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    return (
        oriented.select("src", "dst")
        .join(
            adj.select(F.col("src").alias("_a"), F.col("nbrs").alias("na")),
            on=F.col("src") == F.col("_a"),
        )
        .join(
            adj.select(F.col("src").alias("_b"), F.col("nbrs").alias("nb")),
            on=F.col("dst") == F.col("_b"),
        )
        .select(
            "src", "dst", F.explode(F.array_intersect("na", "nb")).alias("w")
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iterations: int = 10,
    damping: float = 0.85,
    quantize_dp: int | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank over an undirected edge list (each edge walked both
    ways), fixed-iteration power method. Returns (node, rank); the node
    column keeps the input's id type, and an empty edge list gives an
    empty frame.

    The caller's edge frame is checkpointed lazily and counted once.
    When its directed expansion fits the ``sizing`` budget (2 rows of
    ``(from, to, out_deg)`` per edge, 24 bytes each), the power
    iteration runs driver-local: one Arrow collect of ``(src, dst)``,
    ids factorized with ``np.unique`` (bigint or string), and each
    round is ``base + damping * bincount(to, r[from] / deg[from])`` —
    the same arithmetic, iteration count and snap as the distributed
    loop, from one count and one collect instead of about thirty jobs.

    Past the budget the loop is distributed: each round is one shuffle
    (contributions grouped by destination) + a join of ranks onto the
    directed edge list. The rank frame is referenced exactly ONCE per
    round (a pure chain, no fan-out), so AQE sees each round's runtime
    aggregate size and plans the node-sized rank side as a broadcast
    join; a lazy ``localCheckpoint`` every ``checkpoint_every`` rounds
    bounds the chained plan's depth without a job of its own (r13 A/B
    at sf0.1: 11.96 s checkpointed every round vs 6.15 s chained,
    identical results). The static directed edge frame IS
    checkpointed: it is consumed by every round. Isolated nodes never
    appear (no edges); with the undirected expansion every present
    node has out-degree >= 1, so there is no dangling mass to
    redistribute."""
    # The caller's edge frame is referenced 4x in the pre-loop plan
    # (two union branches x degree-agg + join): checkpoint it once so
    # an expensive edge construction (e.g. a self-join co-purchase
    # build) materializes exactly once.
    edges = edges.localCheckpoint(eager=False)
    spark = edges.sparkSession
    n_edges = edges.count()
    # quantize_dp: engine-parity rounding schedule — snap every
    # iteration's ranks to a fixed decimal grid (floor(x*10^dp+0.5),
    # the repo's shared HALF-UP spelling) so a SQL oracle replaying the
    # same unrolled iterations sees bit-identical inputs each round and
    # float summation-order drift (~1e-17) can never accumulate across
    # iterations or reach the output grid.
    quant = float(10**quantize_dp) if quantize_dp is not None else None
    if n_edges == 0:
        node_type = edges.schema[src].dataType.simpleString()
        return local_frame(spark, [], f"node {node_type}, rank double")
    if fits(2 * n_edges, 24):
        t = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).toArrow()
        ends = np.concatenate(
            [c.to_numpy(zero_copy_only=False) for c in t.columns]
        )
        # ends = (src..., dst...), so the directed expansion is
        # from = ends, to = (dst..., src...) in factorized ids
        nodes, frm = np.unique(ends, return_inverse=True)
        to = np.concatenate([frm[n_edges:], frm[:n_edges]])
        m = len(nodes)
        deg = np.bincount(frm, minlength=m)
        r = np.full(m, 1.0 / m)
        base = (1.0 - damping) / m
        for _ in range(iterations):
            r = base + damping * np.bincount(
                to, weights=r[frm] / deg[frm], minlength=m
            )
            if quant is not None:
                r = np.floor(r * quant + 0.5) / quant
        return local_frame(spark, pa.table({"node": nodes, "rank": r}))
    directed = edges.select(
        F.col(src).alias("from"), F.col(dst).alias("to")
    ).unionAll(edges.select(F.col(dst).alias("from"), F.col(src).alias("to")))
    # Size the static edge frame's partitioning to the frame itself:
    # ~rows/target_rows_per_task, clamped to the session's parallelism
    # range. An explicit keyed repartition (NOT coalesce — round 4's
    # coalesce(<=8) collapsed the upstream join/agg stage to 8 tasks
    # and tripled the bench) keeps upstream parallelism intact and
    # co-partitions the directed edges on the join key every round
    # reuses. Per-round shuffles below are left at the session's
    # shuffle-partition count; AQE's post-shuffle coalescing trims the
    # near-empty tasks at runtime, which scales with the data where a
    # constant cannot.
    sc = edges.sparkSession.sparkContext
    out_deg = directed.groupBy("from").agg(F.count("*").alias("out_deg"))
    # Checkpoint BEFORE counting: the count both sizes the partitioning
    # and materializes the (possibly expensive) edge construction once;
    # the keyed repartition then only reshuffles the checkpointed frame.
    joined = directed.join(out_deg, on="from").localCheckpoint(eager=False)
    n_parts = frame_partitions(sc, joined.count())
    directed = joined.repartition(n_parts, "from").localCheckpoint(eager=False)
    nodes = directed.select(F.col("from").alias("node")).distinct()
    n_total = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_total))
    base = (1.0 - damping) / n_total
    for _ in range(iterations):
        contribs = (
            directed.join(ranks, on=F.col("from") == F.col("node"))
            .select(
                F.col("to").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        rank_expr = F.lit(base) + F.lit(damping) * F.col("in_mass")
        if quant is not None:
            rank_expr = F.floor(rank_expr * quant + 0.5) / F.lit(quant)
        ranks = contribs.select("node", rank_expr.alias("rank"))
        if checkpoint_every and (_ + 1) % checkpoint_every == 0:
            # bound the chained plan's depth: a LAZY checkpoint
            # truncates the Catalyst/AQE plan immediately (blocks only
            # materialize at execution), so planning work stays
            # O(checkpoint_every) rounds instead of O(iterations) while
            # keeping the per-round job-submission savings of the chain
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Count triangles in an undirected graph given a deduped edge
    list with `src < dst` normalization (one row per undirected edge,
    no self-loops). Returns a single row
    ``(n_nodes, n_edges, n_triangles)``.

    Each triangle {a, b, c} is counted exactly once: with vertices
    ordered by (degree, id) as a < b < c, the only wedge that finds it
    is (a→b, a→c), closed by the oriented edge b→c.

    The raw edge frame is materialized once via lazy localCheckpoint:
    callers pass expensive edge constructions (e.g. the co-purchase
    self-join) consumed by several plan legs (orientation, node/edge
    counts), and exchange reuse is not guaranteed to deduplicate them
    under AQE at scale. Triangle enumeration is the shared
    adjacency-intersection generator (_oriented_triangles; r14 — the
    former wedge self-join shuffled wedge rows ~20x the triangle
    count). At warehouse scale use persist(DISK_ONLY) or a checkpoint
    dir instead of localCheckpoint."""
    edges = edges.localCheckpoint(eager=False)
    tri = _oriented_triangles(edges, src=src, dst=dst).agg(
        F.count("*").alias("n_triangles")
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .agg(F.countDistinct("node").alias("n_nodes"))
    )
    counts = edges.agg(F.count("*").alias("n_edges"))
    return nodes.crossJoin(counts).crossJoin(tri).select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("n_edges").cast("bigint").alias("n_edges"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
    )


def k_core(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    k: int = 3,
    max_rounds: int = 50,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Batagelj-Zaveršnik
    semantics, bulk-synchronous): repeatedly delete every vertex whose
    degree in the REMAINING graph is < k, until a fixpoint. Returns
    the surviving vertices with their in-core degree
    ``(node, core_deg)`` — the standard density filter for graph
    cleanup (spam/periphery removal) before community or ranking
    passes.

    Scale shape mirrors the other iterative operators here: the
    symmetrized edge frame is checkpointed and partitioned by
    frame_partitions; each round is one degree aggregate plus two
    equi-semi-joins of the edge frame against the survivor set, with
    lazy localCheckpoint truncating lineage. The loop exits when a
    round deletes nothing (guaranteed: the survivor count is
    monotonically non-increasing); max_rounds is a safety rail — the
    peel cannot cycle, so hitting it raises."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionAll(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sc = edges.sparkSession.sparkContext
    sym = sym.localCheckpoint(eager=False)
    n_edges = sym.count()
    n_parts = frame_partitions(sc, n_edges)
    alive = sym.repartition(n_parts, "a").localCheckpoint(eager=False)
    for _ in range(max_rounds):
        deg = alive.groupBy("a").agg(F.count("*").alias("core_deg"))
        survivors = deg.where(F.col("core_deg") >= k).localCheckpoint(
            eager=False
        )
        nxt = (
            alive.join(survivors.select("a"), on="a", how="left_semi")
            .join(
                survivors.select(F.col("a").alias("b")),
                on="b",
                how="left_semi",
            )
            .localCheckpoint(eager=False)
        )
        n_next = nxt.count()
        if n_next == n_edges:
            return deg.where(F.col("core_deg") >= k).select(
                F.col("a").alias("node"),
                F.col("core_deg").cast("bigint").alias("core_deg"),
            )
        alive, n_edges = nxt, n_next
        if n_edges == 0:
            return alive.select(
                F.col("a").alias("node"),
                F.lit(0).cast("bigint").alias("core_deg"),
            )
    raise RuntimeError(f"k_core did not converge in {max_rounds} rounds")


def label_propagation_communities(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iterations: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007, re-expressed as DataFrame ops): every node
    starts in its own community and each round adopts the most
    frequent label among its neighbors (ties -> smallest label, so
    rounds are deterministic). Unlike connected components this
    splits a connected graph into dense regions: a bridge edge
    between two cliques cannot outvote either clique's internal
    majority. Returns (node, community).

    Scale shape mirrors pagerank: per round ONE shuffle to count
    (node, neighbor-label) votes and one max_by reduce — the
    frame-sized partition count and lazy localCheckpoint keep the
    2*iterations stages from growing the plan or paying empty tasks.
    Fixed iteration count (LPA oscillates on bipartite shapes;
    synchronous + bounded rounds is the standard remedy)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionAll(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sc = edges.sparkSession.sparkContext
    # Size the symmetrized frame's partitioning from its row count;
    # repartition (not coalesce) so the count/upstream stages keep
    # their parallelism. Per-round shuffles stay at the session count
    # with AQE trimming empties at runtime.
    sym = sym.localCheckpoint(eager=False)
    n_sym = sym.count()
    n_parts = frame_partitions(sc, n_sym)
    sym = sym.repartition(n_parts, "b").localCheckpoint(eager=False)
    # The label frame holds one row per node (<= n_sym rows), so the
    # already-paid count gates a per-round broadcast hint: label frames
    # are checkpointed RDD scans with unknown stats, and without the
    # hint every round re-shuffles the edge frame for the vote join
    # (r13 A/B at sf0.1: community_labels 8.2 s shuffle vs 5.0 s
    # broadcast, identical results); fails closed at billion-node scale.
    bcast = broadcaster(n_sym, 16)  # (node, community)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("community", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iterations):
        votes = (
            sym.join(bcast(labels), sym.b == labels.node)
            .groupBy(F.col("a"), F.col("community"))
            .agg(F.count("*").alias("n_votes"))
        )
        # most-frequent neighbor label; ties to the SMALLEST label via
        # a single max_by on a (votes, -community) composite
        labels = (
            votes.groupBy("a")
            .agg(
                F.max_by(
                    "community",
                    F.struct(
                        F.col("n_votes"), (-F.col("community")).alias("tie")
                    ),
                ).alias("community")
            )
            .select(F.col("a").alias("node"), "community")
            .localCheckpoint(eager=False)
        )
    return labels


def hits(
    edges: DataFrame,
    src: str = "hub",
    dst: str = "auth",
    iterations: int = 8,
    quantize_dp: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg hubs & authorities) over a DIRECTED edge list —
    the bipartite importance dual: a hub is good because it points at
    good authorities, an authority because good hubs point at it.
    Fixed-iteration mutual power method with L2 normalization each
    half-step. Returns ``(hubs(node, h), auths(node, a))``.

    Scale shape: the static edge frame is sized with frame_partitions
    and co-partitioned on the join key once; each half-step is one
    equi-join + one hash aggregate; the L2 normalizer is a 1-row
    broadcast (never a driver collect); and ``localCheckpoint``
    truncates lineage so round R does not replay rounds 1..R-1 (the
    raw score frame fans out to 2 consumers per half-step, so unlike
    pagerank's pure chain this loop MUST checkpoint). The node-sized
    score frames are broadcast into the edge join when the counted
    edge total bounds them inside the ``sizing`` budget — checkpointed
    frames scan with unknown stats, so without the hint every
    half-step re-shuffles the edge frame (r13 A/B at sf0.1: 7.0 s
    shuffle vs 5.2 s broadcast, identical results).

    ``quantize_dp`` snaps both score vectors to a fixed decimal grid
    (the repo's shared HALF-UP floor(x*10^dp+0.5) spelling) after
    every normalization half-step — the pagerank quantization
    schedule that makes an unrolled SQL oracle replay bit-identical
    (summation-order drift can never accumulate across rounds)."""
    if iterations < 1:
        raise ValueError(f"hits() needs iterations >= 1, got {iterations}")
    quant = float(10**quantize_dp) if quantize_dp is not None else None

    def _snap(col):
        if quant is None:
            return col
        return F.floor(col * quant + 0.5) / F.lit(quant)

    edges = edges.localCheckpoint(eager=False)
    sc = edges.sparkSession.sparkContext
    n_edges = edges.count()
    n_parts = frame_partitions(sc, n_edges)
    e = (
        edges.select(F.col(src).alias("hub"), F.col(dst).alias("auth"))
        .repartition(n_parts, "hub")
        .localCheckpoint(eager=False)
    )
    # Each score frame holds one row per distinct hub/auth node, so
    # n_edges bounds both row counts — one already-paid count gates the
    # per-round broadcast hints without an extra job (see sizing; the
    # score frames themselves must stay checkpointed because each
    # half-step's raw frame fans out to 2 consumers: the L2 normalizer
    # and the next join — a chain-style uncheckpointed loop would
    # duplicate every prior round's subplan 2x per round).
    bcast = broadcaster(n_edges, 16)  # (node, score)
    auths = (
        e.select(F.col("auth").alias("node")).distinct().withColumn("a", F.lit(1.0))
    )
    hubs = None
    for _ in range(iterations):
        hub_raw = (
            e.join(bcast(auths), on=e["auth"] == auths["node"])
            .groupBy("hub")
            .agg(F.sum("a").alias("h"))
            .localCheckpoint(eager=False)
        )
        h_norm = hub_raw.agg(
            F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm")
        )
        hubs = hub_raw.crossJoin(F.broadcast(h_norm)).select(
            F.col("hub").alias("node"),
            _snap(F.col("h") / F.col("nrm")).alias("h"),
        )
        auth_raw = (
            e.join(bcast(hubs), on=e["hub"] == hubs["node"])
            .groupBy("auth")
            .agg(F.sum("h").alias("a"))
            .localCheckpoint(eager=False)
        )
        a_norm = auth_raw.agg(
            F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm")
        )
        auths = auth_raw.crossJoin(F.broadcast(a_norm)).select(
            F.col("auth").alias("node"),
            _snap(F.col("a") / F.col("nrm")).alias("a"),
        )
    return hubs, auths


def local_clustering(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-node local clustering coefficient
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for nodes with deg ≥ 2.

    Same degree-oriented enumeration as triangle_count/k_truss (each
    triangle is FOUND once, from its lowest-(degree,id) edge, via the
    shared adjacency-intersection generator — r14, replacing the
    wedge self-join); every found triangle is exploded back onto its
    three vertices so the per-node counts are exact (the 3× explode
    is map-side). Nodes on no triangle get tri = 0 via a left join
    against the degree table."""
    edges = edges.localCheckpoint(eager=False)
    tri_nodes = (
        _oriented_triangles(edges, src=src, dst=dst)
        .select(
            F.explode(F.array("src", "dst", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("tri"))
    )
    deg = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri_nodes, on="node", how="left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("tri"), F.lit(0).cast("bigint")).alias("tri"),
            F.round(
                2.0
                * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("lcc"),
        )
    )


def k_truss(
    edges: DataFrame, k: int = 4, src: str = "u", dst: str = "v",
    max_iters: int = 50, assume_deduped: bool = False,
) -> DataFrame:
    """k-truss decomposition: iteratively delete every edge supported
    by fewer than k-2 triangles until fixpoint. Returns the surviving
    edge list (u, v, support) — the classic dense-subgraph primitive
    (a k-truss edge's endpoints share >= k-2 common neighbors, so
    trusses are cohesive cores robust to spurious links; the edge
    analog of k-core, which prunes by degree).

    Incremental support maintenance (the standard truss-peeling
    optimization) instead of re-enumerating all triangles per round:

    1. Enumerate triangles ONCE by degree-oriented adjacency
       intersection: orient every edge low→high (degree, id) order,
       build each node's out-neighbor set (bounded ~sqrt(m) by the
       orientation), then per edge (a,b) the third vertices are
       array_intersect(adj[a], adj[b]) — one groupBy plus one keyed
       join of the edge list against the node-sized adjacency table;
       no wedge-row shuffle (wedges can be 20x the triangle count).
    2. The triangle table T is checkpointed and NEVER rewritten in
       the loop. Deleted edges accumulate in a death-round-tagged set
       D; each round flags T against D (broadcast when small — three
       map-side hash joins in one whole-stage-codegen scan): a
       triangle whose earliest edge-death round == r is destroyed
       THIS round, and decrements exactly its still-alive edges.
       A triangle is destroyed exactly once, so a surviving edge's
       final support equals its live-triangle count — identical to
       recounting from scratch, at per-round cost O(scan T) with no
       shuffle of T.
    3. Support-0 edges are in NO live triangle by definition, so
       they drop out without touching T at all.
    4. If the cumulative deleted set outgrows the broadcast budget
       (a giant cascade — the 100 TB regime where D stops being
       model-sized), compact: rewrite T to the live triangles, reset
       D, and continue — per-round work returns to the affected
       neighborhood of a small D.

    Lineage is truncated via lazy localCheckpoint; driver exchanges
    are one 2-long aggregate per round. Deterministic regardless of
    partitioning (support counting is exact). ``assume_deduped=True``
    skips the defensive distinct (a full edge shuffle) for callers
    whose edge build already guarantees distinct normalized pairs.
    Raises ValueError if a node id lies outside [0, 2^31); an id in
    [ORD_BASE, 2^31) fails at execution in orient_edges."""
    cur = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_deduped:
        cur = cur.distinct()
    cur = cur.localCheckpoint(eager=False)
    # r14: every loop-state frame keys edges by ONE packed BIGINT
    # _ek = u * 2^31 + v instead of the (u, v) pair. Node ids in
    # [0, 2^31) (checked on the up-front edge aggregate below) make the
    # packing collision-free and order-exact; it halves the bytes scanned
    # and hash-probed by the per-round triangle flagging (measured on
    # the 1.88M-triangle sf0.1 co-purchase graph: 0.67 s -> 0.25 s per
    # flag pass). tri carries (e1, e2, e3); u/v re-emerge only in the
    # final projection via exact div/mod.
    _PACK = 1 << 31

    def _pack(u, v):
        return u * F.lit(_PACK) + v

    # One up-front aggregate over the edge list. BOTH loop-state frames
    # are keyed by edge — d_cum holds dead edges, dec_cum is
    # groupBy(_ek)-compacted — so each is provably <= n_edges rows of
    # (_ek, long). When the whole edge set fits the broadcast budget,
    # every per-round broadcast gate is decided HERE and the per-round
    # dec_cum.count() jobs (r13: one full tri-scan job per round, HALF
    # the peel cost) disappear: the lazy checkpoints chain into the
    # next round's batch.count(). Past the budget, the loop keeps the
    # r13 shape exactly (counted gates + giant-cascade compaction) —
    # fails closed at 100 TB. The same job reads the id range the _ek
    # packing needs; an id outside it would silently alias two edges.
    # It runs before orient_edges, whose broadcasts execute as soon as
    # its checkpoint is planned (orient_edges guards its own narrower
    # [0, ORD_BASE) range at execution).
    n_edges, lo, hi = cur.agg(
        F.count("*"),
        F.least(F.min("u"), F.min("v")),
        F.greatest(F.max("u"), F.max("v")),
    ).first()
    if n_edges and not (0 <= lo and hi < _PACK):
        raise ValueError(
            f"k_truss node ids must lie in [0, 2^31), got [{lo}, {hi}]"
        )
    edges_bcastable = fits(n_edges, 16)
    oriented = orient_edges(cur, src="u", dst="v").localCheckpoint(
        eager=False
    )
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    tri = (
        oriented.select("src", "dst")
        .join(
            adj.select(F.col("src").alias("_a"), F.col("nbrs").alias("na")),
            on=F.col("src") == F.col("_a"),
        )
        .join(
            adj.select(F.col("src").alias("_b"), F.col("nbrs").alias("nb")),
            on=F.col("dst") == F.col("_b"),
        )
        .select(
            "src", "dst", F.explode(F.array_intersect("na", "nb")).alias("w")
        )
        .select(
            F.least("src", "dst").alias("u1"),
            F.greatest("src", "dst").alias("v1"),
            F.least("src", "w").alias("u2"),
            F.greatest("src", "w").alias("v2"),
            F.least("dst", "w").alias("u3"),
            F.greatest("dst", "w").alias("v3"),
        )
    )
    tri = tri.select(
        _pack(F.col("u1"), F.col("v1")).alias("e1"),
        _pack(F.col("u2"), F.col("v2")).alias("e2"),
        _pack(F.col("u3"), F.col("v3")).alias("e3"),
    ).localCheckpoint(eager=False)
    support = (
        tri.select(
            F.explode(F.array("e1", "e2", "e3")).alias("_ek")
        )
        .groupBy("_ek")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    sup0 = (
        cur.select(_pack(F.col("u"), F.col("v")).alias("_ek"))
        .join(support, on="_ek", how="left")
        .select(
            "_ek",
            F.coalesce(F.col("support"), F.lit(0).cast("bigint")).alias(
                "support"
            ),
        )
        .localCheckpoint(eager=False)
    )

    def _sup_now(base, dec_cum, small):
        """Current support = frozen base support minus accumulated
        decrements.  The broadcast hint is gated on dec_cum's OWN
        tracked row count (it holds decremented ALIVE edges — up to
        3x destroyed triangles — so it can outgrow the budget while
        the dead-edge count stays small); an oversized frame falls
        back to a shuffle join instead of an executor-OOM broadcast."""
        if dec_cum is None:
            return base.select(
                "_ek", F.col("support").alias("supn")
            )
        rhs = F.broadcast(dec_cum) if small else dec_cum
        return (
            base.join(rhs, on="_ek", how="left")
            .select(
                "_ek",
                (
                    F.col("support") - F.coalesce(F.col("_dec"), F.lit(0))
                ).alias("supn"),
            )
        )

    def _not_dead(frame, d_cum, small):
        if d_cum is None:
            return frame
        rhs = d_cum.select("_ek")
        if small:
            rhs = F.broadcast(rhs)
        return frame.join(rhs, on="_ek", how="left_anti")

    d_cum: DataFrame | None = None   # (_ek, died): edges peeled so far
    dec_cum: DataFrame | None = None  # (_ek, _dec): support decrements
    n_dead = 0
    n_dec = 0
    for rnd in range(max_iters):
        # edges dying THIS round: alive, in >= 1 live triangle, below
        # threshold. Support-0 edges never touch the triangle table and
        # fall out in the final filter, so the fixpoint condition is
        # "no alive positive-support edge is sub-threshold".
        batch = (
            _not_dead(
                _sup_now(sup0, dec_cum, fits(n_dec, 16)),
                d_cum,
                fits(n_dead, 16),
            )
            .where((F.col("supn") < k - 2) & (F.col("supn") > 0))
            .select("_ek", F.lit(rnd).alias("died"))
            .localCheckpoint(eager=False)
        )
        n_active = batch.count()
        if n_active == 0:
            break
        d_cum = (
            batch
            if d_cum is None
            else d_cum.unionByName(batch).localCheckpoint(eager=False)
        )
        n_dead += n_active
        small = fits(n_dead, 16)
        flagged = tri
        for i in (1, 2, 3):
            d_i = d_cum.select(
                F.col("_ek").alias(f"e{i}"),
                F.col("died").alias(f"_d{i}"),
            )
            if small:
                d_i = F.broadcast(d_i)
            flagged = flagged.join(d_i, on=f"e{i}", how="left")
        # a triangle dies the FIRST round any of its edges dies
        # (F.least skips NULLs); decrements apply to its edges that
        # are still alive (no death round)
        destroyed_now = flagged.where(F.least("_d1", "_d2", "_d3") == rnd)
        dec_now = (
            destroyed_now.select(
                F.explode(
                    F.filter(
                        F.array(
                            *[
                                F.struct(
                                    F.col(f"e{i}").alias("_ek"),
                                    F.col(f"_d{i}").alias("died"),
                                )
                                for i in (1, 2, 3)
                            ]
                        ),
                        lambda e: e["died"].isNull(),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e._ek").alias("_ek"))
            .agg(F.count("*").cast("bigint").alias("_dec"))
        )
        dec_cum = (
            dec_now
            if dec_cum is None
            else dec_cum.unionByName(dec_now)
            .groupBy("_ek")
            .agg(F.sum("_dec").cast("bigint").alias("_dec"))
        ).localCheckpoint(eager=False)
        if edges_bcastable:
            # dec_cum is groupBy(_ek)-compacted, so <= n_edges rows —
            # already proven broadcastable by the up-front edge count.
            # No count job: the lazy checkpoint materializes inside the
            # next round's batch.count() (or the final filter), and no
            # compaction can ever be needed.
            n_dec = n_edges
            continue
        # materializes the checkpoint this round would force anyway on
        # first reuse; the count gates next round's broadcast hints
        n_dec = dec_cum.count()
        if not small or not fits(n_dec, 16):
            # giant-cascade compaction (the 100 TB regime where the
            # peeled set stops being model-sized): fold decrements into
            # a fresh base support, shrink T to live triangles, reset
            # the small-state frames — later rounds return to cheap
            # broadcast flagging over the affected neighborhood.  The
            # oversized frames are consumed here with SHUFFLE joins
            # (small=False), never broadcast.
            sup0 = (
                _not_dead(_sup_now(sup0, dec_cum, False), d_cum, False)
                .select("_ek", F.col("supn").alias("support"))
                .localCheckpoint(eager=False)
            )
            tri = (
                flagged.where(F.least("_d1", "_d2", "_d3").isNull())
                .select("e1", "e2", "e3")
                .localCheckpoint(eager=False)
            )
            d_cum, dec_cum, n_dead, n_dec = None, None, 0, 0
    # a dead edge's support froze below k-2 at death (decrements only
    # apply to alive edges), so one threshold filter excludes every
    # peeled edge and the support-0 stragglers alike
    u_type = cur.schema["u"].dataType.simpleString()
    v_type = cur.schema["v"].dataType.simpleString()
    return (
        _sup_now(sup0, dec_cum, fits(n_dec, 16))
        .where(F.col("supn") >= k - 2)
        .select(
            # exact integer unpack (DIV, not fp division — packed keys
            # exceed double's 53-bit mantissa), cast back to the
            # caller's id types
            F.expr(f"_ek DIV {_PACK}").cast(u_type).alias("u"),
            (F.col("_ek") % F.lit(_PACK)).cast(v_type).alias("v"),
            F.col("supn").alias("support"),
        )
    )
