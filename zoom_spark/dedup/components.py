"""Connected components over a near-duplicate match graph ->
canonical document ids (X2 final step: MinHash/SimHash/Jaccard
emit PAIRS; groups need the transitive closure).

Two interchangeable algorithms behind one signature (both return
(id, component) with component = min reachable id, so gated outputs
are identical):

- ``algorithm="star"`` (default): alternating large-star/small-star
  contraction from the MapReduce CC literature (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14 — public
  paper, re-expressed here as DataFrame ops). Each round: large-star
  hooks every node's larger neighbors onto the neighborhood minimum,
  small-star hooks the smaller neighbors; the edge set converges to
  per-component stars centered at the minimum id in O(log^2 n)
  rounds worst-case (observed ~log n on chains, 2-3 on the clique
  unions near-dup graphs actually look like). This is the 100 TB
  path: round count is logarithmic in component DIAMETER-free terms,
  not linear like label propagation on a chain.

- ``algorithm="label"``: iterative min-label propagation, one shuffle
  per round, O(diameter) rounds. Kept as the simple path for small /
  clique-shaped graphs where diameter is 1-2 and per-round cost wins.

Scale notes: every round's frames are localCheckpoint()ed so the plan
does not grow with iterations (lineage truncation, the standard Spark
idiom for iterative algorithms). Convergence is detected with a
(count, hash-sum) checksum of the edge set — one cheap action per
round; a checksum collision would only cost one extra (idempotent)
round. Star rounds shuffle the EDGE set only (never the documents),
and the edge frame shrinks monotonically toward one edge per
non-root node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.operators.sizing import broadcaster, frame_partitions


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame, n_parts: int, bcast) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}).  Emitted edges always point high -> low, so the
    component minimum only spreads downhill."""
    sym = _symmetrize(edges)
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("src", "mn").alias("mn"))
    )
    return (
        sym.join(bcast(mins), "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .coalesce(n_parts)
    )


def _small_star(edges: DataFrame, n_parts: int, bcast) -> DataFrame:
    """Orient every edge (max, min); for each center u connect u and
    all its (smaller) neighbors to the neighborhood minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = oriented.join(bcast(mins), "src").select(
        F.col("dst").alias("src"), F.col("mn").alias("dst")
    )
    centers = mins.select("src", F.col("mn").alias("dst"))
    return (
        nbrs.union(centers)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .coalesce(n_parts)
    )


def _checksum(edges: DataFrame) -> tuple:
    # decimal sum: immune to ANSI long-overflow on the hash aggregate
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _star_contraction(
    sym: DataFrame, n_parts: int | None, max_iter: int
) -> tuple[DataFrame, int]:
    """Alternate large-star/small-star until the edge set is stable.
    Returns (converged high->low edge set, rounds used).
    ``n_parts=None`` sizes the per-round partition count from the
    materialized edge count (frame_partitions).

    Raises RuntimeError if max_iter rounds pass without the edge-set
    checksum stabilizing: an unconverged edge set can hold multiple
    dst per src, which would surface downstream as duplicate
    (id, component) rows with no other signal."""
    edges = sym.where(F.col("src") != F.col("dst")).distinct()
    # lazy checkpoints: the checksum action right after materializes
    # them, so each round runs ONE job instead of two
    edges = edges.localCheckpoint(eager=False)
    prev = _checksum(edges)
    if n_parts is None:
        # Size round partitioning from the materialized edge count the
        # first checksum just gave us for free — frame-sized, not a
        # constant (round-4 lesson: a hardcoded cap serializes rounds).
        n_parts = frame_partitions(sym.sparkSession.sparkContext, prev[0])
        edges = edges.repartition(n_parts, "src").localCheckpoint(eager=False)
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # Broadcast hint for the node-sized per-round (src, mn) min
        # tables: the star frames are checkpointed RDD scans with
        # unknown stats, so without the hint every round sort-merge-
        # joins the edge frame against a table one groupBy just proved
        # is node-sized. The tables hold <= |V| <= 2 * edge-count rows,
        # so the checksum count from the previous round gates the hint
        # for free (r13 A/B at sf0.1: canonical_ids_chained 6.3 s
        # shuffle vs 4.3 s broadcast, identical results).
        bcast = broadcaster(2 * prev[0], 16)
        edges = _small_star(
            _large_star(edges, n_parts, bcast), n_parts, bcast
        ).localCheckpoint(eager=False)
        cur = _checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds "
            f"(edge checksum still changing: {prev}); raise max_iter — "
            "O(log^2 n) rounds suffice for any graph"
        )
    return edges, rounds


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "star",
) -> DataFrame:
    """(id, component) for every node appearing in `pairs`; component
    is the minimum node id reachable through the pair graph."""
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    # The working frames are (node, node) pairs — tiny relative to the
    # data that produced them. Their per-round partition count is
    # derived from the materialized frame size (frame_partitions, see
    # operators/sizing.py) — NOT a constant, which round 4 showed
    # serializes every round at local scale and would be a scale-killer
    # on a real cluster.
    if algorithm == "star":
        edges, _ = _star_contraction(sym, None, max_iter)
        # Converged edge set is a star per component: (member, min).
        # Roots and singletons are their own component.
        nodes = sym.select(F.col("src").alias("id")).distinct()
        members = edges.select(
            F.col("src").alias("id"), F.col("dst").alias("component")
        )
        roots = nodes.join(members, "id", "left_anti").withColumn(
            "component", F.col("id")
        )
        return members.union(roots)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        # eager=False: the count below materializes it in the same job
        .localCheckpoint(eager=False)
    )
    n_parts = frame_partitions(
        sym.sparkSession.sparkContext, labels.count()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_component", F.col("component")),
                ).alias("component"),
                (
                    F.coalesce("nbr_component", F.col("component"))
                    < F.col("component")
                ).alias("__changed"),
            )
            .coalesce(n_parts)
            # eager=False: the __changed count materializes it
            .localCheckpoint(eager=False)
        )
        n_changed = updated.where("__changed").count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    return labels


def canonical_ids(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Every row of `df` tagged with its canonical id: the component
    minimum for nodes in the match graph, the row's own id otherwise
    (singletons are their own canonical)."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        df.join(comp, df[id_col] == comp.id, "left")
        .select(
            df["*"],
            F.coalesce("component", df[id_col]).alias("canonical_id"),
        )
    )
