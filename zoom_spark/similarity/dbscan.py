"""Grid-accelerated DBSCAN over 2-d point sets.

Density-based clustering as a composition of bounded DataFrame ops —
no KD-tree, no per-node mutable state, no driver loop over points:

  1. snap each point to an eps-sized grid cell;
  2. candidate pairs = each point probed against the 3x3 neighborhood
     of its cell (an equi-join on cell keys — every true eps-neighbor
     pair lands in some probe, and a cell holds O(density * eps^2)
     points, so candidate volume is N * avg-cell-occupancy, never N^2);
  3. exact filter on squared distance <= eps^2;
  4. core points = at least `min_pts` points within eps (self
     included, the DBSCAN convention);
  5. clusters = connected components over the core-core eps-graph
     (the repo's O(log n)-round star-contraction CC);
  6. border points attach to the MINIMUM cluster id among their core
     neighbors (plain DBSCAN leaves border assignment scan-order
     dependent; taking the min makes the labeling deterministic);
  7. everything else is noise (cluster NULL).

At 100 TB the cell join shuffles on the cell key (skew bounded by
physical density), the eps-graph is data-sized but sparse, and CC is
the already-audited iterative operator — nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.dedup.components import connected_components
from zoom_spark.operators.sizing import broadcaster


def dbscan_2d(
    pts: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    eps: float = 0.05,
    min_pts: int = 5,
) -> DataFrame:
    """Returns (id, cluster, is_core): cluster is the minimum member
    id of the point's density-connected component, NULL for noise."""
    base = pts.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.floor(F.col(x_col).cast("double") / eps).alias("cx"),
        F.floor(F.col(y_col).cast("double") / eps).alias("cy"),
    ).localCheckpoint(eager=False)
    # One counted gate for every point-bounded broadcast below (base,
    # core, core_lab, labeled are all <= n_pts rows): checkpointed
    # frames scan with unknown stats, so the planner otherwise
    # sort-merge-joins the 9x probe stream and the neighbor frame
    # against them. The count materializes the checkpoint the probe
    # build reads anyway; fails closed past the sizing budget at the
    # widest frame, base's 5 columns. All downstream aggregates are
    # integer-exact (counts / min ids), so the join-strategy change
    # cannot move the result.
    bc = broadcaster(base.count(), 40)
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = base.select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("px"),
                        (F.col("cy") + dy).alias("py"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("c"),
    ).select("a_id", "ax", "ay", "c.px", "c.py")
    cand = probe.join(
        bc(base),
        (F.col("px") == F.col("cx")) & (F.col("py") == F.col("cy")),
    ).where(F.col("a_id") != F.col("id"))
    d2 = F.pow(F.col("ax") - F.col("x"), 2) + F.pow(
        F.col("ay") - F.col("y"), 2
    )
    nbr = cand.where(d2 <= eps * eps).select(
        "a_id", F.col("id").alias("b_id")
    ).localCheckpoint(eager=False)
    deg = nbr.groupBy("a_id").agg(F.count("*").alias("n_nbr"))
    core = (
        base.select("id")
        .join(deg, base["id"] == deg["a_id"], "left")
        # +1: the point itself counts toward the min_pts density
        .where(F.coalesce(F.col("n_nbr"), F.lit(0)) + 1 >= min_pts)
        .select("id")
        .localCheckpoint(eager=False)
    )
    core_edges = (
        nbr.join(bc(core.withColumnRenamed("id", "a_id")), on="a_id")
        .join(bc(core.withColumnRenamed("id", "b_id")), on="b_id")
        .select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"))
    )
    comp = connected_components(core_edges)  # (id, component)
    # isolated core points (no core neighbor) form their own cluster
    core_lab = (
        core.join(comp, on="id", how="left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("cluster")
        )
        .localCheckpoint(eager=False)
    )
    border = (
        nbr.join(bc(core), nbr["a_id"] == core["id"], "left_anti")
        .join(
            bc(core_lab.withColumnRenamed("id", "b_id")),
            on="b_id",
        )
        .groupBy("a_id")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a_id").alias("id"), "cluster")
    )
    labeled = core_lab.withColumn("is_core", F.lit(True)).unionByName(
        border.withColumn("is_core", F.lit(False))
    )
    return (
        base.select("id")
        .join(bc(labeled), on="id", how="left")
        .select(
            "id",
            "cluster",
            F.coalesce("is_core", F.lit(False)).alias("is_core"),
        )
    )
