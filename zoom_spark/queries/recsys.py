"""Recommender-system operators (R197+): one-sweep ALS matrix
factorization over the customer×part purchase matrix.

Rows-only gate (iterative linear-algebra fixpoint — not
SQL-expressible); the numpy dense-ALS referee in tests/test_als.py
pins the RMSE trajectory and the objective-decrease invariant pins
the alternating-minimization semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.io import load_table
from zoom_spark.queries import register


@register("als_one_sweep_rmse")  # iterative ALS: rows-only gate
def als_one_sweep_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R197 one full ALS sweep (k=8, λ=0.1) on implicit ratings
    r(customer, part) = total quantity purchased: deterministic
    md5-hash item-factor init, then user half-sweep, then item
    half-sweep — each a groupBy + applyInPandas solving that entity's
    k×k regularized normal equations (model-sized per group; the
    other side's factors arrive by equi-join). Output: the RMSE
    trajectory (zero-baseline → after user solve → after item solve),
    6dp-quantized. operators/als.py; numpy dense referee +
    objective-decrease invariant in tests."""
    from zoom_spark.operators.als import (
        init_factors,
        predict_rmse,
        solve_side,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ratings = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum("l_quantity").alias("r"))
        .localCheckpoint(eager=False)
    )
    ifac0 = init_factors(ratings.select("i"), "i", tag="item").localCheckpoint(
        eager=False
    )
    # Counted factor-frame sizes gate the broadcasts below (operators/
    # als.py): each count materializes a checkpoint the next stage needs
    # anyway, and an entity-sized factor table beats sort-merge-joining
    # the full ratings frame three times per sweep. Fails closed past
    # the sizing budget.
    n_items = ifac0.count()
    ufac1 = solve_side(
        ratings, ifac0, "u", "i", fixed_rows=n_items
    ).localCheckpoint(eager=False)
    n_users = ufac1.count()
    ifac1 = solve_side(
        ratings, ufac1, "i", "u", fixed_rows=n_users
    ).localCheckpoint(eager=False)
    q6 = lambda c: (F.floor(c * 1000000 + 0.5) / F.lit(1000000.0)).alias(  # noqa: E731
        "rmse_q6"
    )
    stages = [
        ("zero_baseline", predict_rmse(ratings, None, ifac0, "u", "i")),
        (
            "user_sweep",
            predict_rmse(
                ratings, ufac1, ifac0, "u", "i",
                user_rows=n_users, item_rows=n_items,
            ),
        ),
        (
            "item_sweep",
            predict_rmse(
                ratings, ufac1, ifac1, "u", "i",
                user_rows=n_users, item_rows=n_items,
            ),
        ),
    ]
    out = None
    for name, frame in stages:
        one = frame.select(F.lit(name).alias("stage"), q6(F.col("rmse")))
        out = one if out is None else out.unionAll(one)
    return out
