"""Alternating least squares matrix factorization (one full sweep) —
the collaborative-filtering / recommender-training primitive, shaped
the way ALS actually runs on a cluster.

Each half-sweep solves, PER ENTITY, the k×k regularized normal
equations (VᵀV + λI)u = Vᵀr over that entity's rated items — an
embarrassingly parallel groupBy + applyInPandas where every group's
problem is k×k (model-sized), never data-sized. The other side's
factors ship to the ratings via an equi-join on the item key (at
warehouse scale: a broadcast when the item side is dimension-sized,
a shuffle join otherwise — Catalyst/AQE picks). Factor
initialization is a deterministic md5 hash of (tag, id, j), so any
engine / referee reproduces the exact same starting point without a
random-state dependency.

No analog in the reference connector (SURVEY.md §2.11 extension
family).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.operators.sizing import broadcaster

ALS_K = 8
ALS_LAMBDA = 0.1


def hash_unit(tag: str, ident: int, j: int) -> float:
    """Deterministic uniform in [-0.5, 0.5) from md5(tag:id:j)."""
    h = hashlib.md5(f"{tag}:{ident}:{j}".encode()).hexdigest()[:8]
    return int(h, 16) / float(1 << 32) - 0.5


def init_factors(
    ids: DataFrame, id_col: str, k: int = ALS_K, tag: str = "item"
) -> DataFrame:
    """(id, vec: array<double>) with md5-hash init — map-only."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_ = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    id_col: ids_,
                    "vec": [
                        [hash_unit(tag, i, j) for j in range(k)] for i in ids_
                    ],
                }
            )

    return ids.select(id_col).distinct().mapInPandas(
        run, schema=f"{id_col} bigint, vec array<double>"
    )


def solve_side(
    ratings: DataFrame,
    fixed: DataFrame,
    solve_col: str,
    fixed_col: str,
    rating_col: str = "r",
    k: int = ALS_K,
    lam: float = ALS_LAMBDA,
    fixed_rows: int | None = None,
) -> DataFrame:
    """One ALS half-sweep: given `fixed` factors keyed by `fixed_col`,
    solve (VᵀV + λI)x = Vᵀr per `solve_col` group. Returns
    (solve_col, vec).

    ``fixed_rows``: the caller's COUNTED size of `fixed`. Factor frames
    are checkpointed (unknown stats), so the planner sort-merge-joins
    the full ratings frame against an entity-sized factor table; a
    counted row bound lets us broadcast the factor side instead and
    leave the ratings frame unshuffled. Fails closed to the shuffle
    join past the ``sizing`` budget (an id plus k doubles per row)."""
    if fixed_rows is not None:
        fixed = broadcaster(fixed_rows, 8 + 8 * k)(fixed)
    joined = ratings.join(fixed, on=fixed_col).select(
        solve_col, rating_col, "vec"
    )
    # r13 measured and REJECTED: pinning this exchange with an explicit
    # keyed repartition (frame_partitions row sizing, reused by the
    # groupBy) regressed the ALS sweep 8.4 -> 17.3 s at sf0.1 — the
    # up-front ratings count + the pinned exchange interact badly with
    # the lazy-checkpointed rating frame's one-shot plan. The pandas
    # solves are per-ENTITY (thousands of independent groups), so at
    # real scale AQE's byte-based sizing is adequate here.
    #
    # r14: the k x k normal equations are PLAIN SUMS — A = Σ v·vᵀ and
    # b = Σ r·v per entity — so build them with a JVM hash aggregate
    # (map-side partial aggregation shrinks the shuffle from every
    # rating row carrying a k-vector to one (k(k+1)/2 + k)-column row
    # per entity; guide §2.3 "aggregate before you shuffle") and solve
    # ALL entities with ONE batched LAPACK call per Arrow batch. The
    # former groupBy().applyInPandas shipped every rating row into
    # Python and paid a pandas group + an 8x8 solve call per entity
    # (~15k Python round-trips per half-sweep at sf0.1). Same math,
    # same solver; summation order differs only within the referee's
    # rel=1e-6 tolerance (test_als.py), far inside the 6dp output grid.
    vec = F.col("vec")
    aggs = []
    for a in range(k):
        aggs.append(
            F.sum(vec[a] * F.col(rating_col)).alias(f"_b{a}")
        )
    for a in range(k):
        for b in range(a, k):
            aggs.append(F.sum(vec[a] * vec[b]).alias(f"_a{a}_{b}"))
    ne = joined.groupBy(solve_col).agg(*aggs)

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        eye = lam * np.eye(k)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            A = np.empty((n, k, k), dtype=np.float64)
            bv = np.empty((n, k), dtype=np.float64)
            for a in range(k):
                bv[:, a] = pdf[f"_b{a}"].to_numpy(dtype=np.float64)
                for b in range(a, k):
                    col = pdf[f"_a{a}_{b}"].to_numpy(dtype=np.float64)
                    A[:, a, b] = col
                    A[:, b, a] = col
            A += eye
            x = np.linalg.solve(A, bv)  # one batched LAPACK call
            yield pd.DataFrame(
                {
                    solve_col: pdf[solve_col].astype("int64"),
                    "vec": [list(row) for row in x],
                }
            )

    return ne.mapInPandas(
        solve, schema=f"{solve_col} bigint, vec array<double>"
    )


def predict_rmse(
    ratings: DataFrame,
    user_fac: DataFrame | None,
    item_fac: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str = "r",
    user_rows: int | None = None,
    item_rows: int | None = None,
) -> DataFrame:
    """1-row frame with the RMSE of u·v predictions (prediction 0
    where a side is missing — `user_fac=None` scores the zero
    baseline). JVM-side dot product (zip_with + aggregate).

    ``user_rows`` / ``item_rows``: counted factor-frame sizes; same
    gated-broadcast contract as solve_side, at the default rank."""
    from zoom_spark.functions.vectors import dot

    if user_fac is None:
        scored = ratings.select(
            (F.col(rating_col) * F.col(rating_col)).alias("se")
        )
    else:
        uf = user_fac.withColumnRenamed("vec", "uvec")
        vf = item_fac.withColumnRenamed("vec", "ivec")
        if user_rows is not None:
            uf = broadcaster(user_rows, 8 + 8 * ALS_K)(uf)
        if item_rows is not None:
            vf = broadcaster(item_rows, 8 + 8 * ALS_K)(vf)
        scored = (
            ratings.join(uf, on=user_col)
            .join(vf, on=item_col)
            .select(
                F.pow(
                    F.col(rating_col) - dot(F.col("uvec"), F.col("ivec")), 2
                ).alias("se")
            )
        )
    return scored.agg(F.sqrt(F.avg("se")).alias("rmse"))
