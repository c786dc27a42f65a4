"""Distributed Lloyd's k-means over an embedding column (X3 family —
the trainer for ivf.py's coarse quantizer, and a standalone clustering
operator for corpus bucketing / domain discovery).

Scale design (the part that matters at 100 TB):
  * E-step (assignment) is the map-side argmax projection from
    ivf.assign_cells — centroids ride along as a one-row broadcast
    LocalRelation (model weights), no shuffle;
  * M-step (new centroids) is TWO-PHASE: each input partition reduces
    to at most K partial rows (per-cell vector sum + count) inside an
    Arrow-batched mapInPandas pass, and only those K·num_partitions
    tiny rows shuffle for the final combine. Naive
    posexplode+groupBy(cell, dim) would shuffle N·dim rows — the
    classic mistake this module exists to avoid.
  * the centroid frame never exceeds K·dim floats, so it collects to
    the driver like any model artifact.

Determinism note: vector sums are float; across different partition
counts the last bits of a mean can differ, so k-means is gated by
PROPERTY tests (inertia monotonicity, perfect clustering recovery)
and a rows-only driver check, not a value-hash oracle.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from zoom_spark.functions.vectors import dot
from zoom_spark.operators.local import local_frame
from zoom_spark.similarity.ivf import sample_centroids


def _assign(df: DataFrame, vec_col: str, id_col: str, centroids) -> DataFrame:
    """(id, vec, cell, dist2) — nearest centroid by squared L2
    distance. ||v - c||² = ||v||² - 2·v·c + ||c||²; the argmin only
    needs (-2·v·c + ||c||²), computed as one fold per centroid."""
    # centroid matrix + per-centroid ||c||^2 ride in as a one-row
    # broadcast LocalRelation; the score array is a higher-order zip
    # over its columns. NOT literal arrays: a k x dim literal tree
    # makes Catalyst analysis the per-iteration bottleneck (same fix
    # as ivf._with_centroid_sims — Lloyd pays it EVERY iteration).
    cstats = F.broadcast(
        local_frame(
            df.sparkSession,
            [(
                [[float(x) for x in c] for c in centroids],
                [float(sum(x * x for x in c)) for c in centroids],
            )],
            "cmat array<array<double>>, cn2 array<double>",
        )
    )
    score = F.zip_with(
        F.col("cmat"),
        F.col("cn2"),
        lambda c, n2: -2.0 * dot(F.col(vec_col), c) + n2,
    )
    vnorm2 = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return df.crossJoin(cstats).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        (F.array_position(score, F.array_min(score)) - 1).cast("int").alias("cell"),
        (F.array_min(score) + vnorm2).alias("dist2"),
    )


def _mstep_means(assigned: DataFrame, dim: int) -> dict[int, list[float]]:
    """New centroid means keyed by ORIGINAL cell id: per-partition
    partial (cell, sum_vec, n) rows, then a final combine over
    <= K·num_partitions tiny rows.  Empty cells are simply absent."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            for cell, grp in pdf.groupby("cell"):
                mat = np.asarray(list(grp["vec"]), dtype=np.float64)
                sums[cell] = sums.get(cell, np.zeros(dim)) + mat.sum(axis=0)
                counts[cell] = counts.get(cell, 0) + len(grp)
        if counts:
            yield pd.DataFrame(
                {
                    "cell": list(counts),
                    "psum": [sums[c].tolist() for c in counts],
                    "n": [counts[c] for c in counts],
                }
            )

    part = assigned.select("cell", "vec").mapInPandas(
        partials, schema="cell int, psum array<double>, n bigint"
    )
    # final combine: explode the tiny partials frame (K·parts·dim rows)
    combined = (
        part.select("cell", "n", F.posexplode("psum").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("sx"), F.sum("n").alias("n"))
        .groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", (F.col("sx") / F.col("n")).alias("m")))
            ).alias("mean_entries")
        )
        .select("cell", F.transform("mean_entries", lambda e: e["m"]).alias("mean"))
        .collect()
    )
    return {r["cell"]: [float(x) for x in r["mean"]] for r in combined}


def _mstep(assigned: DataFrame, k: int, dim: int) -> list[list[float]]:
    """List form of :func:`_mstep_means` (positional relabeling on
    empty cells — k shrinks, matching standard Lloyd's)."""
    by_cell = _mstep_means(assigned, dim)
    return [by_cell[c] for c in sorted(by_cell)]


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    *,
    max_iter: int = 5,
    compute_inertia: bool = True,
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's iterations from a deterministic hash-ordered seed
    sample. Returns (centroids, inertia_per_iteration).

    ``compute_inertia=False`` skips the per-iteration inertia action
    (one full E-step scan each) for callers that only need the
    centroids (IVF training, SemDeDup) — halves the job count."""
    first = df.select(vec_col).first()
    dim = len(first[0])
    centroids = sample_centroids(df, vec_col, id_col, k)
    inertias: list[float] = []
    for _ in range(max_iter):
        assigned = _assign(df, vec_col, id_col, centroids)
        if compute_inertia:
            inertia = assigned.agg(F.sum("dist2").alias("i")).first()["i"]
            inertias.append(float(inertia))
        centroids = _mstep(assigned, k, dim)
    return centroids, inertias


def kmeans_assign(
    df: DataFrame, vec_col: str, id_col: str, centroids
) -> DataFrame:
    """(id, cell, dist2) final assignment for fitted centroids."""
    return _assign(df, vec_col, id_col, centroids).select("id", "cell", "dist2")


def int_quantize(df: DataFrame, vec_col: str, id_col: str, qscale: int) -> DataFrame:
    """(id, vec) with the vector snapped ONCE to the 1/qscale grid as
    array<long> — the integer-exact arithmetic domain shared by the
    oracle-hashed Lloyd/SemDeDup queries: dot products, norms-squared
    and partial sums of these ints are exact in both engines in ANY
    summation order, so no per-iteration float snap schedule is
    needed (round-9 technique, first used by kmeans_corpus_cells)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * qscale + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("vec"),
    )


def int_centroid_stats(
    spark: SparkSession, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """One-row broadcast ``(cmat array<array<long>>, cn2 array<long>,
    cid array<int>)``: the integer centroids, their squared norms and
    their cell ids, in ``cents`` order. Every integer-score fold over
    fitted cells (assignment, IVF probe lists, Dunn index) crosses
    this frame."""
    return F.broadcast(
        local_frame(
            spark,
            [(
                [c for _, c in cents],
                [sum(x * x for x in c) for _, c in cents],
                [cid for cid, _ in cents],
            )],
            "cmat array<array<long>>, cn2 array<long>, cid array<int>",
        )
    )


def int_dot(u: Column, v: Column) -> Column:
    """Exact long dot product of two integer array columns: the fold
    every integer score over fitted cells or planes is built from."""
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_assign(base: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """(id, vec, cell) nearest-centroid assignment over integer
    vectors: score_j = -2*v.c_j + ||c_j||^2 in exact long arithmetic;
    ties break to the lowest cell id (cents must be sorted)."""
    cstats = int_centroid_stats(base.sparkSession, cents)
    score = F.zip_with(
        F.col("cmat"),
        F.col("cn2"),
        lambda c, n2: -2 * int_dot(F.col("vec"), c) + n2,
    )
    idx = F.array_position(score, F.array_min(score)).cast("int")
    return base.crossJoin(cstats).select(
        "id", "vec", F.element_at(F.col("cid"), idx).alias("cell")
    )


# Fitted-centroid memo: int_lloyd_fit is a PURE function of (input
# data, k, iters, seed column), so two queries fitting the same cells
# over the same table may share the result.  Callers opt in with an
# explicit cache_key identifying the input data (e.g. (sf_dir realpath,
# table, vec col, qscale)); the memo holds only model-sized plain
# lists (k x dim ints), never DataFrames, so it is session-independent
# and scale-safe.  Round-10 perf fix: kmeans/semdedup/IVF/IVFPQ each
# re-fitted the identical k=8 cells (~4 s per query at sf0.1).
_LLOYD_FIT_CACHE: dict[tuple, list[tuple[int, list[int]]]] = {}


def lloyd_cache_key(
    sf_dir: str, table: str, vec_col: str, qscale: int
) -> tuple:
    """Canonical cache_key for int_lloyd_fit over a parquet table's
    quantized vector column."""
    import os as _os

    return (_os.path.realpath(sf_dir), table, vec_col, qscale)


def _int_mstep_means(assigned: DataFrame) -> dict[int, list[float]]:
    """Pure-JVM M-step for INTEGER vectors: posexplode + hash
    aggregate.  Spark's partial (map-side) aggregation reduces each
    partition to <= K*dim rows before the shuffle, so the exploded
    N*dim rows never move — same shuffle volume as the mapInPandas
    partials in _mstep_means, but with no Python-worker round-trip
    (the first mapInPandas in a session pays ~3-5 s of worker+Arrow
    startup, which dominated the per-query fit cost).  Long sums of
    quantized ints are exact in any order, so the result is bitwise
    identical to _mstep_means for integer inputs."""
    rows = (
        assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg((F.sum("x") / F.count("*")).alias("m"))
        .groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("mean_entries")
        )
        .select(
            "cell", F.transform("mean_entries", lambda e: e["m"]).alias("mean")
        )
        .collect()
    )
    return {r["cell"]: [float(x) for x in r["mean"]] for r in rows}


def md5_seed_order(ids: list[int]) -> list[int]:
    """Positions of ``ids`` in (md5(str(id)), id) order: the seed order
    of the oracle's unrolled Lloyd CTEs and of the distributed path."""
    return sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )


def int_matrix(col) -> np.ndarray:
    """(rows, dim) int64 matrix from an Arrow list<long> column of
    equal-length vectors, without a Python object per element."""
    col = col.combine_chunks()
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if len(lens) and lens.min() != lens.max():
        raise ValueError("int_matrix needs equal-length vectors")
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    return flat.reshape(len(col), int(lens[0]) if len(lens) else 0)


def cell_scores(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(rows, cells) exact int64 L2 scores -2·x·c + ||c||² of the rows
    of X against the centroid rows of C: the distributed folds'
    score_j, minus the ||x||² that no argmin over cells needs."""
    return -2 * (X @ C.T) + (C * C).sum(axis=1)


def nearest_cell(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Position in C of each row's nearest centroid. np.argmin takes
    the FIRST minimum, so with C in cell-id order ties break to the
    lowest cell id, as in int_assign."""
    return np.argmin(cell_scores(X, C), axis=1)


def local_base(base: DataFrame) -> tuple[np.ndarray, np.ndarray] | None:
    """``(ids, X)`` of an int_quantize frame on the driver, or None
    when it is above the local budget. One job reads the row count
    and the widest vector (an (id, vec) row is 8 + 8·dim bytes);
    below the budget ONE Arrow collect brings the frame over, the
    ids as an array and the vectors as an int64 matrix."""
    from zoom_spark.operators.sizing import fits

    n_rows, dim = base.agg(F.count("*"), F.max(F.size("vec"))).first()
    if not fits(n_rows, 8 + 8 * (dim or 0)):
        return None
    t = base.select("id", "vec").toArrow()
    return t.column("id").to_numpy(), int_matrix(t.column("vec"))


def int_lloyd_local(
    X: np.ndarray, cents: list[tuple[int, list[int]]], iters: int
) -> list[tuple[int, list[int]]]:
    """Driver-local replay of the distributed int-Lloyd loop
    (int_assign + _int_mstep_means) over an int64 matrix, from seed
    centroids sorted by cell id. Bitwise identical: int64 dots/norms
    are exact, nearest_cell breaks ties to the lowest cell id, the
    M-step divides the exact int sum by the count in the same IEEE
    double division before the shared floor(m + 0.5) snap, and empty
    cells drop without relabeling."""
    for _ in range(iters):
        idx = nearest_cell(X, np.asarray([c for _, c in cents], dtype=np.int64))
        new: dict[int, list[int]] = {}
        for j, (cid, _) in enumerate(cents):
            mask = idx == j
            n = int(mask.sum())
            if n:
                new[cid] = [
                    int(math.floor(float(int(t)) / n + 0.5))
                    for t in X[mask].sum(axis=0)
                ]
        cents = sorted(new.items())
    return cents


def int_lloyd_fit(
    base: DataFrame,
    k: int,
    iters: int,
    seed_order_col: str = "id",
    cache_key: tuple | None = None,
    local: tuple[np.ndarray, np.ndarray] | None = None,
) -> list[tuple[int, list[int]]]:
    """Integer-exact Lloyd fit over an int_quantize frame: md5-seeded
    (the k smallest md5(id) vectors, reproducible in ANSI SQL unlike
    xxhash64), centroid updates snapped to the integer grid with the
    shared floor(mean + 0.5) spelling.  Returns [(cell_id, centroid)]
    sorted by cell id; empty cells drop WITHOUT relabeling (dict
    keyed by original id), mirroring the unrolled oracle exactly.

    ``cache_key``: optional caller-supplied identity of the INPUT DATA
    (plus any quantization params); when given, the fit is memoized in
    _LLOYD_FIT_CACHE under (cache_key, k, iters, seed_order_col).

    ``local``: the frame's :func:`local_base`, for a caller that
    collected it already; without it the fit gates and collects
    itself."""
    from zoom_spark.operators.sizing import frame_partitions

    memo_key = None
    if cache_key is not None:
        memo_key = (cache_key, k, iters, seed_order_col)
        hit = _LLOYD_FIT_CACHE.get(memo_key)
        if hit is not None:
            return hit

    if seed_order_col == "id":
        if local is None:
            local = local_base(base)
        if local is not None:
            # r14: a model-sized quantized base trains faster with ONE
            # Arrow collect + numpy than with iters sequential Spark
            # jobs (each job was ~1.2 s of scheduler + interpreted-HOF
            # latency on a 2000-row frame at sf0.1). Same seeds, same
            # arithmetic: see int_lloyd_local.
            ids, X = local
            order = md5_seed_order(ids.tolist())
            seeds = [(j, [int(x) for x in X[i]]) for j, i in enumerate(order[:k])]
            cents = int_lloyd_local(X, seeds, iters)
            if memo_key is not None:
                _LLOYD_FIT_CACHE[memo_key] = cents
            return cents
    # Frame-sized iteration partitions: each Lloyd round runs a
    # mapInPandas partial per partition, so 32 near-empty partitions
    # cost 32 Python-worker batches per round.  coalesce never raises
    # the count, and the int M-step is summation-order exact, so the
    # result is bitwise independent of the partitioning (2.5x faster
    # at test SF, identical centroids).
    sc = base.sparkSession.sparkContext
    n_rows = base.count()
    work = base.coalesce(frame_partitions(sc, n_rows, target_rows_per_task=20_000))

    seed_rows = (
        work.orderBy(F.md5(F.col(seed_order_col).cast("string")), seed_order_col)
        .limit(k)
        .collect()
    )
    cents: list[tuple[int, list[int]]] = [
        (i, [int(x) for x in r["vec"]]) for i, r in enumerate(seed_rows)
    ]
    for _ in range(iters):
        assigned = int_assign(work, cents)
        means = _int_mstep_means(assigned)
        cents = sorted(
            (cid, [int(math.floor(m + 0.5)) for m in mean])
            for cid, mean in means.items()
        )
    if memo_key is not None:
        _LLOYD_FIT_CACHE[memo_key] = cents
    return cents
