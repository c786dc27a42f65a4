"""IVF-flat approximate nearest-neighbor search (X3 scale path #2,
alongside the random-hyperplane LSH in knn.py).

Classic inverted-file design (PAPERS.md similarity-search
literature): a small coarse quantizer (C centroids) partitions the
corpus into cells; each query probes only its `n_probe` nearest
cells. The O(N·Q) scan becomes O(Q · n_probe/C · N).

Spark mapping, scale-first:
  * centroids are a MODEL ARTIFACT (C · dim floats) — fitted from a
    deterministic hash-ordered sample and embedded as literal arrays,
    exactly like broadcasting ML model weights. C is tiny (<=256);
    nothing data-sized ever reaches the driver.
  * corpus cell assignment is a pure map-side projection (argmax over
    the C-wide similarity array) — NO shuffle to build the index.
  * the probe join is an equi-join on cell id; at warehouse scale the
    corpus would be bucket-stored by cell so the join co-locates.
  * recall property: probing ALL cells is exhaustive — IVF with
    n_probe == n_centroids must equal brute force exactly (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zoom_spark.functions.vectors import cosine_with_norms, dot, norm
from zoom_spark.operators.local import local_frame


def sample_centroids(
    corpus: DataFrame, vec_col: str, id_col: str, n_centroids: int
) -> list[list[float]]:
    """Deterministic coarse quantizer: the n_centroids corpus vectors
    with the smallest xxhash64(id) — a reproducible pseudo-random
    sample taken with a distributed top-k (TakeOrderedAndProject),
    never a global sort."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("id").cast("string")), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def _unit(c: list[float]) -> list[float]:
    n = sum(x * x for x in c) ** 0.5
    return [x / n for x in c] if n > 0 else c


def _with_centroid_sims(
    df: DataFrame, vec_col, centroids: list[list[float]], out: str
) -> DataFrame:
    """Attach a C-wide array of dot products against UNIT-normalized
    centroids as column `out`. Cell assignment and probe ordering only
    need the argmax / ordering of cosine similarity, which is
    invariant under the row vector's (positive) norm — so the row
    norm is never computed and each centroid costs one fold.

    The centroid matrix rides in as ONE array<array<double>> column
    from a 1-row broadcast (map-side, no shuffle), and the similarity
    array is a nested higher-order transform over it. NOT literal
    arrays: a C x dim literal expression tree makes Catalyst
    analysis the bottleneck (measured ~4 s to COMPILE a 44x64
    literal plan vs milliseconds to execute it); the matrix-column
    form keeps the plan O(1)-sized regardless of C."""
    cmat = F.broadcast(
        local_frame(
            df.sparkSession,
            [([_unit(c) for c in centroids],)], "cmat array<array<double>>"
        )
    )
    return (
        df.crossJoin(cmat)
        .withColumn(out, F.transform(F.col("cmat"), lambda c: dot(vec_col, c)))
        .drop("cmat")
    )


def assign_cells(
    df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, vec, v_norm, cell) — argmax over the similarity array,
    map-side only. Ties break to the lowest cell index
    (array_position finds the first occurrence). The vector norm is
    computed here, once per row, so the probe join's cosine never
    re-folds it per pair."""
    with_sims = _with_centroid_sims(df, F.col(vec_col), centroids, "_sims")
    sims = F.col("_sims")
    return with_sims.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("v_norm"),
        (F.array_position(sims, F.array_max(sims)) - 1).cast("int").alias("cell"),
    )


def probe_cells(
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """(q_id, q_vec, cell) — one row per probed cell: the n_probe
    most-similar centroids per query, via sort of the zipped
    (neg-sim, index) structs (array-local, no shuffle)."""
    with_sims = _with_centroid_sims(queries, F.col(vec_col), centroids, "_sims")
    order = F.array_sort(
        F.zip_with(
            F.col("_sims"),
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda s, i: F.struct((-s).alias("neg"), i.alias("idx")),
        )
    )
    probes = F.slice(F.transform(order, lambda x: x["idx"]), 1, n_probe)
    return with_sims.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.explode(probes).alias("cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """ANN top-k: score only corpus vectors in the query's probed
    cells. Output matches brute_force_topk's schema; deterministic
    rank by (rounded sim desc, neighbor id)."""
    centroids = sample_centroids(corpus, vec_col, id_col, n_centroids)
    cells = assign_cells(corpus, vec_col, id_col, centroids)
    probes = probe_cells(queries, vec_col, id_col, centroids, n_probe)
    scored = probes.join(cells, on="cell").where(F.col("q_id") != F.col("id"))
    sim = F.round(
        cosine_with_norms(
            F.col("q_vec"), F.col("vec"), F.col("q_norm"), F.col("v_norm")
        ),
        6,
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "q_id", F.col("id").alias("neighbor_id"), sim.alias("cosine_sim")
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "q_id",
            "neighbor_id",
            "cosine_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )
