"""Product quantization ANN (X3 scale path #3, completing the
IVF-flat / LSH family with the memory-bound regime: Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
public paper, re-expressed Spark-first).

Why PQ at 100 TB: IVF-flat still stores full vectors (d floats); PQ
stores m small codes (m bytes at k<=256) — a 32x compression for
d=64/m=8 — so the candidate scan is memory-bandwidth-cheap and the
distance evaluation is m table lookups instead of a d-wide fold.

Spark mapping:
  * TRAINING: all m sub-codebooks are fitted SIMULTANEOUSLY by one
    Lloyd's loop whose E+M step is a single mapInPandas pass per
    iteration — each partition emits at most m*k partial rows
    (per-(subspace, code) vector sum + count), numpy/BLAS inside the
    batch. One job per iteration, NOT one k-means per subspace.
    Codebooks are a model artifact (m*k*(d/m) = k*d floats).
  * ENCODING: mapInPandas argmin per subspace (vectorized distance
    matrix per Arrow batch); output array<int> codes, map-only.
  * SEARCH (ADC): the query's distance lookup table (m x k, tiny) is
    embedded as a literal; the per-row approximate distance is a
    JVM-side fold of m element_at lookups — whole-stage codegen, no
    Python in the scan, no shuffle except the final top-k.

Quantization is float-sensitive (argmin ties, partial-sum order), so
gated queries are rows-only; exactness is covered by property tests:
zero-quantization-error corpora give ADC == exact L2, recall on
planted neighbors, and monotone distortion per training iteration
(tests/test_pq.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zoom_spark.operators.local import local_frame
from zoom_spark.similarity.ivf import sample_centroids


def _slice_subspaces(x: np.ndarray, m: int) -> np.ndarray:
    """(N, d) -> (m, N, d/m)."""
    n, d = x.shape
    return x.reshape(n, m, d // m).transpose(1, 0, 2)


def train_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    m: int = 8,
    k: int = 16,
    max_iter: int = 4,
) -> tuple[list, list[float]]:
    """Fit m sub-codebooks of k centroids each. Returns
    (codebooks[m][k][d/m], distortion_per_iteration). Seeds are a
    deterministic hash-ordered vector sample sliced subspace-wise."""
    first = df.select(vec_col).first()
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ds = dim // m
    seeds = np.array(sample_centroids(df, vec_col, id_col, k))  # (k, d)
    books = _slice_subspaces(seeds, m)  # (m, k, ds)
    distortions: list[float] = []
    for _ in range(max_iter):
        bks = books  # capture current iteration's codebooks

        def estep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            n_rows = 0
            err = 0.0
            sums = np.zeros((m, k, ds))
            counts = np.zeros((m, k), dtype=np.int64)
            for b in batches:
                x = np.array(b[vec_col].tolist(), dtype=np.float64)
                if not len(x):
                    continue
                n_rows += len(x)
                xs = _slice_subspaces(x, m)  # (m, N, ds)
                for j in range(m):
                    # (N, k) squared distances via BLAS
                    d2 = (
                        (xs[j] ** 2).sum(1)[:, None]
                        - 2.0 * xs[j] @ bks[j].T
                        + (bks[j] ** 2).sum(1)[None, :]
                    )
                    code = d2.argmin(1)
                    err += float(d2[np.arange(len(code)), code].sum())
                    np.add.at(sums[j], code, xs[j])
                    np.add.at(counts[j], code, 1)
            if n_rows:
                yield pd.DataFrame(
                    {
                        "n": [n_rows],
                        "err": [err],
                        "sums": [sums.reshape(-1).tolist()],
                        "counts": [counts.reshape(-1).tolist()],
                    }
                )

        rows = (
            df.select(vec_col)
            .mapInPandas(
                estep,
                "n long, err double, sums array<double>, counts array<long>",
            )
            .collect()
        )
        sums = np.sum([np.array(r["sums"]).reshape(m, k, ds) for r in rows], axis=0)
        counts = np.sum(
            [np.array(r["counts"]).reshape(m, k) for r in rows], axis=0
        )
        distortions.append(float(sum(r["err"] for r in rows)))
        new = books.copy()
        nonzero = counts > 0
        for j in range(m):
            new[j][nonzero[j]] = sums[j][nonzero[j]] / counts[j][nonzero[j], None]
        books = new
    return books.tolist(), distortions


def encode_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks,
    *,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, codes[m], *extra_cols) — map-only vectorized argmin per
    subspace; ``extra_cols`` (e.g. the IVF cell id) pass through the
    same map so no join is needed to reattach them."""
    books = np.array(codebooks)
    m, k, ds = books.shape
    extra = list(extra_cols or [])
    extra_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in extra
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            x = np.array(b[vec_col].tolist(), dtype=np.float64)
            xs = _slice_subspaces(x, m)
            codes = np.stack(
                [
                    (
                        (xs[j] ** 2).sum(1)[:, None]
                        - 2.0 * xs[j] @ books[j].T
                        + (books[j] ** 2).sum(1)[None, :]
                    ).argmin(1)
                    for j in range(m)
                ],
                axis=1,
            )  # (N, m)
            out = {"id": b[id_col].values, "codes": list(codes.astype(int))}
            for c in extra:
                out[c] = b[c].values
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col).alias(id_col), vec_col, *extra).mapInPandas(
        enc, f"id {id_type}, codes array<int>{extra_schema}"
    )


def adc_distance(codes_col, query: list[float], codebooks) -> "F.Column":
    """JVM-side asymmetric distance: sum over subspaces of the
    precomputed ||q_j - codebook[j][c]||^2 lookup — m element_at
    lookups per row against a literal m x k table, codegen'd."""
    books = np.array(codebooks)
    m, k, ds = books.shape
    q = np.array(query).reshape(m, ds)
    lut = [
        [float(((q[j] - books[j][c]) ** 2).sum()) for c in range(k)]
        for j in range(m)
    ]
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    return F.aggregate(
        F.zip_with(
            lut_lit,
            codes_col,
            lambda row, c: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_topk(
    encoded: DataFrame,
    queries: list[tuple[int, list[float]]],
    codebooks,
    *,
    k_neighbors: int = 10,
) -> DataFrame:
    """(query_id, id, adc_dist, rank) top-k per query over the
    encoded corpus. One ADC scan per query, unioned — each scan is a
    map + TakeOrdered top-k, no shuffle of the corpus; the loop is
    over the (small) query set, mirroring knn.py's broadcast design.

    The encoded frame is lazily checkpointed first: ``encode_pq`` is a
    Python-side mapInPandas, and without the checkpoint every unioned
    per-query scan would re-run the encode over the full corpus
    (len(queries) Python passes instead of one) — the same lineage cut
    ivfpq_build applies to its residual frame."""
    encoded = encoded.localCheckpoint(eager=False)
    per_query = []
    for qid, qv in queries:
        per_query.append(
            encoded.select(
                F.lit(int(qid)).alias("query_id"),
                "id",
                F.round(adc_distance(F.col("codes"), qv, codebooks), 6).alias(
                    "adc_dist"
                ),
            )
        )
    scans = per_query[0]
    for p in per_query[1:]:
        scans = scans.unionAll(p)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "id")
    return (
        scans.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "id", "adc_dist", "rank")
    )


def ivfpq_build(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    n_cells: int = 8,
    m: int = 8,
    k: int = 16,
    max_iter: int = 3,
) -> tuple[DataFrame, list[list[float]], list]:
    """Residual IVF-PQ index: coarse-quantize to n_cells (L2 argmin,
    map-only), PQ-train on the RESIDUALS x - centroid[cell] (residual
    energy is what PQ should spend its codes on — the Jégou et al.
    IVFADC layout), encode with the cell id riding along. Returns
    (encoded(id, codes, cell), cell_centroids, codebooks).

    The residual subtraction is a JVM zip_with against an
    array-of-arrays centroid literal indexed by cell — no Python, no
    join. The residual frame is lazily checkpointed: training
    iterations and encoding both scan it, and without the checkpoint
    each pass would recompute the assignment projection."""
    from zoom_spark.similarity.kmeans import _assign

    cents = sample_centroids(corpus, vec_col, id_col, n_cells)
    assigned = _assign(corpus, vec_col, id_col, cents)
    cents_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    resid = assigned.select(
        "id",
        "cell",
        F.zip_with(
            "vec",
            F.element_at(cents_lit, F.col("cell") + 1),
            lambda a, b: a - b,
        ).alias("resid"),
    ).localCheckpoint(eager=False)
    books, _ = train_pq(resid, "resid", "id", m=m, k=k, max_iter=max_iter)
    encoded = encode_pq(resid, "resid", "id", books, extra_cols=["cell"])
    return encoded, cents, books


def ivfpq_topk(
    encoded: DataFrame,
    cell_centroids: list[list[float]],
    codebooks,
    queries: list[tuple[int, list[float]]],
    *,
    n_probe: int = 3,
    k_neighbors: int = 10,
) -> DataFrame:
    """(query_id, id, adc_dist, rank) — probe each query's n_probe
    nearest cells only. The probe set ships as a tiny broadcast
    DataFrame carrying the per-(query, cell) residual lookup table AS
    DATA (m x k doubles per row), so the scan is one equi-join on
    cell + a JVM fold — scale shape identical to ivf.py's probe join,
    with PQ's m-lookup distance instead of a d-wide cosine fold."""
    cents = np.array(cell_centroids)
    books = np.array(codebooks)
    m, k, ds = books.shape
    spark = encoded.sparkSession
    rows = []
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        d2 = ((cents - q) ** 2).sum(1)
        for cell in np.argsort(d2, kind="stable")[:n_probe]:
            rq = (q - cents[cell]).reshape(m, ds)
            lut = [
                [float(((rq[j] - books[j][c]) ** 2).sum()) for c in range(k)]
                for j in range(m)
            ]
            rows.append((int(qid), int(cell), lut))
    probes = local_frame(
        spark,
        rows, "query_id int, cell int, lut array<array<double>>"
    )
    dist = F.aggregate(
        F.zip_with(
            "lut", "codes", lambda row, c: F.element_at(row, c + F.lit(1))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "id")
    return (
        encoded.join(F.broadcast(probes), "cell")
        .select("query_id", "id", F.round(dist, 6).alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("query_id", "id", "adc_dist", "rank")
    )
