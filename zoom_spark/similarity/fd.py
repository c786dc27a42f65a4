"""Frequent Directions matrix sketching (Liberty 2013, KDD; Ghashami
et al. 2016 SIAM J. Comput.) — the deterministic, MERGEABLE low-rank
sketch of a tall matrix: an ℓ×d sketch B of the N×d row matrix A with
the guarantee  ‖AᵀA − BᵀB‖₂ ≤ ‖A‖²_F / ℓ.

Why it matters at 100 TB: covariance/PCA of an N×64 embedding column
needs AᵀA; the exact Gram is one pass but FD is the STREAMING/
MERGEABLE version — each partition sketches its own rows into ℓ×d
(constant memory), sketches concatenate and re-sketch without any
loss of the guarantee (the merge theorem), so the reduce tree is
O(P·ℓ·d) regardless of N. This is the matrix analog of the repo's
mergeable quantile/cardinality sketches (KLL/theta/t-digest).

Determinism: partitions are keyed by vec_id % n_groups and each group
is sorted by vec_id before sketching; numpy SVD is deterministic for
a fixed input, so the whole pipeline is replay-stable (rows-only
driver gate requires it).

No analog in the reference connector; SURVEY.md §2.11 extension
(X3 similarity family).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zoom_spark.operators.local import local_frame


def fd_reduce(rows: np.ndarray, ell: int) -> np.ndarray:
    """Sketch the rows (m×d) down to at most ``ell`` rows with one
    SVD shrink step per 2ℓ-row buffer fill (the textbook FD loop)."""
    d = rows.shape[1]
    buf = np.zeros((2 * ell, d), dtype=np.float64)
    n_buf = 0
    for r in rows:
        if n_buf == 2 * ell:
            buf, n_buf = _shrink(buf, ell)
        buf[n_buf] = r
        n_buf += 1
    sketch, n_buf = _shrink(buf[:n_buf], ell)
    return sketch[:n_buf]


def _shrink(buf: np.ndarray, ell: int) -> tuple[np.ndarray, int]:
    """One FD shrink: SVD, subtract sigma_ell^2 from every squared
    singular value, rebuild ell-1 nonzero rows (plus zero padding)."""
    _, s, vt = np.linalg.svd(buf, full_matrices=False)
    k = min(ell, len(s))
    delta = s[k - 1] ** 2 if len(s) >= k else 0.0
    s2 = np.sqrt(np.maximum(s[:k] ** 2 - delta, 0.0))
    out = np.zeros((2 * ell, buf.shape[1]), dtype=np.float64)
    out[:k] = s2[:, None] * vt[:k]
    return out, k


def fd_sketch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    ell: int = 16,
    n_groups: int = 8,
) -> np.ndarray:
    """Distributed Frequent Directions: per-group FD via
    applyInPandas (constant ℓ×d memory per task), then one final FD
    pass over the P·ℓ concatenated partial sketches (tiny — 8·16
    rows here; a treeAggregate at warehouse scale). Returns the final
    sketch as a numpy array (ℓ×d)."""
    d = len(df.select(vec_col).first()[0])
    part = df.select(
        (F.col(id_col) % n_groups).alias("grp"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    )

    def sketch_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id")
        rows = np.stack(pdf["_v"].to_numpy())
        sk = fd_reduce(rows, ell)
        return pd.DataFrame(
            {
                "grp": pdf["grp"].iloc[0],
                "idx": range(len(sk)),
                "_v": [r.tolist() for r in sk],
            }
        )

    partials = part.groupBy("grp").applyInPandas(
        sketch_group, schema=f"grp long, idx long, _v array<double>"
    )
    # final merge: P*ell rows — small by construction; order by
    # (grp, idx) for determinism before the last FD pass
    pdf = partials.toPandas().sort_values(["grp", "idx"])
    if len(pdf) == 0:
        return np.zeros((0, d))
    rows = np.stack(pdf["_v"].to_numpy())
    return fd_reduce(rows, ell)


# ---------------------------------------------------------------------------
# Sparse random projection (Achlioptas 2003 / JL transform)
# ---------------------------------------------------------------------------


def achlioptas_matrix(d_in: int, d_out: int) -> list[list[float]]:
    """Deterministic Achlioptas sparse projection matrix: entries
    +sqrt(3/d_out), 0, -sqrt(3/d_out) with probabilities 1/6, 2/3,
    1/6, derived from md5(i,j) so every engine/run builds the
    identical matrix (no RNG state). Satisfies the JL moment
    conditions (E[r]=0, E[r^2]=1/d_out), so projected squared
    distances are unbiased estimates of the originals."""
    import hashlib

    scale = (3.0 / d_out) ** 0.5
    mat = []
    for j in range(d_out):
        row = []
        for i in range(d_in):
            h = int(
                hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:8], 16
            )
            u = h % 6
            row.append(scale if u == 0 else (-scale if u == 1 else 0.0))
        mat.append(row)
    return mat


def random_project(
    df: DataFrame, vec_col: str, d_out: int = 16
) -> DataFrame:
    """Project the array<float> column to d_out dims with the
    deterministic Achlioptas matrix: the matrix rides in as ONE
    array<array<double>> column from a 1-row broadcast and the
    projection is a nested higher-order fold — JVM-side, map-only,
    O(1)-sized plan regardless of d_in x d_out (the
    catalyst-plan-compile lesson; see similarity/ivf.py)."""
    d_in = len(df.select(vec_col).first()[0])
    mat = achlioptas_matrix(d_in, d_out)
    pm = F.broadcast(
        local_frame(
            df.sparkSession,
            [(mat,)], "pmat array<array<double>>"
        )
    )

    def dot(vec, row):
        # each product snaps to an integer 1e-7 grid BEFORE the sum, so
        # the fold is an exact integer sum — bit-identical under ANY
        # evaluation/merge order (what makes this projection fully
        # oracle-able against an engine whose sum order differs)
        t = F.aggregate(
            F.zip_with(
                vec,
                row,
                lambda a, b: F.round(a * b * 1e7).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        # 4dp rounding in INTEGER arithmetic (half away from zero):
        # float rounding of t/1e7 hits half-boundaries ~1% of the
        # time and engines disagree there; integer rounding cannot
        p4 = F.when(t >= 0, (t + 500) / F.lit(1000)).otherwise(
            -((-t + 500) / F.lit(1000))
        ).cast("bigint")
        return p4.cast("double") / 1e4

    return (
        df.crossJoin(pm)
        .withColumn(
            "proj",
            F.transform(
                F.col("pmat"), lambda r: dot(F.col(vec_col).cast("array<double>"), r)
            ),
        )
        .drop("pmat")
    )
