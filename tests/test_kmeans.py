"""Property tests for distributed Lloyd's k-means (float means are
not bit-exact across partitionings, so correctness is property-based:
inertia monotonicity + exact recovery of separated blobs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from zoom_spark.io import load_table
from zoom_spark.similarity.kmeans import kmeans_assign, kmeans_fit


def test_kmeans_inertia_monotone_on_corpus(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    _, inertias = kmeans_fit(emb, "embedding", "vec_id", k=8, max_iter=4)
    assert len(inertias) == 4
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a * (1 + 1e-9), f"inertia increased: {inertias}"


def test_kmeans_recovers_separated_blobs(spark):
    # 3 tight blobs far apart; k=3 must separate them perfectly
    import random

    rng = random.Random(7)
    rows = []
    for blob, center in enumerate([(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]):
        for i in range(40):
            rows.append(
                (
                    blob * 100 + i,
                    blob,
                    [center[0] + rng.uniform(-1, 1), center[1] + rng.uniform(-1, 1)],
                )
            )
    df = spark.createDataFrame(rows, "vid bigint, blob int, v array<float>")
    centroids, inertias = kmeans_fit(df, "v", "vid", k=3, max_iter=4)
    assigned = kmeans_assign(df, "v", "vid", centroids).join(
        df.select(F.col("vid").alias("id"), "blob"), on="id"
    )
    # every blob maps to exactly one cell and vice versa
    purity = assigned.groupBy("blob").agg(
        F.count_distinct("cell").alias("n_cells")
    )
    assert purity.where(F.col("n_cells") != 1).count() == 0
    cells = assigned.groupBy("cell").agg(F.count_distinct("blob").alias("n_blobs"))
    assert cells.where(F.col("n_blobs") != 1).count() == 0
    # converged inertia is the within-blob noise only (<= 40*3*2*1.0)
    assert inertias[-1] <= 300.0


def test_kmeans_assign_bounds(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    centroids, _ = kmeans_fit(emb, "embedding", "vec_id", k=5, max_iter=2)
    got = kmeans_assign(emb, "embedding", "vec_id", centroids)
    n = emb.count()
    assert got.count() == n
    bad = got.where((F.col("cell") < 0) | (F.col("cell") >= 5)).count()
    assert bad == 0
    assert got.where(F.col("dist2") < -1e-6).count() == 0


def _inline_int_dot(u, v):
    """The integer dot fold as each caller spelled it before
    kmeans.int_dot: the reference the helper's plans are held to."""
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@pytest.mark.parametrize("name", ["knn_ivf", "dunn_index_int_cells"])
def test_int_dot_plans_same_result_as_inline_fold(spark, monkeypatch, name):
    """A query built through kmeans.int_dot optimizes to a plan with
    the same result as one built with the inline fold. Local
    checkpoints are left out of both builds: each would be a fresh
    RDD, and two RDD scans never compare equal. The budget is 0
    because below it knn_ivf scores in numpy and reaches no int_dot."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import zoom_spark.similarity.kmeans as km
    from zoom_spark.operators import sizing
    from zoom_spark.queries import round10_ops, similarity_queries

    monkeypatch.setattr(sizing, "LOCAL_BYTES", 0)
    query = getattr(similarity_queries, name, None) or getattr(round10_ops, name)
    monkeypatch.setattr(
        ClassicDataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    new = query(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
    monkeypatch.setattr(km, "int_dot", _inline_int_dot)
    old = query(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
    assert new.sameResult(old)
