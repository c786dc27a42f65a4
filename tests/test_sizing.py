"""The one size gate (operators/sizing.py).

Every gated operator must return the same rows down both of its
branches: driver-local or broadcast under the default budget, and
distributed or shuffle with ``LOCAL_BYTES`` lowered to 0. The fit memos
are cleared before each run, or a memo hit would skip the branch under
test.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

import zoom_spark.queries as Q
from tests.conftest import SF_DIR
from zoom_spark.operators import sizing
from zoom_spark.queries import similarity_queries
from zoom_spark.similarity import kmeans

GATED_QUERIES = [
    "kmeans_corpus_cells",
    "knn_ivf",
    "knn_pq_adc",
    "knn_ivfpq",
    "logreg_purchase_model",
    "tfidf_cosine_pairs",
    "community_labels_copurchase",
    "hits_supplier_part",
    "canonical_doc_ids",
    "als_one_sweep_rmse",
    "dbscan_embedding_cells",
    "k_truss_copurchase",
    "pagerank_parts",
    "textrank_keywords",
]


def _int_lloyd_fit(spark):
    from zoom_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base = kmeans.int_quantize(
        emb, "embedding", "vec_id", 1_000_000
    ).localCheckpoint(eager=False)
    return kmeans.int_lloyd_fit(base, k=8, iters=3)


def _run(spark, name):
    kmeans._LLOYD_FIT_CACHE.clear()
    similarity_queries._PQ_TRAIN_CACHE.clear()
    if name == "int_lloyd_fit":
        return _int_lloyd_fit(spark)
    # repr order: rows may hold NULLs, which do not compare with values
    return sorted(Q.QUERIES[name](spark, SF_DIR).collect(), key=repr)


@pytest.mark.parametrize("name", ["int_lloyd_fit", *GATED_QUERIES])
def test_local_branch_matches_distributed(spark, monkeypatch, name):
    """int_lloyd_fit is compared bitwise (same md5 seeds, first-minimum
    tie-break, IEEE mean division + shared floor(m+0.5) snap, empty
    cells dropped without relabel); the queries by their sorted rows."""
    local = _run(spark, name)
    assert local
    monkeypatch.setattr(sizing, "LOCAL_BYTES", 0)
    assert _run(spark, name) == local


def _sparse_documents(path):
    """Twin documents with private tokens: the query batch's postings
    are few, but its dense len(qids) x |q_vocab| matrix is mostly
    zeros, so it is the larger of the two."""
    docs = []
    for i in range(200):
        g = i // 2
        text = f"a{g} b{g} c{g} d{g} grp{i // 20}"
        docs.append((i, text, "en", "web", len(text)))
    pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(path / "documents.parquet")
    qdocs = [
        (i, text) for i, text, *_ in docs
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 16 == 0
    ]
    postings = {(i, w) for i, text in qdocs for w in text.split()}
    vocab = {w for _, w in postings}
    return len(postings), len(qdocs) * len(vocab)


def test_tfidf_query_matrix_gate_alone_refuses(spark, monkeypatch, tmp_path):
    """A budget that admits the query batch's postings (32 bytes a
    row) but not its dense query matrix (8 bytes a cell) must fall
    back to the posting join, with the same pairs."""
    from zoom_spark.queries.training_prep import tfidf_cosine_pairs

    batch_rows, cells = _sparse_documents(tmp_path)
    assert batch_rows * 32 < cells * 8

    def run():
        df = tfidf_cosine_pairs(spark, str(tmp_path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "MapInPandas" in plan, sorted(df.collect())

    numpy_path, local = run()
    assert numpy_path and local
    monkeypatch.setattr(sizing, "LOCAL_BYTES", batch_rows * 32)
    numpy_path, joined = run()
    assert not numpy_path
    assert joined == local


@pytest.mark.parametrize("bad_id", [-1, 2**31])
def test_k_truss_rejects_ids_outside_packed_range(spark, bad_id):
    from zoom_spark.operators.graph import k_truss

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, bad_id)], "u long, v long"
    )
    with pytest.raises(ValueError, match=r"\[0, 2\^31\)"):
        k_truss(edges, k=3)


# Cross-polytope centroids in md5 seed order: cell 0 is +e1, 1 is -e1,
# 2 is +e2, 3 is -e2, 4-7 are +-e3 and +-e4. Cell 2 holds its seed
# alone, cells 1 and 4-7 three copies each. The other vectors come in
# pairs mirrored about their centroid, so every Lloyd round returns
# the seeds.
_AXES = [
    (1, 0, 0, 0), (-1, 0, 0, 0), (0, 1, 0, 0), (0, -1, 0, 0),
    (0, 0, 1, 0), (0, 0, -1, 0), (0, 0, 0, 1), (0, 0, 0, -1),
]
# Query q probes cells 0 and 2, then cells 4-7 tie on the third slot
# and the lowest id (4) wins; q' mirrors q about +e1.
_PROBE_TIE = [(0.75, 0.25, 0, 0), (1.25, -0.25, 0, 0)]
# Scores equal against cells 3 and 5, so it joins cell 3; with its
# mirror about -e2.
_EQUIDISTANT = [(0, -0.5, -0.5, 0), (0, -1.5, 0.5, 0)]
# Ties all eight cells (so joins cell 0) and has norm 0; with its
# mirror about +e1.
_ZERO = [(0, 0, 0, 0), (2, 0, 0, 0)]


def _write_embeddings(path, with_zero: bool) -> dict[int, tuple]:
    """Writes the synthetic ``embeddings.parquet`` and returns its
    vectors by id. The first vector of ``_PROBE_TIE`` and the zero
    vector get ids below 20, so they are among the queries."""
    queries = [_PROBE_TIE[0], *_ZERO[:with_zero]]
    others = [
        *(_AXES[c] for c in (1, 3, 4, 5, 6, 7) for _ in range(2)),
        _PROBE_TIE[1], *_EQUIDISTANT, *_ZERO[1:1 + with_zero],
    ]
    ids = list(range(8 + len(queries) + len(others)))
    seeds = [ids[i] for i in kmeans.md5_seed_order(ids)[:8]]
    rest = [i for i in ids if i not in seeds]
    assert rest[len(queries) - 1] < 20
    rows = dict(zip(seeds + rest, [*_AXES, *queries, *others]))
    pd.DataFrame({
        "vec_id": pd.Series(list(rows), dtype="int64"),
        "embedding": [[float(x) for x in v] for v in rows.values()],
        "label": pd.Series([0] * len(rows), dtype="int32"),
    }).to_parquet(path / "embeddings.parquet")
    return rows


def _both_branches(spark, monkeypatch, sf_dir, name):
    """Sorted rows of the local branch, then of the distributed one;
    the local plan must be join-free and the distributed one not."""
    runs = []
    for budget in (sizing.LOCAL_BYTES, 0):
        with monkeypatch.context() as m:
            m.setattr(sizing, "LOCAL_BYTES", budget)
            kmeans._LLOYD_FIT_CACHE.clear()
            df = Q.QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("Join" in plan) == (budget == 0)
            runs.append(sorted(df.collect(), key=repr))
    return runs


def test_ivf_ties_match_across_branches(spark, monkeypatch, tmp_path):
    """The assignment tie (a vector equidistant from cells 3 and 5
    joins cell 3), the probe tie (four cells for q's third probe,
    cell 4 wins) and the cosine tie (copies of +e3, ranked by
    neighbor_id) come out the same down both branches."""
    rows = _write_embeddings(tmp_path, with_zero=False)
    local, dist = _both_branches(spark, monkeypatch, str(tmp_path), "kmeans_corpus_cells")
    assert local == dist
    assert [tuple(r) for r in local] == [
        (0, 3), (1, 3), (2, 1), (3, 5), (4, 3), (5, 3), (6, 3), (7, 3),
    ]
    local, dist = _both_branches(spark, monkeypatch, str(tmp_path), "knn_ivf")
    assert local == dist
    assert len({r.q_id for r in local}) == 20
    q = next(i for i, v in rows.items() if v == _PROBE_TIE[0])
    nbrs = [r.neighbor_id for r in sorted(local, key=lambda r: r.rnk) if r.q_id == q]
    by_vec = {v: i for i, v in rows.items()}
    e3 = sorted(i for i, v in rows.items() if v == _AXES[4])
    assert nbrs == [by_vec[_AXES[0]], by_vec[_PROBE_TIE[1]], by_vec[_AXES[2]], *e3[:2]]


def test_ivf_zero_norm_matches_across_branches(spark, monkeypatch, tmp_path):
    """A zero vector's cosine divides by zero: under ANSI both branches
    raise DIVIDE_BY_ZERO, without it both return NULL similarities,
    ranked last and then by neighbor_id."""
    from pyspark.errors import ArithmeticException

    rows = _write_embeddings(tmp_path, with_zero=True)
    sf_dir = str(tmp_path)
    for budget in (sizing.LOCAL_BYTES, 0):
        with monkeypatch.context() as m:
            m.setattr(sizing, "LOCAL_BYTES", budget)
            kmeans._LLOYD_FIT_CACHE.clear()
            with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
                Q.QUERIES["knn_ivf"](spark, sf_dir).collect()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        local, dist = _both_branches(spark, monkeypatch, sf_dir, "knn_ivf")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert local == dist
    zero = next(i for i, v in rows.items() if v == _ZERO[0])
    zero_rows = sorted((r for r in local if r.q_id == zero), key=lambda r: r.rnk)
    assert [r.cosine_sim for r in zero_rows] == [None] * 5
    nbrs = [r.neighbor_id for r in zero_rows]
    assert nbrs == sorted(nbrs)


@pytest.mark.parametrize("name", ["knn_ivf", "kmeans_corpus_cells"])
def test_ivf_local_branch_job_count(spark, name):
    """Below the budget, a cold build and collect runs 4 Spark jobs:
    the parquet schema read, the gate's count (its aggregate and the
    shuffle stage under it), and the one Arrow collect; the fit and
    every score after it are numpy, and the LocalRelation result
    collects without a job. The distributed plans ran 11 (knn_ivf)
    and 7 (kmeans_corpus_cells)."""
    import uuid

    kmeans._LLOYD_FIT_CACHE.clear()
    sc = spark.sparkContext
    group = f"ivf-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"{name} job count")
    try:
        assert Q.QUERIES[name](spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
