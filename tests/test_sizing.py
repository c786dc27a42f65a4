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
