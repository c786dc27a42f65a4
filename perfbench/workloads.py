"""Workload definitions: for each query workload, the registry queries
one pass runs and the input tables (``data/<sf>``) each reads.
``ingest`` is not a query mix; its night is defined in ``ingest.py``."""

from __future__ import annotations

QUERY_WORKLOADS: dict[str, dict[str, str]] = {
    # Python workers, higher-order-function kernels, driver-local numpy
    # fits, and a driver-bound iterative fixpoint (PageRank: many small
    # jobs and localCheckpoints per op). Ops whose time at sf0.01 was
    # mostly fixed cost run at sf0.1; the graph op stays small because
    # its fixed per-iteration cost is what it measures (README.md).
    "curation_graph": {
        "minhash_dedup_docs": "sf0.01",
        "kmeans_corpus_cells": "sf0.1",
        "knn_ivf": "sf0.1",
        "pii_redaction": "sf0.1",
        "multimodal_decode_wav_ppm": "sf0.1",
        "pagerank_parts": "sf0.001",
    },
}

WORKLOADS = ("ingest", *QUERY_WORKLOADS)
