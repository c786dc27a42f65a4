"""Property checks for the non-SQL-expressible dedup/similarity ops
(SURVEY.md §5.2.5): exact-duplicate pairs MUST always be found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from zoom_spark.io import load_table
from zoom_spark.queries.dedup_queries import DUP_OFFSET, _doubled_docs


@pytest.fixture(scope="module")
def n_docs(spark):
    return load_table(spark, SF_DIR, "documents").count()


def clone_pairs_found(result_df, n_docs) -> int:
    """Count (doc_id, doc_id+DUP_OFFSET) clone pairs in result."""
    return result_df.where(
        F.col("id_b") == F.col("id_a") + DUP_OFFSET
    ).count()


def test_minhash_captures_all_clones(spark, n_docs):
    from zoom_spark.queries.dedup_queries import minhash_dedup_docs

    res = minhash_dedup_docs(spark, SF_DIR).cache()
    clones = res.where(
        (F.col("id_b") == F.col("id_a") + DUP_OFFSET)
        & (F.col("jaccard_sim") == 1.0)
    ).count()
    # identical docs have jaccard 1.0 -> capture probability 1 at any banding
    assert clones == n_docs, f"minhash missed {n_docs - clones} clone pairs"


def test_simhash_clones_at_distance_zero(spark, n_docs):
    from zoom_spark.queries.dedup_queries import simhash_dedup_docs

    res = simhash_dedup_docs(spark, SF_DIR).cache()
    clones = res.where(
        (F.col("id_b") == F.col("id_a") + DUP_OFFSET)
        & (F.col("hamming_dist") == 0)
    ).count()
    assert clones == n_docs, f"simhash missed {n_docs - clones} clone pairs"


def test_winnow_identical_texts_share_fingerprints(spark):
    from zoom_spark.functions.text import md5_window_fingerprint

    doubled = _doubled_docs(spark, SF_DIR)
    fp = doubled.select(
        "doc_id", md5_window_fingerprint("text").alias("fp")
    )
    a = fp.where(F.col("doc_id") < DUP_OFFSET).alias("a")
    b = fp.where(F.col("doc_id") >= DUP_OFFSET).select(
        (F.col("doc_id") - DUP_OFFSET).alias("doc_id"), F.col("fp").alias("fp_b")
    ).alias("b")
    joined = a.join(b, on="doc_id")
    mismatches = joined.where(F.col("fp") != F.col("fp_b")).count()
    assert mismatches == 0


def test_lsh_knn_results_are_true_cosines_and_overlap_bruteforce(spark):
    from zoom_spark.queries.similarity_queries import knn_bruteforce, knn_lsh_bucketed

    bf = knn_bruteforce(spark, SF_DIR).select(
        "q_id", "neighbor_id", F.col("cosine_sim").alias("bf_sim")
    )
    lsh = knn_lsh_bucketed(spark, SF_DIR)
    # every LSH neighbor's similarity must equal the exact cosine
    joined = lsh.join(
        bf, on=["q_id"], how="left"
    )
    # overlap: at least one exact top-5 neighbor recovered overall
    hits = lsh.join(
        bf.withColumnRenamed("bf_sim", "sim_match"),
        on=["q_id", "neighbor_id"],
    )
    n_hits = hits.count()
    assert n_hits > 0, "LSH recovered zero exact top-5 neighbors"
    # knn_lsh_bucketed computes cosine on the 1e-6-quantized vectors
    # (round-9 integer-exact oracle contract): recovered pairs agree
    # with the float brute force within one quantization + snap step
    assert (
        hits.where(
            F.abs(F.col("cosine_sim") - F.col("sim_match")) > 3e-6
        ).count()
        == 0
    )


def test_multiprobe_lsh_recall_on_planted_neighbors(spark):
    """Multi-probe LSH must recover >= 0.9 of planted true nearest
    neighbors (cos ~ 0.947 perturbed copies) while probing only
    37/256 buckets (~14% of the corpus) — and single-bucket probing
    on the same fixture must do materially worse, proving the recall
    is earned by Hamming-adjacent probing, not by bucket luck.
    Everything is deterministic (fixed planes, fixed fixture), so the
    measured recalls are exact replays, not flaky samples."""
    from zoom_spark.similarity.knn import lsh_bucketed_topk

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qs = emb.select(
        (F.col("vec_id") + DUP_OFFSET).alias("vec_id"),
        F.transform(
            "v", lambda x, i: x + 0.06 * F.sin(F.col("vec_id") * (i + F.lit(1)))
        ).alias("v"),
    )
    n_q = qs.count()

    def planted_recall(multi_probe: int) -> float:
        res = lsh_bucketed_topk(
            emb, qs, vec_col="v", id_col="vec_id",
            dim=64, k=5, n_planes=8, multi_probe=multi_probe,
        )
        hits = res.where(
            F.col("neighbor_id") == F.col("q_id") - DUP_OFFSET
        ).count()
        return hits / n_q

    r2 = planted_recall(2)
    r0 = planted_recall(0)
    assert r2 >= 0.9, f"multi-probe recall too low: {r2:.3f}"
    assert r0 < 0.6, f"single-bucket baseline suspiciously high: {r0:.3f}"
    assert r2 > r0 + 0.25, f"probing added too little: {r0:.3f} -> {r2:.3f}"


def test_directed_probing_matches_radius1_at_half_the_scan(spark):
    """Query-directed probing (flip the least-confident bits) must
    recover ≥95% of rank-free radius-1 recall while probing 5 buckets
    per query instead of 9 — the probe budget is the scan cost at
    100 TB, so recall-per-probe is the metric that matters."""
    from zoom_spark.similarity.knn import lsh_bucketed_topk

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qs = emb.select(
        (F.col("vec_id") + DUP_OFFSET).alias("vec_id"),
        F.transform(
            "v", lambda x, i: x + 0.06 * F.sin(F.col("vec_id") * (i + F.lit(1)))
        ).alias("v"),
    )
    n_q = qs.count()

    def planted_recall(**kw) -> float:
        res = lsh_bucketed_topk(
            emb, qs, vec_col="v", id_col="vec_id",
            dim=64, k=5, n_planes=8, **kw,
        )
        return (
            res.where(F.col("neighbor_id") == F.col("q_id") - DUP_OFFSET).count()
            / n_q
        )

    r_directed = planted_recall(directed_probes=4)   # 5 buckets/query
    r_radius1 = planted_recall(multi_probe=1)        # 9 buckets/query
    r_single = planted_recall()                      # 1 bucket/query
    assert r_directed >= 0.95 * r_radius1, (
        f"directed {r_directed:.3f} << radius-1 {r_radius1:.3f}"
    )
    assert r_directed > r_single + 0.2


def test_multimodal_features_deterministic_and_shaped(spark):
    from zoom_spark.queries.multimodal_queries import multimodal_features

    res = multimodal_features(spark, SF_DIR).cache()
    # feature_csv is the gate-safe serialized vector: 8 comma-joined values
    assert (
        res.where(F.size(F.split("feature_csv", ",")) != 8).count() == 0
    )
    # deterministic: two runs agree exactly
    again = multimodal_features(spark, SF_DIR)
    diff = res.select("media_id", "feature_csv").subtract(
        again.select("media_id", "feature_csv")
    )
    assert diff.count() == 0
    # stub decode matches a driver-side recompute on a sample
    from zoom_spark.multimodal.binary_ops import decode_stub

    row = (
        load_table(spark, SF_DIR, "documents")
        .where(F.col("doc_id") == 0)
        .select("text")
        .first()
    )
    expected = ",".join(
        "%.6f" % v for v in decode_stub(row["text"].encode(), "text")
    )
    got = res.where(F.col("media_id") == 0).first()["feature_csv"]
    assert got == expected


def test_ivf_full_probe_equals_bruteforce(spark):
    """Probing every cell is exhaustive: IVF(n_probe == n_centroids)
    must reproduce brute force exactly (same pairs, sims, ranks)."""
    from pyspark.sql import functions as F

    from zoom_spark.queries.similarity_queries import _emb_double, N_QUERIES
    from zoom_spark.similarity.ivf import ivf_topk
    from zoom_spark.similarity.knn import brute_force_topk

    emb = _emb_double(spark, SF_DIR)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    bf = brute_force_topk(emb, queries, vec_col="embedding", id_col="vec_id", k=5)
    full = ivf_topk(
        emb, queries, vec_col="embedding", id_col="vec_id",
        k=5, n_centroids=8, n_probe=8,
    )
    assert full.subtract(bf).count() == 0
    assert bf.subtract(full).count() == 0


def test_ivf_partial_probe_recall(spark):
    """With n_probe < n_centroids, recall@5 should still be
    substantial, and every returned similarity must be a true cosine
    (verified against the brute-force join)."""
    from pyspark.sql import functions as F

    from zoom_spark.queries.similarity_queries import knn_bruteforce, knn_ivf

    bf = knn_bruteforce(spark, SF_DIR).select(
        "q_id", "neighbor_id", F.col("cosine_sim").alias("bf_sim")
    )
    # unpersisted at the end: knn_ivf's local branch is a LocalRelation,
    # and a later build of the same rows would otherwise read this cache
    ivf = knn_ivf(spark, SF_DIR).cache()
    try:
        hits = ivf.join(bf, on=["q_id", "neighbor_id"])
        recall = hits.count() / bf.count()
        assert recall >= 0.3, f"IVF recall@5 too low: {recall:.2f}"
        # knn_ivf computes cosine on the 1e-6-quantized vectors (the
        # round-9 integer-exact oracle contract), so its sims sit within
        # one quantization step + snap grid of the float brute force
        assert (
            hits.where(
                F.abs(F.col("cosine_sim") - F.col("bf_sim")) > 3e-6
            ).count()
            == 0
        )
    finally:
        ivf.unpersist()


def test_connected_components_merges_chains(spark):
    """Transitivity: a-b, b-c, c-d collapse to one component rooted at
    the minimum id; disjoint pairs stay separate; singletons absent
    from pairs keep their own id via canonical_ids."""
    from zoom_spark.dedup.components import canonical_ids, connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 99]], ["id"])
    canon = {
        r["id"]: r["canonical_id"]
        for r in canonical_ids(ids, pairs, id_col="id").collect()
    }
    assert canon == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 99: 99}


def test_connected_components_chain_logarithmic_rounds(spark):
    """Adversarial chain graph (diameter = n-1): the default
    large-star/small-star path must converge in O(log n) rounds, not
    the O(n) label propagation would need — THE scale property for
    100 TB dup graphs with long transitive tails. 10k-node chain:
    log2(10000) ~ 13.3; allow 2x slack for the alternation constant."""
    import math

    from zoom_spark.dedup.components import _star_contraction

    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id as src", "id + 1 as dst")
    edges, rounds = _star_contraction(pairs, n_parts=8, max_iter=60)
    assert rounds <= 2 * math.ceil(math.log2(n)) + 2, f"took {rounds} rounds"
    # Converged star: every non-root node points straight at 0.
    assert edges.where("dst != 0").count() == 0
    assert edges.count() == n - 1


def test_connected_components_star_label_agree(spark):
    """Both algorithms are exact: identical (id, component) maps on a
    mixed clique/chain/singleton-free graph with shuffled ids."""
    from zoom_spark.dedup.components import connected_components

    raw = (
        # clique on {7, 13, 42}, chain 100..104, cross-link 42-104,
        # isolated pair (5, 6), self-loop noise (9, 9)
        [(7, 13), (13, 42), (7, 42)]
        + [(i, i + 1) for i in range(100, 104)]
        + [(42, 104), (5, 6), (9, 9)]
    )
    pairs = spark.createDataFrame(raw, ["id_a", "id_b"])
    star = {
        r["id"]: r["component"]
        for r in connected_components(pairs, algorithm="star").collect()
    }
    label = {
        r["id"]: r["component"]
        for r in connected_components(pairs, algorithm="label").collect()
    }
    assert star == label
    assert star[104] == 7 and star[100] == 7 and star[6] == 5 and star[9] == 9


def test_embedding_lsh_captures_thresholded_pairs(spark):
    """The unblocked LSH default must find every pair the O(n^2)
    referee finds at threshold 0.95 on a planted-dup fixture (exact
    clones via scaling + near-clones via one perturbed coordinate),
    with zero spurious pairs (verify stage is exact)."""
    from zoom_spark.dedup.embedding import cosine_neardup_pairs
    from zoom_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    clones = emb.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + DUP_OFFSET).alias("vec_id"),
        F.transform("v", lambda x: x * 3.0).alias("v"),
    )
    near = emb.where(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 2 * DUP_OFFSET).alias("vec_id"),
        # nudge one coordinate: cosine stays ~0.99+, no longer exact
        F.transform(
            "v", lambda x, i: F.when(i == 0, x + 0.01).otherwise(x)
        ).alias("v"),
    )
    aug = emb.unionByName(clones).unionByName(near)
    kw = dict(vec_col="v", id_col="vec_id", threshold=0.95, dim=64)
    lsh = {
        (r.id_a, r.id_b, r.cosine_sim)
        for r in cosine_neardup_pairs(aug, **kw).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.cosine_sim)
        for r in cosine_neardup_pairs(aug, **kw, exact_all_pairs=True).collect()
    }
    assert exact, "fixture planted no qualifying pairs"
    assert lsh == exact, (
        f"missed {len(exact - lsh)}, spurious {len(lsh - exact)}"
    )


def test_weighted_minhash_captures_all_clones(spark, n_docs):
    from zoom_spark.queries.dedup_queries import weighted_minhash_dedup_docs

    res = weighted_minhash_dedup_docs(spark, SF_DIR).cache()
    clones = res.where(
        (F.col("id_b") == F.col("id_a") + DUP_OFFSET)
        & (F.col("wjaccard") == 1.0)
    ).count()
    assert clones == n_docs, f"weighted minhash missed {n_docs - clones} clones"


def test_weighted_signature_scale_invariance(spark):
    """doc||doc doubles every term weight; the exponential-race
    signature must be identical (scores all scale by 1/2). Signatures
    are built as weighted_minhash_dedup_pairs builds them: the
    signature fold over the term_freqs array column."""
    from zoom_spark.dedup.weighted_minhash import (
        term_freqs,
        weighted_minhash_signature,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    doubled = docs.select(
        "doc_id", F.concat_ws(" ", "text", "text").alias("text")
    )

    def signatures(d):
        return d.select("doc_id", term_freqs("text").alias("tfa")).select(
            F.col("doc_id").alias("id"),
            weighted_minhash_signature(F.col("tfa"), 16).alias("sig"),
        )

    j = signatures(docs).join(
        signatures(doubled).withColumnRenamed("sig", "sig2"), on="id"
    )
    assert j.count() == 50
    assert j.where(F.col("sig") != F.col("sig2")).count() == 0


def test_weighted_jaccard_bounds_and_self_similarity(spark):
    from zoom_spark.dedup.weighted_minhash import (
        exact_weighted_jaccard,
        term_freq_rows,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(100)
    tf = term_freq_rows(docs, "text", "doc_id")
    self_pairs = docs.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    res = exact_weighted_jaccard(self_pairs, tf).cache()
    assert res.where(F.col("wjaccard") != 1.0).count() == 0
    adj = docs.select(F.col("doc_id").alias("id_a")).join(
        docs.select(F.col("doc_id").alias("id_b")),
        F.col("id_b") == F.col("id_a") + 1,
    )
    r2 = exact_weighted_jaccard(adj, tf).cache()
    assert r2.where((F.col("wjaccard") < 0) | (F.col("wjaccard") > 1)).count() == 0


def test_multimodal_resize_and_frames_deterministic(spark):
    """Resize and frame-sample stubs: deterministic across runs,
    correct output shapes, frame offsets monotone within a media id."""
    from zoom_spark.multimodal.binary_ops import (
        resize_media,
        sample_frames,
        to_media_table,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    media = to_media_table(docs, "doc_id", "text", "image")

    r1 = resize_media(media, width=4, height=4).cache()
    assert r1.count() == 50
    assert r1.where(F.length("content") != 16).count() == 0
    r2 = resize_media(media, width=4, height=4)
    assert r1.select("media_id", "content").subtract(
        r2.select("media_id", "content")
    ).count() == 0

    fr = sample_frames(media, n_frames=4, frame_bytes=8).cache()
    assert fr.count() == 200
    assert fr.where(F.length("frame") > 8).count() == 0
    # offsets non-decreasing in frame order per media id
    from pyspark.sql import Window as W

    prev = F.lag("frame_offset").over(
        W.partitionBy("media_id").orderBy("frame_id")
    )
    bad = fr.withColumn("prev", prev).where(
        F.col("prev").isNotNull() & (F.col("frame_offset") < F.col("prev"))
    )
    assert bad.count() == 0


def test_star_contraction_raises_on_exhausted_iterations(spark):
    """ADVICE r3: an exhausted contraction loop must raise, not
    silently return a possibly-multi-dst edge set that would emit
    duplicate (id, component) rows downstream."""
    from zoom_spark.dedup.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1).collect()
    # the same graph converges comfortably within the default budget
    out = connected_components(chain).collect()
    assert all(r["component"] == 0 for r in out)
    assert len(out) == 201


def test_window_fingerprints_empty_on_short_text(spark):
    """ADVICE r9: text shorter than the window must emit NO window
    hashes — sequence(1, 0) in Spark is [1, 0] (descending), which
    used to hash truncated windows (and md5('') low-60 mod 16 == 0,
    so every empty doc emitted a spurious fingerprint) while the
    DuckDB oracle's range(1, 1) is empty."""
    from zoom_spark.functions.text import md5_window_fingerprint

    df = spark.createDataFrame(
        [("", ), ("ab",), ("1234567",), ("12345678",), ("123456789",)],
        "text string",
    ).select(
        "text",
        md5_window_fingerprint("text", window=8, keep_mod=1).alias("md5fp"),
    )
    rows = {r["text"]: r for r in df.collect()}
    for short in ("", "ab", "1234567"):
        assert rows[short]["md5fp"] == [], short
    # exactly at the window length: one window
    assert len(rows["12345678"]["md5fp"]) == 1
    assert len(rows["123456789"]["md5fp"]) == 2
