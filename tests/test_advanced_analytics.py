"""Tests for the advanced-analytics batch (operators/graph.py,
operators/skyline.py, operators/prefix.prefix_max, functions/cdc.py,
queries/advanced_analytics.py).

Oracle hash-parity for the SQL-expressible queries is covered by the
driver / scripts/check_oracle.py; these tests cover the reusable
operators against naive references and the non-SQL-expressible CDC
kernel's defining properties.
"""

from __future__ import annotations

import random
import zlib

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from zoom_spark.functions.cdc import cdc_boundaries, cdc_chunks, chunk_bytes
from zoom_spark.operators import sizing
from zoom_spark.operators.graph import k_truss, pagerank, triangle_count
from zoom_spark.operators.prefix import prefix_max
from zoom_spark.operators.skyline import skyline_2d

MIN, BITS, MAX = 64, 8, 1024


def _rand_bytes(n: int, seed: int) -> bytes:
    rng = random.Random(seed)
    return bytes(rng.getrandbits(8) for _ in range(n))


class TestCdcKernel:
    def test_reconstruction_and_bounds(self):
        data = _rand_bytes(8192, 1)
        chunks = chunk_bytes(data, MIN, BITS, MAX)
        assert chunks[0][0] == 0
        pos = 0
        for start, length, crc in chunks:
            assert start == pos
            assert crc == zlib.crc32(data[start : start + length])
            pos += length
        assert pos == len(data)
        for start, length, _ in chunks[:-1]:
            assert MIN <= length <= MAX
        assert 1 <= chunks[-1][1] <= MAX

    def test_empty_and_tiny(self):
        assert cdc_boundaries(b"", MIN, BITS, MAX) == []
        assert cdc_boundaries(b"ab", MIN, BITS, MAX) == [2]

    def test_edit_locality(self):
        """The CDC property fixed-size chunking lacks: prepending
        different prefixes leaves the shared suffix's chunking
        identical after the first resync boundary."""
        suffix = _rand_bytes(16384, 2)
        a = _rand_bytes(300, 3) + suffix
        b = _rand_bytes(137, 4) + suffix
        # cut positions measured from the END of each stream
        cuts_a = {len(a) - c for c in cdc_boundaries(a, MIN, BITS, MAX)}
        cuts_b = {len(b) - c for c in cdc_boundaries(b, MIN, BITS, MAX)}
        shared = cuts_a & cuts_b
        # resync must happen well before half the suffix is consumed
        assert shared, "no shared boundaries at all"
        deepest_shared = max(shared)
        assert deepest_shared >= len(suffix) // 2
        # and past the resync point the cut streams are identical
        assert {c for c in cuts_a if c <= deepest_shared} == {
            c for c in cuts_b if c <= deepest_shared
        }

    def test_avg_size_in_expected_range(self):
        data = _rand_bytes(1 << 17, 5)
        chunks = chunk_bytes(data, MIN, BITS, MAX)
        avg = len(data) / len(chunks)
        # gear CDC with min-size skipping lands above the nominal
        # 2^BITS mean; just pin a sane band
        assert 128 <= avg <= 768


class TestCdcSpark:
    def test_matches_pure_kernel(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
        got = {
            (r["doc_id"], r["chunk_idx"]): (
                r["chunk_start"],
                r["chunk_len"],
                r["chunk_crc"],
            )
            for r in cdc_chunks(docs).collect()
        }
        want = {}
        for r in docs.select("doc_id", "text").collect():
            if r["text"] is None:
                continue
            for ci, tup in enumerate(chunk_bytes(r["text"].encode("utf-8"))):
                want[(r["doc_id"], ci)] = tup
        assert got == want
        assert len(want) > 0


class TestPrefixMax:
    @pytest.mark.parametrize("exclusive", [True, False])
    def test_against_pandas(self, spark, exclusive):
        rng = random.Random(7)
        rows = [(i, rng.randrange(-1000, 1000)) for i in range(500)]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "k bigint, v bigint")
        out = prefix_max(
            df, "k", "v", out_col="mx", exclusive=exclusive, num_partitions=7
        )
        got = {r["k"]: r["mx"] for r in out.collect()}
        best = None
        for k, v in sorted(rows):
            expect = best if exclusive else (v if best is None else max(best, v))
            assert got[k] == expect, f"k={k}"
            best = v if best is None else max(best, v)


class TestSkyline:
    def test_against_naive(self, spark):
        rng = random.Random(11)
        rows = [
            (i, float(rng.randrange(0, 300)), rng.randrange(0, 300))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "id bigint, price double, ts bigint")
        got = sorted(
            r["id"] for r in skyline_2d(df, "price", "ts").collect()
        )
        naive = [
            i
            for (i, p, t) in rows
            if not any(p2 < p and t2 > t for (_, p2, t2) in rows)
        ]
        assert got == sorted(naive)
        assert 0 < len(got) < len(rows)


class TestTriangles:
    def _count(self, spark, edges):
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        return triangle_count(df).collect()[0]

    def test_k4(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        r = self._count(spark, k4)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    def test_path_has_none(self, spark):
        r = self._count(spark, [(0, 1), (1, 2), (2, 3)])
        assert r["n_triangles"] == 0

    def test_two_triangles_sharing_edge(self, spark):
        # {0,1,2} and {1,2,3} share edge (1,2)
        r = self._count(spark, [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)])
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 5, 2)

    def test_against_naive_random(self, spark):
        rng = random.Random(13)
        n = 30
        edges = sorted(
            {
                (a, b)
                for _ in range(120)
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        r = self._count(spark, edges)
        es = set(edges)
        naive = sum(
            1
            for a in range(n)
            for b in range(a + 1, n)
            for c in range(b + 1, n)
            if (a, b) in es and (a, c) in es and (b, c) in es
        )
        assert r["n_triangles"] == naive

    @pytest.mark.parametrize("bad_id", [-1, 10**9])
    @pytest.mark.parametrize("op", ["triangle_count", "k_truss"])
    def test_rejects_ids_outside_order_key_range(self, spark, op, bad_id):
        """orient_edges packs (degree, id) as deg * 10^9 + id, so an id
        outside [0, 10^9) must fail instead of colliding silently
        (k_truss' own [0, 2^31) check catches -1 first)."""
        df = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2), (2, bad_id)], "u bigint, v bigint"
        )
        run = {
            "triangle_count": lambda: triangle_count(df).collect(),
            "k_truss": lambda: k_truss(df, k=3).collect(),
        }[op]
        with pytest.raises(Exception, match=r"node ids must lie in \[0, "):
            run()


def _random_edges(seed, n, draws):
    rng = random.Random(seed)
    return sorted(
        {
            (a, b)
            for _ in range(draws)
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
    )


@pytest.fixture(params=["local", "distributed"])
def pagerank_branch(request, monkeypatch):
    """Drive pagerank down its driver-local branch (default budget) or
    its distributed loop (a zero budget admits no edges)."""
    if request.param == "distributed":
        monkeypatch.setattr(sizing, "LOCAL_BYTES", 0)
    return request.param


def _numpy_pagerank(edges, iterations=10, damping=0.85):
    """Dense reference power iteration over an undirected edge list."""
    import numpy as np

    present = sorted({x for e in edges for x in e})
    idx = {node: i for i, node in enumerate(present)}
    m = len(present)
    adj = np.zeros((m, m))
    for a, b in edges:
        adj[idx[b], idx[a]] = 1.0
        adj[idx[a], idx[b]] = 1.0
    col = adj / adj.sum(axis=0, keepdims=True)
    r = np.full(m, 1.0 / m)
    for _ in range(iterations):
        r = (1 - damping) / m + damping * (col @ r)
    return {node: r[idx[node]] for node in present}


class TestPageRank:
    def test_against_numpy_power_iteration(self, spark, pagerank_branch):
        edges = _random_edges(17, 25, 80)
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        want = _numpy_pagerank(edges)
        assert set(got) == set(want)
        for node, rank in want.items():
            assert got[node] == pytest.approx(rank, abs=1e-9)
        # total mass conserved (no dangling nodes in undirected graph)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    def test_string_node_ids(self, spark, pagerank_branch):
        """String ids keep their type; ranks snapped to 9 dp each
        round stay within 1e-8 of the unsnapped reference."""
        edges = [(f"w{a:02d}", f"w{b:02d}") for a, b in _random_edges(23, 20, 60)]
        df = spark.createDataFrame(edges, "u string, v string")
        ranks = pagerank(df, iterations=4, quantize_dp=9)
        assert ranks.schema["node"].dataType.simpleString() == "string"
        got = {r["node"]: r["rank"] for r in ranks.collect()}
        want = _numpy_pagerank(edges, iterations=4)
        assert set(got) == set(want)
        for node, rank in want.items():
            assert got[node] == pytest.approx(rank, abs=1e-8)

    def test_empty_graph(self, spark):
        """Checked before the size gate, so no branch divides by a
        zero node count."""
        df = spark.createDataFrame([], "u bigint, v bigint")
        ranks = pagerank(df)
        assert ranks.schema.simpleString() == "struct<node:bigint,rank:double>"
        assert ranks.collect() == []

    def test_local_branch_job_count(self, spark):
        """Below the size gate pagerank is one count plus one Arrow
        collect of the edge frame: 3 Spark jobs on a checkpointed frame
        (the count's aggregate runs its shuffle stage as a job of its
        own), measured the same over 5 repeats. A per-iteration job
        coming back below the gate fails this."""
        import uuid

        df = spark.createDataFrame(
            _random_edges(17, 25, 80), "u bigint, v bigint"
        ).localCheckpoint()
        sc = spark.sparkContext
        group = f"pagerank-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "pagerank job count")
        try:
            pagerank(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


class TestGlobalRowNumber:
    def test_matches_single_task_window(self, spark):
        from pyspark.sql import Window

        from zoom_spark.operators.prefix import global_row_number

        rng = random.Random(19)
        rows = [
            (i, float(rng.randrange(0, 100))) for i in range(1000)
        ]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "id bigint, p double")
        got = {
            r["id"]: r["rn"]
            for r in global_row_number(
                df, ["p", "id"], num_partitions=7
            ).collect()
        }
        want = {
            r["id"]: r["rn"]
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("p", "id"))
            ).collect()
        }
        assert got == want


class TestQueriesSanity:
    def test_equidepth_bucket_sizes(self, spark):
        from zoom_spark.queries.advanced_analytics import equidepth_histogram

        rows = sorted(
            equidepth_histogram(spark, SF_DIR).collect(),
            key=lambda r: r["bucket"],
        )
        assert [r["bucket"] for r in rows] == list(range(1, 11))
        sizes = {r["n_rows"] for r in rows}
        assert len(sizes) <= 2 and max(sizes) - min(sizes) <= 1
        # equi-depth: bucket ranges are contiguous and ordered
        for a, b in zip(rows, rows[1:]):
            assert a["hi"] <= b["lo"]

    def test_markov_rows_normalize(self, spark):
        from zoom_spark.queries.advanced_analytics import markov_transitions

        rows = markov_transitions(spark, SF_DIR).collect()
        assert rows
        by_from: dict = {}
        for r in rows:
            by_from.setdefault(r["from_type"], []).append(r["prob"])
        for probs in by_from.values():
            assert sum(probs) == pytest.approx(1.0, abs=1e-4)
    def test_twap_naive_reference(self, spark):
        from zoom_spark.io import load_table
        from zoom_spark.queries.advanced_analytics import time_weighted_avg

        got = {
            r["user_id"]: (r["twap"], r["n_intervals"])
            for r in time_weighted_avg(spark, SF_DIR).collect()
        }
        ev = load_table(spark, SF_DIR, "events").select(
            "user_id", "ts", "event_id", "value"
        )
        by_user: dict = {}
        for r in ev.collect():
            by_user.setdefault(r["user_id"], []).append(r)
        assert got
        for uid, rows in by_user.items():
            rows.sort(key=lambda r: (r["ts"], r["event_id"]))
            num = den = 0.0
            for a, b in zip(rows, rows[1:]):
                dt = (b["ts"] - a["ts"]).total_seconds()
                num += a["value"] * dt
                den += dt
            if den == 0:
                assert uid not in got
                continue
            twap, n = got[uid]
            assert n == len(rows) - 1
            assert twap == pytest.approx(num / den, rel=1e-6)

    def test_dq_report_shape(self, spark):
        from zoom_spark.queries.advanced_analytics import dq_constraint_report

        rows = {
            r["constraint_name"]: r
            for r in dq_constraint_report(spark, SF_DIR).collect()
        }
        assert len(rows) == 6
        # the synthetic data is clean: every constraint should pass
        for name, r in rows.items():
            assert r["passed"], name
        assert rows["completeness_custkey"]["metric"] == 1.0
        assert rows["uniqueness_orderkey"]["metric"] == 1.0
        assert rows["referential_custkey_in_customer"]["metric"] == 0.0

    def test_cohort_retention_invariants(self, spark):
        from zoom_spark.queries.advanced_analytics import cohort_retention

        rows = cohort_retention(spark, SF_DIR).collect()
        assert rows
        by_cohort: dict = {}
        for r in rows:
            assert r["day_offset"] >= 0
            assert 0 < r["n_active"] <= r["cohort_size"]
            by_cohort.setdefault(r["cohort_day"], {})[r["day_offset"]] = r
        for cohort, offs in by_cohort.items():
            # day 0 exists and retains the full cohort
            assert offs[0]["n_active"] == offs[0]["cohort_size"]
    def test_bitmap_matches_distinct_days(self, spark):
        from zoom_spark.queries.advanced_analytics import bitmap_day_activity

        from zoom_spark.io import load_table

        got = bitmap_day_activity(spark, SF_DIR)
        ev = load_table(spark, SF_DIR, "events")
        ref = ev.groupBy("user_id").agg(
            F.countDistinct(F.to_date("ts")).alias("d")
        )
        joined = got.join(ref, "user_id").collect()
        assert joined
        for r in joined:
            assert r["n_active_days"] == r["d"]
            assert 0 <= r["n_weekend_days"] <= r["n_active_days"]

    def test_interp_between_neighbors(self, spark):
        from zoom_spark.queries.advanced_analytics import linear_interp_fill

        rows = linear_interp_fill(spark, SF_DIR).collect()
        assert rows
        by_user: dict = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        for series in by_user.values():
            series.sort(key=lambda r: r["day"])
            # dense grid, observed endpoints, no NULL fills
            assert series[0]["is_observed"] and series[-1]["is_observed"]
            days = [r["day"] for r in series]
            assert all(
                (b - a).days == 1 for a, b in zip(days, days[1:])
            )
            obs = [
                (i, r["filled_value"])
                for i, r in enumerate(series)
                if r["is_observed"]
            ]
            for (i0, v0), (i1, v1) in zip(obs, obs[1:]):
                lo, hi = min(v0, v1), max(v0, v1)
                for j in range(i0 + 1, i1):
                    v = series[j]["filled_value"]
                    assert v is not None
                    assert lo - 1e-6 <= v <= hi + 1e-6

    def test_pattern_sessions_shape(self, spark):
        import re

        from zoom_spark.queries.advanced_analytics import (
            event_pattern_sessions,
        )

        rows = event_pattern_sessions(spark, SF_DIR).collect()
        assert rows
        pat = re.compile(r"(^|,)view(,click)*,purchase(,|$)")
        for r in rows:
            assert pat.search(r["event_seq"])
            assert r["n_events"] == r["event_seq"].count(",") + 1


def test_label_propagation_splits_bridged_cliques(spark):
    """Two 6-cliques joined by one bridge edge: connected components
    merges them, LPA must keep them as two communities."""
    from zoom_spark.operators.graph import label_propagation_communities

    edges = []
    for base in (0, 10):
        ids = list(range(base, base + 6))
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    edges.append((0, 10))  # bridge
    df = spark.createDataFrame(edges, "u long, v long")
    out = {r["node"]: r["community"] for r in
           label_propagation_communities(df).collect()}
    left = {out[i] for i in range(0, 6)}
    right = {out[i] for i in range(10, 16)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_label_propagation_single_clique_one_community(spark):
    from zoom_spark.operators.graph import label_propagation_communities

    ids = list(range(8))
    edges = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    df = spark.createDataFrame(edges, "u long, v long")
    out = {r["community"] for r in label_propagation_communities(df).collect()}
    assert len(out) == 1
