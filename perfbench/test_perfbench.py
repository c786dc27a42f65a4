"""Self-tests of the benchmark's own logic (no Spark session needed):

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import types

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


# -- tail percentile -------------------------------------------------------
@pytest.mark.parametrize("n, p", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
    (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert stats.samples_beyond(n, p) >= 10


def test_tail_value_and_sample_rule():
    values = [float(v) for v in range(1, 41)]
    random.Random(0).shuffle(values)
    p, v, resolved = stats.tail(values)
    assert (p, v, resolved) == (75.0, 30.0, True)
    assert sum(x > v for x in values) == 10


def test_tail_with_too_few_samples_reports_median():
    p, v, resolved = stats.tail([1.0, 2.0, 3.0, 4.0])
    assert (p, v, resolved) == (50.0, 2.5, False)


def test_op_geomean_weighs_every_op_by_its_median():
    samples = {"a": [1.0, 3.0, 2.0], "b": [8.0], "c": [4.0, 4.0]}
    assert stats.op_geomean(samples) == pytest.approx((2.0 * 8.0 * 4.0) ** (1 / 3))
    # two ops of similar cost swapping rank move it smoothly
    lo = stats.op_geomean({"x": [1.0], "y": [1.9], "z": [2.1], "w": [5.0]})
    hi = stats.op_geomean({"x": [1.0], "y": [2.1], "z": [1.9], "w": [5.0]})
    assert lo == pytest.approx(hi)
    with pytest.raises(ValueError):
        stats.op_geomean({})


def test_nearest_rank_percentile():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- span self time --------------------------------------------------------
def _span(i, parent, start, end, layer="x", name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": name}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, "queries"),
        _span(2, 1, 1.0, 3.0, "io"),
        _span(3, 1, 2.0, 5.0, "io"),      # overlaps span 2: counted once
        _span(4, 1, 8.0, 12.0, "dedup"),  # clipped to the parent's end
        _span(5, 3, 2.5, 3.5, "io"),      # grandchild: only span 3 loses it
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[3] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(4.0)
    layers = stats.layer_self_times(spans)
    assert layers["queries"] == pytest.approx(4.0)
    assert layers["io"] == pytest.approx(2.0 + 2.0 + 1.0)


def test_union_length():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3), (0.5, 1.5)]) == pytest.approx(2.5)


def test_outer_duration_skips_nested_same_family():
    spans = [
        _span(1, None, 0.0, 4.0, name="io.load_tables"),
        _span(2, 1, 0.0, 1.0, name="io.load_table"),
        _span(3, None, 5.0, 6.0, name="io.load_table"),
        _span(4, None, 6.0, 9.0, name="other"),
    ]
    assert report.outer_duration(spans, report.SPAN_TIMES["io.load_s"]) == pytest.approx(5.0)


def test_layer_calls_inside_a_hook_record_no_spans():
    import tracing

    tr = tracing.Tracer()
    inner = tr._wrap(lambda: 1, "dedup.minhash.inner", "dedup")
    outer = tr._wrap(lambda: inner(), "dedup.minhash.outer", "dedup")
    tr.hooks["dedup.minhash.outer"] = lambda args, kwargs, result, sp: inner()
    assert outer() == 1
    assert [s["name"] for s in tr.spans] == [
        "dedup.minhash.inner", "dedup.minhash.outer", "trace.hook"]
    assert tr.hook_s > 0.0
    assert not tr.in_hook()


# -- failure accounting ----------------------------------------------------
def test_fail_ratio():
    assert stats.fail_ratio(10, 0) == 0.0
    assert stats.fail_ratio(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.fail_ratio(3, 4)


class _FakeJava:
    """Just enough of the JVM-side SparkContext for Bench.run_op."""

    def sc(self):
        return self

    def getPersistentRDDs(self):
        return self

    def size(self):
        return 0

    def iterator(self):
        return self

    def hasNext(self):
        return False


class _FakeSparkContext:
    _jsc = _FakeJava()

    def setJobGroup(self, *a):
        pass

    def statusTracker(self):
        return types.SimpleNamespace(getJobIdsForGroup=lambda g: [])


def test_failing_op_is_counted_and_the_run_continues():
    pytest.importorskip("pyspark")
    import run

    spark = types.SimpleNamespace(
        sparkContext=_FakeSparkContext(),
        catalog=types.SimpleNamespace(clearCache=lambda: None),
    )
    args = types.SimpleNamespace(workload="curation_graph", seed=1, seconds=1.0, trace=0)
    bench = run.Bench(args, spark, None)

    def boom():
        raise RuntimeError("op exploded")

    ok = bench.run_op(1, "fine", lambda: (lambda: 1, lambda x: None))
    bad = bench.run_op(1, "raises", lambda: (boom, lambda x: None))
    wrong = bench.run_op(1, "wrong", lambda: (lambda: 1, lambda x: "values differ"))
    after = bench.run_op(1, "after", lambda: (lambda: 1, None))
    assert ok["error"] is None and "latency" in ok
    assert "op exploded" in bad["error"] and "latency" not in bad
    assert wrong["error"] == "values differ"
    assert after["error"] is None
    res = report.build(args, bench.records, 1, setup_s=1.0, session_start_s=0.5,
                       peak_rss_mb=1.0, extra={}, trace=None)
    assert res["line"]["attempted"] == 4
    assert res["line"]["failed"] == 2
    assert res["line"]["correct"] is False
    # an op that raised has no latency, so it stays out of the op times
    assert res["detail"]["op_samples"] == 3
    assert res["detail"]["wall_s"]["op_s.geomean"] > 0.0
    assert set(res["line"]["metrics"]) == {n for n, _, _ in report.END_TO_END}
    assert all(set(r["cpu"]) == set(report.CPU_PARTS) | {"jit"}
               for r in bench.records if "latency" in r)


def test_cpu_meter_keeps_a_reaped_child_s_cpu():
    pytest.importorskip("pyspark")
    import subprocess

    import run

    meter = run.CpuMeter(None)
    before = meter.read()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    after = meter.read()
    # the child is gone, its CPU stays in this process's reaped-children count
    spent = sum(after.values()) - sum(before.values())
    assert spent >= 0.25
    assert after["jit"] == 0.0


# -- metric names ----------------------------------------------------------
def test_metric_name_pattern():
    assert stats.valid_metric_name("op_s.p50")
    assert stats.valid_metric_name("operators.graph.k_truss_s")
    assert not stats.valid_metric_name("op s")
    assert not stats.valid_metric_name("rows/s")
    assert not stats.valid_metric_name("")


def test_declared_metrics_are_valid_unique_and_match_benchmark_json():
    names = [n for n, _, _ in report.END_TO_END + report.PER_LAYER]
    assert all(stats.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(
        report.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(
        report.PER_LAYER)
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# -- output fingerprints ---------------------------------------------------
def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None], "s": ["a", "b", "c"]})
    b = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert checks.fingerprint(a) == checks.fingerprint(b)


def test_fingerprint_tolerates_float_noise_but_not_wrong_values():
    a = pd.DataFrame({"x": [1.0 / 3.0, 2.0]})
    noisy = pd.DataFrame({"x": [1.0 / 3.0 + 1e-13, 2.0]})
    wrong = pd.DataFrame({"x": [0.34, 2.0]})
    assert checks.mismatch(checks.fingerprint(noisy), checks.fingerprint(a)) is None
    assert checks.mismatch(checks.fingerprint(wrong), checks.fingerprint(a)) == "values differ"
    assert "rows" in checks.mismatch(checks.fingerprint(a.head(1)), checks.fingerprint(a))
