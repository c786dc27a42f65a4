"""Metric definitions and the result of one run; as a script, a summary
of the runs saved under ``perfbench/.out/results`` with the tracing
overhead per workload (traced pass_s minus untraced pass_s):

    python3 perfbench/report.py
"""

from __future__ import annotations

import glob
import json
import os

import stats

#: (name, unit, better) of every end-to-end metric, printed with --trace 0.
#: A pass is measured by the CPU it costs, not by its wall time: on a
#: shared host the wall time of identical runs moves with the load of
#: other tenants far more than the CPU does (README.md).
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_cpu_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

#: Processes whose CPU a pass costs: the driver JVM less its JIT
#: compiler threads, the Python driver, and the Python workers with their
#: daemon. JIT compilation ("jit") is reported on its own: how much of it
#: lands in a pass depends on the compiler's timing, and it moved by a
#: quarter between identical runs.
CPU_PARTS = ("jvm", "driver_py", "workers_py")

APP_STAGES = (
    "load_users", "load_groups", "load_group_members", "load_meetings",
    "load_participants", "load_meeting_settings", "create_student_accounts",
)
LAYERS = (
    "session", "queries", "io", "app", "operators", "sources",
    "streaming", "dedup", "similarity", "multimodal",
)

#: (name, unit, better) of every per-layer metric, printed with --trace 1.
#: Times and counts are per measured pass.
PER_LAYER = (
    ("op_s.geomean", "s", "lower"),
    ("op_s.p50", "s", "lower"),
    ("op_s.tail", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.persisted_rdds", "count", "lower"),
    ("session.release_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.action_s", "s", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.stages", "count", "lower"),
    ("queries.tasks", "count", "lower"),
    ("queries.failed_tasks", "count", "lower"),
    ("queries.jobs_spread", "count", "lower"),
    ("queries.stages_spread", "count", "lower"),
    ("io.load_s", "s", "lower"),
    ("io.write_s", "s", "lower"),
    ("io.files_written", "count", "lower"),
    ("io.bytes_written", "bytes", "lower"),
    *((f"app.{s}_s", "s", "lower") for s in APP_STAGES),
    ("operators.incremental.delta_keys_s", "s", "lower"),
    ("operators.incremental.rows_examined_per_delta_key", "rows/key", "lower"),
    ("operators.merge.upsert_s", "s", "lower"),
    ("operators.merge.bytes_rewritten_per_row", "bytes/row", "lower"),
    ("operators.graph.pagerank_s", "s", "lower"),
    ("sources.paginated.fetch_rows_per_s", "rows/s", "higher"),
    ("sources.writeback.post_rows_s", "s", "lower"),
    ("streaming.batch_s", "s", "lower"),
    ("streaming.rows_per_s", "rows/s", "higher"),
    ("dedup.minhash.signature_s", "s", "lower"),
    ("dedup.minhash.candidate_pairs", "count", "lower"),
    ("dedup.minhash.verified_pairs", "count", "higher"),
    ("dedup.minhash.precision", "ratio", "higher"),
    ("similarity.kmeans.fit_s", "s", "lower"),
    ("similarity.fit_cache.hits", "count", "higher"),
    ("similarity.fit_cache.misses", "count", "lower"),
    ("multimodal.decode_s", "s", "lower"),
    *((f"{layer}.self_s", "s", "lower") for layer in LAYERS),
    *((f"cpu.{part}_s", "s", "lower") for part in CPU_PARTS + ("jit",)),
    ("fail_ratio", "ratio", "lower"),
    ("sink_bytes_per_row", "bytes/row", "lower"),
    ("trace.pass_s", "s", "lower"),
)

#: per-layer time metric -> span names whose outermost calls it sums
SPAN_TIMES = {
    "io.load_s": ("io.load_table", "io.load_tables", "io.register_views",
                  "io.read_csv", "io.read_json", "io.read_jdbc"),
    "io.write_s": ("io.write_overwrite", "io.write_append",
                   "io.write_idempotent_partition", "io.write_csv", "io.write_json"),
    **{f"app.{s}_s": (f"app.Connector.{s}",) for s in APP_STAGES},
    "operators.incremental.delta_keys_s": ("operators.incremental.delta_keys",),
    "operators.merge.upsert_s": ("operators.merge.merge_upsert_to_path",
                                 "operators.merge.merge_upsert"),
    "operators.graph.pagerank_s": ("operators.graph.pagerank",),
    "sources.writeback.post_rows_s": ("sources.writeback.post_rows",),
    "dedup.minhash.signature_s": ("dedup.minhash.signature_df",
                                  "dedup.minhash.minhash_signature",
                                  "dedup.minhash.minhash_md5_signature"),
    "similarity.kmeans.fit_s": ("similarity.kmeans.int_lloyd_fit",
                                "similarity.kmeans.kmeans_fit"),
    "multimodal.decode_s": ("multimodal.binary_ops.decode_media",),
}


def outer_duration(spans: list[dict], names) -> float:
    """Summed duration of spans named in ``names`` that have no
    ancestor also named in ``names``."""
    names = set(names)
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] not in names:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] not in names:
            p = by_id.get(p["parent"])
        if p is None:
            total += s["end"] - s["start"]
    return total


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pass_sums(records: list[dict], value) -> list[float]:
    """Per measured pass, the sum of value(record) over its timed ops."""
    sums: dict[int, float] = {}
    for r in records:
        if r["pass"] > 0 and "latency" in r:
            sums[r["pass"]] = sums.get(r["pass"], 0.0) + value(r)
    return [sums[p] for p in sorted(sums)]


def pass_times(records: list[dict]) -> list[float]:
    return pass_sums(records, lambda r: r["latency"])


def pass_cpu(records: list[dict]) -> list[float]:
    """CPU seconds per measured pass, summed over CPU_PARTS."""
    return pass_sums(records, lambda r: sum(r["cpu"][p] for p in CPU_PARTS))


def spreads(records: list[dict], key: str) -> int:
    seen: dict[str, list[int]] = {}
    for r in records:
        if r["pass"] > 0:
            seen.setdefault(r["op"], []).append(r[key])
    return sum(max(v) - min(v) for v in seen.values())


def layer_metrics(records, passes, session_start_s, extra, trace) -> dict:
    measured = [r for r in records if r["pass"] > 0]
    per = lambda x: x / passes  # noqa: E731
    total = lambda k: sum(r.get(k, 0) for r in measured)  # noqa: E731
    spans, c = trace.spans, trace.counters
    m = {
        "session.start_s": session_start_s,
        "session.persisted_rdds": per(total("persisted_rdds")),
        "session.release_s": per(total("release_s")),
        "queries.build_s": per(total("build_s")),
        "queries.action_s": per(total("action_s")),
        "queries.jobs": per(total("jobs")),
        "queries.stages": per(total("stages")),
        "queries.tasks": per(total("tasks")),
        "queries.failed_tasks": per(total("failed_tasks")),
        "queries.jobs_spread": spreads(records, "jobs"),
        "queries.stages_spread": spreads(records, "stages"),
        "io.files_written": per(c.get("io.files_written", 0)),
        "io.bytes_written": per(c.get("io.bytes_written", 0)),
        "operators.incremental.rows_examined_per_delta_key": _ratio(
            c.get("incremental.rows_examined", 0), c.get("incremental.delta_keys", 0)),
        "operators.merge.bytes_rewritten_per_row": _ratio(
            c.get("merge.bytes_rewritten", 0), c.get("merge.rows", 0)),
        "dedup.minhash.candidate_pairs": per(c.get("minhash.candidate_pairs", 0)),
        "dedup.minhash.verified_pairs": per(c.get("minhash.verified_pairs", 0)),
        "dedup.minhash.precision": _ratio(
            c.get("minhash.verified_pairs", 0), c.get("minhash.candidate_pairs", 0)),
        "similarity.fit_cache.hits": per(c.get("fit_cache.hits", 0)),
        "similarity.fit_cache.misses": per(c.get("fit_cache.misses", 0)),
        "sink_bytes_per_row": extra.get("sink_bytes_per_row", 0.0),
    }
    for part in CPU_PARTS + ("jit",):
        m[f"cpu.{part}_s"] = per(sum(r["cpu"][part] for r in measured if "cpu" in r))
    for name, span_names in SPAN_TIMES.items():
        m[name] = per(outer_duration(spans, span_names))
    fetch = [r for r in measured if r["op"] == "fetch_append" and "latency" in r]
    m["sources.paginated.fetch_rows_per_s"] = _ratio(
        sum(r["rows"] for r in fetch), sum(r["latency"] for r in fetch))
    batches = [s["end"] - s["start"] for s in spans
               if s["name"] == "streaming.windows.cdc_apply_batch"]
    m["streaming.batch_s"] = _ratio(sum(batches), len(batches))
    merged = [r for r in measured if r["op"] == "stream_merge" and "latency" in r]
    m["streaming.rows_per_s"] = _ratio(
        sum(r["rows"] for r in merged),
        outer_duration(spans, ("streaming.windows.write_stream_merge_upsert",)))
    self_s = stats.layer_self_times(spans)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = per(self_s.get(layer, 0.0))
    return m


def op_samples(records: list[dict]) -> dict[str, list[float]]:
    """Op name -> its timed latencies."""
    out: dict[str, list[float]] = {}
    for r in records:
        if r["pass"] > 0 and "latency" in r:
            out.setdefault(r["op"], []).append(r["latency"])
    return out


def build(args, records, passes, *, setup_s, session_start_s, peak_rss_mb,
          extra, trace, cut_short=False) -> dict:
    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    per_op = op_samples(records)
    lat = [v for vs in per_op.values() for v in vs]
    pt = pass_times(records)
    pc = pass_cpu(records)
    p_tail, v_tail, resolved = stats.tail(lat) if lat else (50.0, 0.0, False)
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": stats.median(pc) if pc else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }
    ops = {
        "pass_s": stats.median(pt) if pt else 0.0,
        "op_s.geomean": stats.op_geomean(per_op) if per_op else 0.0,
        "op_s.p50": stats.median(lat) if lat else 0.0,
        "op_s.tail": v_tail,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": passes, "cut_short": cut_short,
        "op_samples": len(lat), "tail_percentile": p_tail,
        "tail_resolved": resolved, "pass_times_s": pt, "pass_cpu_s": pc, "end_to_end": e2e,
        "wall_s": ops, "records": records,
    }
    if trace:
        metrics = layer_metrics(records, passes, session_start_s, extra, trace)
        metrics.update(ops)
        metrics["fail_ratio"] = stats.fail_ratio(attempted, failed)
        metrics["trace.pass_s"] = ops["pass_s"]
        detail["per_layer"] = metrics
        spec = PER_LAYER
    else:
        metrics = e2e
        spec = END_TO_END
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u, _ in spec},
    }
    return {"line": line, "detail": detail}


def summary_line(result: dict) -> str:
    d = result["detail"]
    e, o = d["end_to_end"], d["wall_s"]
    return (
        f"perfbench {d['workload']} seed={d['seed']}: {d['passes']} passes"
        f"{' (cut short by the run time cap)' if d['cut_short'] else ''}, "
        f"pass_cpu_s={e['pass_cpu_s']:.3f}, pass_s={o['pass_s']:.3f}, "
        f"op_s.geomean={o['op_s.geomean']:.3f}, op_s.p50={o['op_s.p50']:.3f}, "
        f"op_s.tail=p{d['tail_percentile']:g} of {d['op_samples']} samples"
        f"{'' if d['tail_resolved'] else ' (too few samples for a tail; median)'}"
        f"={o['op_s.tail']:.3f}, setup_s={e['setup_s']:.2f}, "
        f"peak_rss_mb={e['peak_rss_mb']:.0f}"
    )


def save(args, result: dict, trace, out_dir: str) -> None:
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    with open(os.path.join(out_dir, "results", tag + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    if trace:
        os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
        with open(os.path.join(out_dir, "traces", tag + ".json"), "w") as f:
            json.dump({
                "layer_self_s": stats.layer_self_times(trace.spans),
                "dropped_spans": trace.dropped,
                "spans": trace.spans,
            }, f)


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    runs: dict[str, dict[int, list[float]]] = {}
    for path in sorted(glob.glob(os.path.join(here, ".out", "results", "*.json"))):
        with open(path) as f:
            d = json.load(f)["detail"]
        runs.setdefault(d["workload"], {}).setdefault(d["trace"], []).append(
            d["wall_s"]["pass_s"])
    print(f"{'workload':18} {'untraced pass_s':>16} {'traced pass_s':>14} {'overhead_s':>11}")
    for wl, by in sorted(runs.items()):
        u = stats.median(by[0]) if by.get(0) else None
        t = stats.median(by[1]) if by.get(1) else None
        fmt = lambda x: "-" if x is None else f"{x:.3f}"  # noqa: E731
        over = None if u is None or t is None else t - u
        print(f"{wl:18} {fmt(u):>16} {fmt(t):>14} {fmt(over):>11}"
              f"   ({len(by.get(0, []))} untraced, {len(by.get(1, []))} traced runs)")


if __name__ == "__main__":
    main()
