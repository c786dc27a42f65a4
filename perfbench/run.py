"""Benchmark command: run one workload of the zoom_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one SparkSession on
local[<cores>], one closed-loop client. A run does untimed set-up
(session start, registry import, input staging) and untimed warm
passes that also check every op's output, then timed passes until
``--seconds`` have been measured (two passes at least). Each op's wall
time and the CPU time of the processes under this one are recorded.
The seed sets the op order in every pass and the inputs generated for
``ingest``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Details (tail
percentile, sample counts, per-op times, spans) go to
``perfbench/.out/``. The exit code is 1 when any op failed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from typing import NamedTuple  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
#: Driver JVM heap and its young generation.
HEAP, YOUNG = "2g", "512m"
#: Timed passes per run, at least; medians need two.
MIN_PASSES = 2
#: Once MIN_PASSES are done, a run starts no new pass after this many
#: seconds from process start, so it ends within the 180 s a run may
#: take; the result then says it was cut short.
HARD_STOP_S = 150.0


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> int:
    """Keep every file the run writes inside the checkout and let
    Python workers import zoom_spark from any working directory."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # A fixed heap and young generation: without them G1 resizes both
    # from pause times, so peak RSS and GC time follow machine load.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Xms{HEAP} -Xmn{YOUNG} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


class Proc(NamedTuple):
    parent: int
    comm: str
    rss_kb: int
    #: user + system CPU ticks, with those of reaped children
    cpu_ticks: int


def proc_tree() -> dict[int, Proc]:
    """This process and every process below it, from /proc."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            head, fields = stat.rsplit(")", 1)
            fields = fields.split()
            table[int(pid)] = Proc(
                int(fields[1]), head.split("(", 1)[1], int(fields[21]) * PAGE_KB,
                sum(int(x) for x in fields[11:15]),
            )
        except (OSError, IndexError, ValueError):
            continue
    me = os.getpid()
    tree = {}
    for pid, proc in table.items():
        p = pid
        while p and p != me:
            p = table[p].parent if p in table else 0
        if p == me:
            tree[pid] = proc
    return tree


class CpuMeter:
    """CPU seconds used so far by the driver JVM's JIT compiler threads,
    the rest of the JVM, this Python driver, and everything else below
    it (the Python worker daemon and its workers). A process's ticks
    include its reaped children's, so a worker that exits moves into its
    parent's count and the sum stays continuous. The compiler threads
    are a fixed set (the JVM runs with
    -XX:-UseDynamicNumberOfCompilerThreads), so none takes its ticks
    away by exiting."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.jit_stats = []
        if jvm_pid is None:
            return
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            path = f"/proc/{jvm_pid}/task/{tid}"
            try:
                with open(path + "/comm") as f:
                    if f.read().strip() in self.JIT_THREADS:
                        self.jit_stats.append(path + "/stat")
            except OSError:
                continue

    def read(self) -> dict[str, float]:
        me = os.getpid()
        out = {"jvm": 0.0, "jit": 0.0, "driver_py": 0.0, "workers_py": 0.0}
        for pid, proc in proc_tree().items():
            part = ("jvm" if pid == self.jvm_pid else
                    "driver_py" if pid == me else "workers_py")
            out[part] += proc.cpu_ticks / CLK_TCK
        for path in self.jit_stats:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            out["jit"] += (int(fields[11]) + int(fields[12])) / CLK_TCK
        out["jvm"] -= out["jit"]
        return out


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and the Python processes below
    this one (the worker daemon and its workers), sampled every 250 ms.
    Other descendants are skipped: a helper the JVM is spawning shows the
    JVM's whole RSS until it execs, which would count the JVM twice."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.active = False
        self._halt = threading.Event()

    def _tree_rss_kb(self) -> int:
        me = os.getpid()
        return sum(
            p.rss_kb for pid, p in proc_tree().items()
            if pid != me and (pid == self.jvm_pid or p.comm.startswith("python"))
        )

    def run(self):
        while not self._halt.wait(0.25):
            if self.active:
                self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self):
        self._halt.set()
        self.join()


def job_stats(sc, group: str) -> dict:
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0}
    for j in jobs:
        info = tr.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            si = tr.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += si.numCompletedTasks + si.numFailedTasks
            out["failed_tasks"] += si.numFailedTasks
    return out


class Timer:
    """Stand-in for tracing.span when tracing is off."""

    def __init__(self, name=None, layer=None):
        pass

    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        return False


class Bench:
    def __init__(self, args, spark, trace, cpu: CpuMeter | None = None):
        self.args = args
        self.cpu = cpu or CpuMeter(None)
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.span = trace.span if trace else Timer
        self.rng = random.Random(args.seed)
        self.seq = 0
        self.records: list[dict] = []

    def _hook_s(self) -> float:
        return self.trace.hook_s if self.trace else 0.0

    def run_op(self, pass_no: int, name: str, prepare) -> dict:
        """prepare() is untimed and returns (build, action). build()
        returns the object action() consumes; action() returns an error
        string or None. Both are timed, as the spans queries.build and
        queries.action; an op without an action (None) is one span
        named after the op. Time spent in trace hooks is left out.
        The CPU used across build and action goes to rec["cpu"], split
        as CpuMeter splits it."""
        from zoom_spark.session import release_storage

        self.seq += 1
        group = f"op{self.seq}"
        rec = {"pass": pass_no, "op": name, "group": group, "error": None}
        self.sc.setJobGroup(group, name)
        if self.trace:
            self.trace.current_op.update(id=group, root=None)
        try:
            build, action = prepare()
            cpu0 = self.cpu.read()
            h0 = self._hook_s()
            with self.span(f"op.{name}", "bench") as root:
                if self.trace:
                    self.trace.current_op["root"] = root.id
                if action is None:
                    obj = build()
                else:
                    with self.span("queries.build", "queries") as b:
                        obj = build()
                    h1 = self._hook_s()
                    with self.span("queries.action", "queries") as a:
                        rec["error"] = action(obj)
                    h2 = self._hook_s()
                    rec.update(build_s=b.end - b.start - (h1 - h0),
                               action_s=a.end - a.start - (h2 - h1))
            rec["latency"] = root.end - root.start - (self._hook_s() - h0)
            cpu1 = self.cpu.read()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            if self.trace:
                self.trace.current_op["root"] = None
            obj = None
        except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
        rec["persisted_rdds"] = self.sc._jsc.sc().getPersistentRDDs().size()
        t = time.perf_counter()
        release_storage(self.spark)
        rec["release_s"] = time.perf_counter() - t
        if self.trace:
            self.trace.current_op.update(id=None, root=None)
        self.sc.setJobGroup("bench", "between ops")
        rec.update(job_stats(self.sc, group))
        if rec["failed_tasks"] and rec["error"] is None:
            rec["error"] = f"{rec['failed_tasks']} failed tasks"
        if rec["error"]:
            print(f"perfbench: {name} failed: {rec['error']}", file=sys.stderr)
        self.records.append(rec)
        return rec


class QueryWorkload:
    warm_passes = 1

    def __init__(self, bench: Bench, ops: dict[str, str]):
        import zoom_spark.queries as Q
        from checks import fingerprint, mismatch

        self.b = bench
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        self.ops = sorted(ops)
        self.dirs = {op: os.path.join(HERE, "data", sf) for op, sf in ops.items()}
        self.expected = {op: expected[sf][op] for op, sf in ops.items()}
        self.fns = {op: Q.QUERIES[op] for op in self.ops}
        self.fingerprint, self.mismatch = fingerprint, mismatch

    def run_pass(self, pass_no: int, check: bool) -> list[dict]:
        from zoom_spark.queries import similarity_queries
        from zoom_spark.similarity import kmeans

        # each pass is one cold-model job: fits are reused within a
        # pass, never across passes
        kmeans._LLOYD_FIT_CACHE.clear()
        similarity_queries._PQ_TRAIN_CACHE.clear()
        spark = self.b.spark
        out = []
        for op in self.b.rng.sample(self.ops, len(self.ops)):
            fn, sf_dir = self.fns[op], self.dirs[op]

            def noop_write(df):
                df.write.format("noop").mode("overwrite").save()

            def collect_and_check(df, op=op):
                return self.mismatch(self.fingerprint(df.toPandas()), self.expected[op])

            def prepare(fn=fn, sf_dir=sf_dir):
                return (lambda: fn(spark, sf_dir),
                        collect_and_check if check else noop_write)

            out.append(self.b.run_op(pass_no, op, prepare))
        return out

    def finish(self) -> dict:
        return {}


class IngestWorkload:
    # the bootstrap night
    warm_passes = 1

    def __init__(self, bench: Bench, work: str):
        from ingest import IngestRunner

        self.b = bench
        self.runner = IngestRunner(
            bench.spark, os.path.join(HERE, "data", "sf0.1"), work, bench.args.seed
        )

    def run_pass(self, pass_no: int, check: bool) -> list[dict]:
        out = []
        for op in self.runner.ops:
            def prepare(op=op):
                return self.runner.prepare(op), None
            out.append(self.b.run_op(pass_no, op, prepare))
        out[1]["rows"] = out[2]["rows"] = self.runner.night_rows
        errors = self.runner.check_night()
        if errors and out[0]["error"] is None:
            out[0]["error"] = "; ".join(errors)
            print(f"perfbench: night check failed: {out[0]['error']}", file=sys.stderr)
        return out

    def finish(self) -> dict:
        self.b.sc.setJobGroup("checks", "sink checks")
        errors = self.runner.check_sinks()
        if errors:
            last = self.b.records[-1]
            last["error"] = "; ".join(errors)
            print(f"perfbench: sink check failed: {last['error']}", file=sys.stderr)
        return {
            "sink_bytes_per_row": self.runner.sink_bytes() / self.runner.sink_rows(),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zoom_spark")):
        print("perfbench: zoom_spark not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    cpus = prepare_env(work)
    logging_quiet()

    trace = None
    if args.trace:
        from tracing import Tracer

        trace = Tracer()
        trace.install()
    from zoom_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus)
    session_start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    try:
        return measure(args, spark, trace, work, session_start_s, sampler)
    finally:
        sampler.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it exits
    (the JVM stops the Python worker daemon on its way down)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def logging_quiet():
    import logging

    logging.basicConfig(level=logging.WARNING)
    logging.getLogger("py4j").setLevel(logging.WARNING)


def measure(args, spark, trace, work, session_start_s, sampler) -> int:
    from workloads import QUERY_WORKLOADS

    import report

    bench = Bench(args, spark, trace, CpuMeter(sampler.jvm_pid))
    if args.workload == "ingest":
        wl = IngestWorkload(bench, work)
    else:
        wl = QueryWorkload(bench, QUERY_WORKLOADS[args.workload])
    if trace:
        from zoom_spark.queries import similarity_queries
        from zoom_spark.similarity import kmeans

        trace.install_hooks(spark)
        kmeans._LLOYD_FIT_CACHE = trace.counting_dict()
        similarity_queries._PQ_TRAIN_CACHE = trace.counting_dict()

    # untimed warm passes, which also check every op's output
    for _ in range(wl.warm_passes):
        wl.run_pass(0, check=True)
    if trace:
        trace.reset()
    t_measure = time.perf_counter()
    setup_s = t_measure - T_PROCESS
    sampler.active = True
    passes = 0
    cut_short = False
    while True:
        passes += 1
        wl.run_pass(passes, check=False)
        if passes < MIN_PASSES:
            continue
        now = time.perf_counter()
        if now - t_measure >= args.seconds:
            break
        if now - T_PROCESS >= HARD_STOP_S:
            cut_short = True
            break
    sampler.active = False
    extra = wl.finish()

    result = report.build(
        args, bench.records, passes, setup_s=setup_s,
        session_start_s=session_start_s,
        peak_rss_mb=sampler.peak_kb / 1024.0, extra=extra, trace=trace,
        cut_short=cut_short,
    )
    report.save(args, result, trace, OUT)
    print(report.summary_line(result), flush=True)
    print(json.dumps(result["line"]), flush=True)
    return 0 if result["line"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
