"""Span recorder for the traced run.

``Tracer.install()`` wraps every public function of the ``zoom_spark``
layer modules (and the public methods of ``app.Connector``) in a
recorder, then rebinds every ``from ... import`` copy of those functions
held by already-imported ``zoom_spark`` modules. It must run before
``zoom_spark.queries`` is imported, so the query modules bind the
wrappers too. Spans live in memory until the run ends.

A wrapped lazy function only accounts for driver-side plan building;
executor time lands in the op's ``queries.action`` span.

Wrappers keep the wrapped function's module and qualified name, so a
function shipped to a Python worker is pickled by reference and the
worker runs the original, untraced code.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
import types

#: Packages and modules whose public functions are wrapped.
TRACED = (
    "zoom_spark.session", "zoom_spark.io", "zoom_spark.operators",
    "zoom_spark.sources", "zoom_spark.streaming", "zoom_spark.dedup",
    "zoom_spark.similarity", "zoom_spark.multimodal", "zoom_spark.app",
)
#: Above this many spans, further spans are counted but not kept.
MAX_SPANS = 200_000


class Span:
    """Context manager recording one span; its parent is the innermost
    open span on this thread, else the op's root span."""

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.tracer
        with t.lock:
            t.next_id += 1
            self.id = t.next_id
        st = t.stack()
        self.parent = st[-1] if st else t.current_op["root"]
        st.append(self.id)
        self.wall = time.time()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        t = self.tracer
        t.stack().pop()
        rec = {
            "id": self.id, "name": self.name, "layer": self.layer,
            "parent": self.parent, "op": t.current_op["id"],
            "start": self.start, "end": self.end,
        }
        with t.lock:
            if len(t.spans) < MAX_SPANS:
                t.spans.append(rec)
            else:
                t.dropped += 1
        return False


class Tracer:
    def __init__(self):
        self.lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []
        self.dropped = 0
        self.counters: dict[str, float] = {}
        self.current_op: dict = {"id": None, "root": None}
        #: seconds spent in hooks; the benchmark subtracts it from op times
        self.hook_s = 0.0
        self.next_id = 0
        #: span name -> hook(args, kwargs, result, span), run after the span
        self.hooks: dict = {}
        #: span name -> unwrapped function
        self.originals: dict = {}

    def stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def in_hook(self) -> bool:
        return getattr(self._local, "in_hook", False)

    def span(self, name: str, layer: str) -> Span:
        return Span(self, name, layer)

    def count(self, name: str, value: float = 1.0) -> None:
        with self.lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def reset(self) -> None:
        with self.lock:
            self.spans.clear()
            self.counters.clear()
            self.dropped = 0

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.in_hook():
                # layer calls a hook makes are the hook's own work
                return fn(*args, **kwargs)
            with self.span(name, layer) as sp:
                result = fn(*args, **kwargs)
            hook = self.hooks.get(name)
            if hook is not None:
                # a span of its own, so the caller's self time excludes it
                self._local.in_hook = True
                try:
                    with self.span("trace.hook", "trace") as h:
                        hook(args, kwargs, result, sp)
                finally:
                    self._local.in_hook = False
                with self.lock:
                    self.hook_s += h.end - h.start
            return result

        return traced

    def install(self) -> None:
        if "zoom_spark.queries" in sys.modules:
            raise RuntimeError("install tracing before importing zoom_spark.queries")
        replaced: dict[int, object] = {}
        for mod in _layer_modules():
            short = mod.__name__.removeprefix("zoom_spark.")
            layer = short.split(".")[0]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if isinstance(obj, types.FunctionType) and obj.__module__ == mod.__name__:
                    name = f"{short}.{attr}"
                    w = self._wrap(obj, name, layer)
                    self.originals[name] = obj
                    replaced[id(obj)] = w
                    setattr(mod, attr, w)
                elif inspect.isclass(obj) and obj.__module__ == "zoom_spark.app":
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and isinstance(fn, types.FunctionType):
                            name = f"{short}.{attr}.{m}"
                            self.originals[name] = fn
                            setattr(obj, m, self._wrap(fn, name, layer))
        # rebind `from x import f` copies held by other zoom_spark modules
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("zoom_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None and w is not obj:
                    setattr(mod, attr, w)

    def install_hooks(self, spark) -> None:
        """Counts taken at layer boundaries after the span closes. Any
        Spark job a hook runs goes to its own job group, so it is not
        counted against the op."""
        sc = spark.sparkContext
        count = self.count

        def side_jobs(fn):
            def hook(args, kwargs, result, sp):
                prev = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup("trace-hooks", "trace counts")
                try:
                    fn(args, kwargs, result, sp)
                finally:
                    if prev is not None:
                        sc.setJobGroup(prev, prev)
            return hook

        def io_write(args, kwargs, result, sp):
            path = args[1] if len(args) > 1 else kwargs["path"]
            n, size = file_bytes(path, since=sp.wall)
            count("io.files_written", n)
            count("io.bytes_written", size)

        def delta_keys(args, kwargs, result, sp):
            count("incremental.rows_examined", args[0].count() + args[1].count())
            count("incremental.delta_keys", result.count())

        def merge_to_path(args, kwargs, result, sp):
            count("merge.bytes_rewritten", file_bytes(args[1])[1])
            count("merge.rows", args[2].count())

        def minhash_pairs(name):
            def hook(args, kwargs, result, sp):
                count("minhash.verified_pairs", result.count())
                loose = dict(kwargs, threshold=-1.0)
                count("minhash.candidate_pairs",
                      self.originals[name](*args, **loose).count())
            return hook

        for name in ("io.write_overwrite", "io.write_append",
                     "io.write_idempotent_partition"):
            self.hooks[name] = io_write
        self.hooks["operators.incremental.delta_keys"] = side_jobs(delta_keys)
        self.hooks["operators.merge.merge_upsert_to_path"] = side_jobs(merge_to_path)
        for name in ("dedup.minhash.minhash_dedup_pairs",
                     "dedup.minhash.minhash_md5_dedup_pairs"):
            self.hooks[name] = side_jobs(minhash_pairs(name))

    def counting_dict(self) -> dict:
        """A fit memo that counts lookups: a ``get`` that finds the key
        is a hit, one that does not is a miss."""
        count = self.count

        class CountingDict(dict):
            def get(self, key, default=None):
                count("fit_cache.hits" if key in self else "fit_cache.misses")
                return dict.get(self, key, default)

        return CountingDict()


def _layer_modules():
    for root in TRACED:
        mod = importlib.import_module(root)
        yield mod
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__):
                yield importlib.import_module(f"{root}.{info.name}")


def file_bytes(path: str, since: float | None = None) -> tuple[int, int]:
    """(data files, bytes) under a sink path, optionally only files
    modified at or after ``since`` (a time.time() value)."""
    n = size = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if since is None or st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size
