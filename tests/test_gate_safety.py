"""Gate-safety guards: the round-4 postmortem made two promises —

1. no gated query may expose an output schema the driver's pandas
   canonicalizer can't digest (Array/Map/Struct/Decimal/Binary), and
2. the local harness must reproduce the driver's failure modes (list
   cells crash; Decimal-vs-float64 rendering mismatches), so a local
   green sweep predicts a driver green gate.

Test 1 lints every registry entry's ANALYZED schema (no execution —
building the DataFrame is enough). Tests 2-4 are harness regression
tests pinned to the exact r4 driver reds.
"""

from __future__ import annotations

import decimal

import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.oracle_harness import canon_frame, lint_output_schema

SF_DIR = "/root/testdata/sf0.001"


def test_no_driver_unsafe_output_schemas(spark):
    """Every queries() entry must analyze to a canonicalizer-safe
    schema. This is the lint VERDICT r4 asked for: it would have
    caught collect_sorted_lines, label_centroids (arrays),
    incremental_agg_maintenance, gini_customer_spend (decimals),
    multimodal_features and approx_quantiles_prices before the driver
    did."""
    bad = {}
    for name, fn in entry_mod.queries().items():
        schema = fn(spark, SF_DIR).schema  # analysis only, no job
        risky = lint_output_schema(schema)
        if risky:
            bad[name] = risky
    assert not bad, f"driver-unsafe output columns: {bad}"


def test_canon_crashes_on_list_cells_like_the_driver():
    """r4 red: collect_sorted_lines returned array<int> and the
    driver's sort_values/factorize crashed. canon_frame must fail the
    same way, not tolerate it."""
    pdf = pd.DataFrame({"k": [1, 2], "v": [[1, 2], [3]]})
    with pytest.raises(TypeError):
        canon_frame(pdf)


def test_canon_renders_decimal_with_trailing_zeros():
    """r4 red: Spark Decimal('3005007.00') vs DuckDB float64 3005007.0.
    The harness must preserve that asymmetry, not normalize it away."""
    spark_side = pd.DataFrame({"x": [decimal.Decimal("3005007.00")]})
    duck_side = pd.DataFrame({"x": [3005007.0]})
    assert canon_frame(spark_side) != canon_frame(duck_side)


def test_canon_equates_date_and_midnight_timestamp():
    """DuckDB .df() widens DATE to midnight Timestamp while Spark
    keeps datetime.date; the driver graded those equal in r4
    (date_functions), so the harness must too."""
    import datetime as dt

    spark_side = pd.DataFrame({"d": [dt.date(1995, 1, 1)]})
    duck_side = pd.DataFrame({"d": [pd.Timestamp("1995-01-01 00:00:00")]})
    assert canon_frame(spark_side) == canon_frame(duck_side)
    # ...but a real time-of-day difference still fails
    duck_side2 = pd.DataFrame({"d": [pd.Timestamp("1995-01-01 03:00:00")]})
    assert canon_frame(spark_side) != canon_frame(duck_side2)


# --- _changed_names guards (r11 ADVICE: the --changed fast path must
# never produce a false green) -------------------------------------


def _fake_git(diff_files, untracked_files):
    """subprocess.run stand-in: first call is `git diff --name-only`,
    second is `git ls-files --others --exclude-standard`."""

    class _R:
        def __init__(self, out):
            self.stdout = out

    def run(cmd, **kw):
        if "ls-files" in cmd:
            return _R("\n".join(untracked_files) + "\n")
        return _R("\n".join(diff_files) + "\n")

    return run


def _fake_queries(mod: str):
    def fn(spark, sf_dir):  # pragma: no cover - never called
        raise AssertionError

    fn.__module__ = mod
    return {"some_query": fn}


def test_changed_names_harvests_untracked_query_modules(monkeypatch):
    """A brand-new, not-yet-added query module must enter the sweep —
    `git diff` alone never lists untracked files (r11 ADVICE)."""
    import scripts.check_oracle as co

    monkeypatch.setattr(
        co.subprocess, "run",
        _fake_git([], ["zoom_spark/queries/new_mod.py"]),
    )
    qs = _fake_queries("zoom_spark.queries.new_mod")
    assert co._changed_names(qs, "HEAD") == {"some_query"}


def test_changed_names_refuses_on_oracle_harness_change(monkeypatch):
    """tests/oracle_harness.py defines compare_query — the gate
    itself. A harness diff must refuse to narrow (return None), not
    fall into the blanket tests/ skip (r11 ADVICE)."""
    import scripts.check_oracle as co

    monkeypatch.setattr(
        co.subprocess, "run", _fake_git(["tests/oracle_harness.py"], [])
    )
    assert co._changed_names(_fake_queries("x"), "HEAD") is None


def test_changed_names_refuses_on_shared_module(monkeypatch):
    import scripts.check_oracle as co

    monkeypatch.setattr(
        co.subprocess, "run",
        _fake_git(["zoom_spark/operators/prefix.py"], []),
    )
    assert co._changed_names(_fake_queries("x"), "HEAD") is None


def test_changed_names_refuses_on_check_oracle_change(monkeypatch):
    """scripts/check_oracle.py holds _changed_names itself — the
    narrowing logic. Its own diff must refuse to narrow (return None),
    not self-certify via the blanket scripts/ skip (r12 ADVICE)."""
    import scripts.check_oracle as co

    monkeypatch.setattr(
        co.subprocess, "run",
        _fake_git(["scripts/check_oracle.py"], []),
    )
    assert co._changed_names(_fake_queries("x"), "HEAD") is None


def test_changed_names_skips_test_and_script_diffs(monkeypatch):
    """Plain test/script/entry diffs have no runtime effect on query
    results: empty pick set (caller prints 'nothing to sweep')."""
    import scripts.check_oracle as co

    monkeypatch.setattr(
        co.subprocess, "run",
        _fake_git(
            ["tests/test_merge.py", "scripts/audit_plans.py",
             "bench.py", "__spark_entry__.py", "BENCH_NOTES.md"],
            [],
        ),
    )
    assert co._changed_names(_fake_queries("x"), "HEAD") == set()


# --- one size gate (operators/sizing.py owns the budget) -------------

_REMOVED_GATES = {
    "BCAST_MAX_ROWS", "BCAST_MAX", "LLOYD_LOCAL_MAX", "PQ_LOCAL_MAX",
}


def test_size_budget_is_assigned_only_in_sizing():
    """No module but operators/sizing.py may assign a size-budget name,
    and none may import a removed one, so a private copy of the gate
    cannot slip back in."""
    import ast
    import pathlib
    import re

    budget = re.compile(r"BCAST_MAX|_LOCAL_MAX|LOCAL_BYTES")
    root = pathlib.Path(__file__).resolve().parents[1] / "zoom_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
                names = [n for n in names if n in _REMOVED_GATES]
            elif isinstance(
                node, (ast.Assign, ast.AnnAssign, ast.AugAssign, ast.NamedExpr)
            ):
                targets = getattr(node, "targets", None) or [node.target]
                names = [
                    n.id if isinstance(n, ast.Name) else n.attr
                    for t in targets
                    for n in ast.walk(t)
                    if isinstance(n, (ast.Name, ast.Attribute))
                ]
                if rel == "operators/sizing.py":
                    names = []
                names = [n for n in names if budget.search(n)]
            else:
                continue
            bad += [f"{rel}:{node.lineno} {n}" for n in names]
    assert not bad, f"size budget defined outside operators/sizing.py: {bad}"


# --- one sink commit path (io.py owns every batch write) -------------

_NO_LOCAL_FS = ("operators/merge.py", "streaming/windows.py")


def test_batch_writes_and_sink_probes_only_in_io():
    """Only io.py may write a batch DataFrame (``df.write``; a
    ``writeStream`` is a different attribute, and a ``.write(...)``
    call is a file handle's), so a second staging-and-copy path cannot
    slip back in. The merge and streaming sinks may not probe or
    delete sink paths through the driver's local file system
    (``os.path.exists``, ``os.walk``, ``shutil``): a sink on HDFS/S3
    is not there, and ``io.sink_exists`` is the one probe."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "zoom_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        called = {
            id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
        }
        for node in ast.walk(tree):
            if (
                rel != "io.py"
                and isinstance(node, ast.Attribute)
                and node.attr == "write"
                and id(node) not in called
            ):
                bad.append(f"{rel}:{node.lineno} DataFrame.write")
            if rel not in _NO_LOCAL_FS:
                continue
            if isinstance(node, ast.Attribute) and ast.unparse(node) in (
                "os.path.exists", "os.walk",
            ):
                bad.append(f"{rel}:{node.lineno} {ast.unparse(node)}")
            elif isinstance(node, ast.Name) and node.id == "shutil":
                bad.append(f"{rel}:{node.lineno} shutil")
            elif isinstance(node, (ast.Import, ast.ImportFrom)) and any(
                "shutil" in (a.name, getattr(node, "module", None))
                for a in node.names
            ):
                bad.append(f"{rel}:{node.lineno} import shutil")
    assert not bad, f"sink write or local-FS probe outside io.py: {bad}"


# --- one driver-side frame builder (operators/local.py) --------------


def test_create_dataframe_only_in_local_frame():
    """Only operators/local.py may call ``createDataFrame``. A list
    argument plans as a pickled Python RDD (``Scan ExistingRDD``) whose
    every scan runs Python-worker tasks; ``local_frame`` builds the
    same frame through Arrow as a ``LocalRelation``. A ``pa.Table``
    call elsewhere is refused too, so there is one construction path."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "zoom_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/local.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                bad.append(f"{rel}:{node.lineno}")
    assert not bad, f"createDataFrame outside operators/local.py: {bad}"
