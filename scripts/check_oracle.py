"""Run the full driver-style oracle check locally.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
       python scripts/check_oracle.py [sf_dir] --changed [base-ref]

``--changed`` is the mid-round fast path (VERDICT r10 #7): git-diff
the worktree against ``base-ref`` (default HEAD) and sweep ONLY the
queries whose defining module changed. It narrows the sweep, never
the gate — the round-end close still runs the full battery. If a
shared non-query module changed (io/session/operators/functions/...),
every changed file is listed and the script refuses to narrow, since
any query could be affected.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

from oracle_harness import compare_query, duckdb_con  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from zoom_spark.session import get_spark, release_storage  # noqa: E402


def _changed_names(qs: dict, base: str) -> set[str] | None:
    """Names of registered queries whose defining module differs from
    ``base`` in git (staged + unstaged). Returns None (= refuse to
    narrow) when a changed .py file is not a query module."""
    diff = subprocess.run(
        ["git", "-C", str(ROOT), "diff", "--name-only", base, "--"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    # ADVICE r11: `git diff` never lists untracked files, so a brand-new
    # query module would yield "nothing to sweep" — a false green on
    # exactly the code most likely to be wrong. Fold them in.
    diff += subprocess.run(
        ["git", "-C", str(ROOT), "ls-files", "--others",
         "--exclude-standard"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    mod_of = {}
    for name, fn in qs.items():
        mod_of.setdefault(fn.__module__, set()).add(name)
    picked: set[str] = set()
    for path in diff:
        if not path.endswith(".py"):
            continue
        mod = path[:-3].replace("/", ".")
        if mod in mod_of:
            picked |= mod_of[mod]
        elif path == "tests/oracle_harness.py":
            # ADVICE r11: the harness defines compare_query — the gate
            # itself. A harness change invalidates every prior PASS, so
            # refuse to narrow rather than sweep nothing.
            print(
                "--changed: tests/oracle_harness.py (the comparison gate) "
                "changed — run the FULL sweep instead",
                file=sys.stderr,
            )
            return None
        elif path == "scripts/check_oracle.py":
            # ADVICE r12: this file holds _changed_names itself — the
            # narrowing logic. A regression here would self-certify via
            # the blanket scripts/ skip below, the same false-green
            # class the oracle_harness guard closed. Refuse to narrow.
            print(
                "--changed: scripts/check_oracle.py (the narrowing logic) "
                "changed — run the FULL sweep instead",
                file=sys.stderr,
            )
            return None
        elif path.startswith(("tests/", "scripts/")) or path == "bench.py":
            continue  # no runtime effect on query results
        elif path == "__spark_entry__.py":
            continue  # ordering/rotation only; queries come from modules
        else:
            print(
                f"--changed: {path} is not a query module — a shared "
                "module changed, run the FULL sweep instead",
                file=sys.stderr,
            )
            return None
    return picked


def main():
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    rest = argv[1:]
    qs = entry_mod.queries()
    if rest and rest[0] == "--changed":
        base = rest[1] if len(rest) > 1 else "HEAD"
        only = _changed_names(qs, base)
        if only is None:
            sys.exit(2)
        if not only:
            print(f"--changed: no query-module diffs vs {base}; nothing to sweep")
            sys.exit(0)
        print(
            f"--changed vs {base}: {len(only)} queries from changed modules",
            file=sys.stderr,
        )
    else:
        only = set(rest)
    spark = get_spark("oracle-check")
    con = duckdb_con(sf_dir)
    oracle = entry_mod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            res = compare_query(spark, con, name, fn, oracle.get(name), sf_dir)
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "ok": False, "error": f"{type(e).__name__}: {e}"}
        status = "PASS" if res.get("ok") else "FAIL"
        if not res.get("ok"):
            n_fail += 1
        print(f"[{status}] {name}: { {k: v for k, v in res.items() if k != 'name'} }")
        # between-query hygiene: checkpoint blocks otherwise accumulate
        # over a 579-query sweep (same mechanism as the bench noise)
        release_storage(spark)
    print(f"\n{n_fail} failures / {len(only) if only else len(qs)} checked")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
