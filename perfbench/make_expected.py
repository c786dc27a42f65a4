"""Regenerate ``expected.json``: one order-insensitive fingerprint per
benchmarked query, computed from the query's DuckDB oracle SQL over the
benchmark's own input tables. Run from the repository root whenever a
workload's op list or its input tables change:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from checks import fingerprint  # noqa: E402
from workloads import QUERY_WORKLOADS  # noqa: E402
from zoom_spark.queries import ORACLE  # noqa: E402


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def main() -> None:
    out: dict[str, dict] = {}
    cons: dict[str, duckdb.DuckDBPyConnection] = {}
    for ops in QUERY_WORKLOADS.values():
        for op, sf in ops.items():
            if sf not in cons:
                cons[sf] = connect(os.path.join(HERE, "data", sf))
            con = cons[sf]
            t0 = time.perf_counter()
            fp = fingerprint(con.execute(ORACLE[op]).df())
            out.setdefault(sf, {})[op] = fp
            print(f"{sf} {op}: {fp['rows']} rows "
                  f"({time.perf_counter() - t0:.1f} s)", file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
