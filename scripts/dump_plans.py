"""Regenerate PLANS.md — formatted physical plans for representative
headline queries, with the scale-critical properties called out.
Usage: python scripts/dump_plans.py [sf_dir]"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry_mod  # noqa: E402
from zoom_spark.session import get_spark  # noqa: E402

SHOWCASE = {
    "lakehouse_maintenance_pipeline": "R242 composed flagship: MERGE "
    "(anti-join + union) -> full-outer snapshot diff -> month-chunk "
    "zone map, all equi-joins/hash aggregates on the table key",
    "suffix_array_corpus": "R274 prefix doubling: every round is a "
    "range shuffle + equi-join (two-phase global_row_number), no "
    "single-task sort",
    "tpch_q3_shipping": "dim filter broadcast into the fact join; "
    "pushed filter on c_mktsegment; top-10 compiles to TakeOrderedAndProject",
    "flagship_delta": "the reference's incremental delta: left-anti join "
    "+ watermark scalar; only uuid columns read",
    "tpch_q21_waiting_suppliers": "per-(order,supplier) aggregate feeds the "
    "per-order rollup and the rejoin on the SAME orderkey partitioning — "
    "AQE reuses the exchange instead of reshuffling",
    "interval_join_campaigns": "non-equi point-in-range join executed as an "
    "equi hash join on (event_type, time bucket) + residual range filter — "
    "no nested loop over the fact side",
    "benchmark_contamination": "benchmark shingle set deduplicated then "
    "broadcast; corpus side stays map-side (no corpus shuffle)",
    # round 2
    "embedding_neardup_lsh": "banded hyperplane LSH: planes broadcast as "
    "DATA (no literal blowup), posting-list self equi-join on "
    "(band,bucket), exact verify only inside candidates — no crossJoin",
    "weighted_sample_docs": "A-ES weighted sampling compiles to "
    "TakeOrderedAndProject over a 2-column pruned scan: zero shuffles, "
    "25*P rows to the driver merge",
    "recursive_tree_depth": "ANSI WITH RECURSIVE executes as UnionLoop; "
    "frontier shrinks each step",
    "unigram_logprob_quality": "vocab join is the SMALL side; "
    "1-row total broadcast; two-level agg with map-side partials",
    "funnel_signup_purchase": "min-CASE pivot: whole funnel is one "
    "shuffle on user_id + a 1-row reduce, no self-joins",
    # round-2 continuation
    "skyline_orders": "2-D Pareto frontier as a two-phase prefix-max "
    "scan: range repartition + per-partition window + O(P) offset "
    "broadcast — no single-task global window, no quadratic NOT EXISTS",
    "co_purchase_triangles": "degree-oriented triangle count: broadcast "
    "degree dim, wedge equi-join fans out only from low-degree "
    "endpoints, closure is a (v,w) equi-join — no cartesian anywhere",
    "equidepth_histogram": "global rank via range partition + local "
    "row_number + O(P) offsets; NTILE bucketing applied arithmetically "
    "against a 1-row broadcast count",
    # round 4
    "lateral_top_orders_per_customer": "correlated LATERAL decorrelated "
    "by Catalyst into WindowGroupLimit (map-side top-k pre-prune before "
    "the shuffle) + broadcast equi-join — no per-outer-row re-execution",
    "heavy_hitter_tokens": "two-phase exact heavy hitters: mapInPandas "
    "emits only locally-heavy candidates (pigeonhole superset), recount "
    "joins the tiny candidate set via broadcast — the long tail never "
    "shuffles",
    "knn_ivfpq": "residual IVF-PQ: per-(query,cell) lookup tables "
    "broadcast as DATA into a cell equi-join; distance is an m-lookup "
    "JVM fold over 8x-compressed codes",
    "shuffle_shards_deterministic": "deterministic training-shard "
    "layout: md5 shard assignment map-side, single hash exchange on "
    "shard + in-partition sort for the rank — no global sort",
    # round 5
    "decontaminate_ngram_overlap": "train-vs-test 8-gram scrub: shingles "
    "md5-hashed map-side (16-byte shuffle keys), benchmark-sized test "
    "set probed by equi-join, left join restores zero-shingle docs",
    "roc_auc_purchase_value": "tie-corrected Mann-Whitney AUC with no "
    "global sort: per-distinct-score counts, two-phase prefix-sum "
    "(range exchange + local window + O(P) offset broadcast), 1-row "
    "normalizer",
    "eventually_follows_pairs": "first(A)-before-last(B) exactness "
    "shortcut: one (user,type) window partitioning replaces the "
    "history-squared self-join; per-user join is |types|^2",
    "rolling_7day_active_users": "windowed COUNT(DISTINCT) as a "
    "7-offset map-only explode + one distinct aggregate on "
    "(date,user) — no RANGE-interval single-task window",
    "pretrain_corpus_pipeline": "composed decontaminate -> Gopher -> "
    "CCNet tiers: each stage keeps its standalone plan shape; "
    "composition adds only doc_id equi-joins and broadcast cuts",
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-dump")
    qs = entry_mod.queries()
    out = [
        "# PLANS — representative physical plans (sf0.01, local[32])",
        "",
        "Generated by `python scripts/dump_plans.py`; asserted in CI form by",
        "`scripts/audit_plans.py` (147 queries). Shown here so plan quality is",
        "reviewable without running Spark.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree; trim the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", f"*{why}*", "", "```", tree, "```", ""]
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
