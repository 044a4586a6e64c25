"""Generate PLANS.md — a physical-plan audit of every catalog query.

For each query, counts from the executed-plan string of the OPTIMIZED
physical plan at the given sf dir:
- exchanges (shuffles) and reused exchanges,
- broadcast joins vs shuffle joins (hash/merge) vs nested-loop,
- data-sized window operators and sorts,
- whole-stage-codegen spans,
- parquet scans with pushed filters / pruned column counts.

The per-query table makes shuffle regressions reviewable round over
round the way bench_diff makes wall-clock regressions reviewable:
a query whose exchange count jumps has had its plan broken even if
the small-SF timing hides it.

Run: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(plan: str) -> dict:
    # the final AQE plan string appends the "== Initial Plan ==" for
    # reference — audit only the final physical plan above it
    plan = plan.split("== Initial Plan ==")[0]

    def count(pat):
        return len(re.findall(pat, plan))

    scans = count(r"Scan parquet")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return {
        "shuffles": count(r"Exchange (?:hash|range)partitioning"),
        "reused": count(r"ReusedExchange"),
        "bcast_joins": count(r"BroadcastHashJoin"),
        "shuffle_joins": count(r"SortMergeJoin|ShuffledHashJoin"),
        "bnlj": count(r"BroadcastNestedLoopJoin|CartesianProduct"),
        "windows": count(r"\bWindow\b|RunningWindowFunction"),
        # simple-mode plan marks codegen stages as "*(N) Operator";
        # count DISTINCT stage ids
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": scans,
        "pushed": pushed,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from goconnect_spark.queries import all_queries
    from goconnect_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    skipped = []
    for name, fn in sorted(all_queries().items()):
        # streaming drains execute eagerly and have no single batch
        # plan; their state-store behavior is audited by
        # tests/test_streaming.py
        if name.startswith("streaming_"):
            skipped.append(name)
            continue
        df = fn(spark, sf_dir)
        # execute THIS plan first (collect, not count — count() plans a
        # different query): under AQE the pre-execution plan carries no
        # codegen ids, no ReusedExchange, and isFinalPlan=false — the
        # audit must read the FINAL adaptive plan
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append((name, audit(plan)))

    print("# PLANS — physical-plan audit of the query catalog")
    print()
    print(f"Generated by tools/plan_report.py at `{sf_dir}`. Columns:")
    print("shuffles = Exchange operators (hash/range), reused = ReusedExchange,")
    print("bj/sj = broadcast vs shuffle joins, bnlj = nested-loop (allowlisted")
    print("1-row scalar joins only — enforced by tests/test_plans.py), win =")
    print("window operators, wsc = whole-stage-codegen spans, scans(pushed) =")
    print("parquet scans (with non-empty PushedFilters).")
    print()
    print("| query | shuffles | reused | bj | sj | bnlj | win | wsc | scans(pushed) |")
    print("|---|---|---|---|---|---|---|---|---|")
    tot = {}
    for name, a in rows:
        for k, v in a.items():
            tot[k] = tot.get(k, 0) + v
        print(
            f"| {name} | {a['shuffles']} | {a['reused']} | {a['bcast_joins']} | "
            f"{a['shuffle_joins']} | {a['bnlj']} | {a['windows']} | {a['codegen']} | "
            f"{a['scans']}({a['pushed']}) |"
        )
    print()
    print(
        f"**Totals over {len(rows)} batch queries**: {tot['shuffles']} shuffles "
        f"({tot['reused']} reused), {tot['bcast_joins']} broadcast vs "
        f"{tot['shuffle_joins']} shuffle joins, {tot['bnlj']} nested-loop, "
        f"{tot['windows']} window ops, {tot['codegen']} codegen spans, "
        f"{tot['scans']} scans ({tot['pushed']} with pushdown)."
    )
    print()
    print(f"Streaming queries audited separately (state metrics): {', '.join(skipped)}.")
    spark.stop()


if __name__ == "__main__":
    main()
