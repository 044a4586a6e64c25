"""Benchmark harness: times catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line on stdout:
  {"metric": "headline31_total_wall", "value": N, "unit": "sec",
   "calibration_wall": C, ..., "queries": {...headline queries...},
   "all_queries_total_wall": M, "n_queries_all": K, "failed": [...],
   ..., "sf": ...}

    python bench.py [query ...]

With no names it runs EVERY catalog query, headline first; with names
it runs just those (an unknown name is an error before any work
starts). This is the one way to time catalog queries at any scale:
point $SPARK_GRAFT_SF_DIR at tools/gen_scale_data.py output and compare
two stderr captures with tools/bench_diff.py (SCALING.md, "Measuring
at scale"). Each query's wall is the MIN of three passes of
`.count()`. A query that raises is reported on stderr, skipped in later
passes, left out of every total and listed under "failed".

`value` is the legacy 31-query headline total (`headline31_total_wall`
is its explicit alias); the 34-query set adds three family
representatives and is reported as `headline34_total_wall`.

Box-speed yardsticks: three fixed-work probes (codegen aggregate,
shuffle groupBy, partitioned window sort) timed in the same session
before the passes. Dividing a query ratio across two captures by the
probe ratio normalizes box-speed drift out; tools/bench_diff.py reports
raw and calibrated ratios, and the `*_calibrated` fields divide by the
sort probe.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q7_trade_volume",
    "q18_large_volume_customers",
    "events_latest_per_user",
    "user_history_scd2",
    "benchmark_contamination",
    "events_hourly",
    "user_sessions",
    "events_error_context",
    "purchases_asof_signup",
    "events_value_stats",
    "flatmap_word_counts",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "cosine_topk",
    "embedding_near_dup",
    "text_lang_id",
    "text_quality_score",
    "text_token_stats",
    "doc_fingerprint",
    "sequence_packing",
    # range join, sketches, co-occurrence, funnel
    "events_in_error_windows",
    "word_freq_cms",
    "word_cooccurrence",
    "user_rolling_7d",
    "funnel_view_click_purchase",
    "q13_order_count_distribution",
]

# PQ/IVM/BM25 family representatives, gated with the headline but kept
# OUT of the legacy 31-query total so `value` stays comparable across
# captures.
HEADLINE_R7 = [
    "ann_ivfpq_topk",
    "streaming_ivm_hourly_counts",
    "bm25_keyword_topk",
]
HEADLINE31 = list(HEADLINE)
HEADLINE = HEADLINE + HEADLINE_R7


def calibrate(spark) -> dict:
    """Fixed-work box-speed probes, printed to stderr and returned under
    their stdout keys:
     - calibration_wall: 2B-row codegen aggregate (pure JVM CPU), median
       of 5;
     - shuffle_calibration_wall: 4M-row 64-partition groupBy round trip
       (scheduler + exchange overhead, which can drift while the CPU
       probe stays flat), median of 5;
     - sort_calibration_wall: 8M rows shuffled to 64 hash partitions,
       sorted, row_number'd and reduced (exchange + sort + codegen, the
       blend closest to real query walls), trimmed mean of 5.
    Each comes with its max/min spread so a consumer can refuse an
    unstable calibration."""

    def sort_probe():
        (
            spark.range(0, 8_000_000, 1, 32)
            .selectExpr("id % 64 as p", "hash(id) as h")
            .selectExpr(
                "p", "h",
                "row_number() over (partition by p order by h) as rn")
            # bounded summand: |h % 1001 * rn| <= 1000 * 125k over 8M
            # rows stays ~1e15, far inside ANSI long range
            .selectExpr("sum((h % 1001) * cast(rn as bigint)) as s")
            .collect()
        )

    # untimed warm-ups: the first executions carry JIT/codegen tiers
    # that would otherwise inflate the spread with warm-up decay
    for _ in range(2):
        spark.range(0, 500_000_000, 1, 32).selectExpr(
            "sum(id * 3 + 7) as s").collect()
        spark.range(0, 4_000_000, 1, 64).selectExpr(
            "id % 9973 as k").groupBy("k").count().count()
        sort_probe()
    cpu_probes, sched_probes, sort_probes = [], [], []
    for _ in range(5):
        t0 = time.time()
        spark.range(0, 2_000_000_000, 1, 32).selectExpr(
            "sum(id * 3 + 7) as s"
        ).collect()
        cpu_probes.append(time.time() - t0)
        t0 = time.time()
        spark.range(0, 4_000_000, 1, 64).selectExpr(
            "id % 9973 as k"
        ).groupBy("k").count().count()
        sched_probes.append(time.time() - t0)
        t0 = time.time()
        sort_probe()
        sort_probes.append(time.time() - t0)

    def spread(probes):
        return round(max(probes) / max(1e-9, min(probes)), 3)

    probes = {
        "calibration_wall": round(statistics.median(cpu_probes), 3),
        "calibration_spread": spread(cpu_probes),
        "shuffle_calibration_wall": round(statistics.median(sched_probes), 3),
        "shuffle_calibration_spread": spread(sched_probes),
        "sort_calibration_wall": round(statistics.mean(sorted(sort_probes)[1:-1]), 3),
        "sort_calibration_spread": spread(sort_probes),
    }
    for key, note in [
        ("calibration_wall", "s (2B-row fixed-work aggregate; median of 5)"),
        ("calibration_spread", "x (max/min of 5 probes)"),
        ("shuffle_calibration_wall", "s (4M-row 64-part groupBy; median of 5)"),
        ("shuffle_calibration_spread", "x (max/min of 5)"),
        ("sort_calibration_wall", "s (8M-row 64-part window sort; trimmed mean of 5)"),
        ("sort_calibration_spread", "x (max/min of 5)"),
    ]:
        print(f"# {key} {probes[key]}{note}", file=sys.stderr)
    return probes


def main(names=None):
    names = sys.argv[1:] if names is None else names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from goconnect_spark.queries import all_queries
    from goconnect_spark.session import get_spark

    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"bench.py: unknown queries: {' '.join(unknown)}")
    if names:
        to_run = list(dict.fromkeys(names))
    else:
        # headline first (their MINs settle early), then the catalog tail
        to_run = [n for n in HEADLINE if n in qs] + [
            n for n in qs if n not in HEADLINE
        ]

    spark = get_spark("goconnect-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + parquet footer caches with one tiny action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    probes = calibrate(spark)

    # three passes, keep the per-query MIN: the steady-state cost of
    # the plan, insulated from scheduler noise and from cache-retention
    # nondeterminism (a MEMORY_AND_DISK shared cache can stay cold
    # through pass 1; with two warm passes the MIN lands on a warm one)
    times: dict[str, float] = {}
    failed: list[str] = []
    for pass_no in range(3):
        for name in to_run:
            if name in failed:
                continue
            t0 = time.time()
            try:
                n = qs[name](spark, sf_dir).count()
            except Exception as e:
                # one failing (or OOM) query is recorded, not fatal
                failed.append(name)
                times.pop(name, None)
                print(f"# pass{pass_no} {name}: FAILED {type(e).__name__}",
                      file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                continue
            dt = round(time.time() - t0, 3)
            times[name] = min(times.get(name, dt), dt)
            print(f"# pass{pass_no} {name}: {dt}s ({n} rows)", file=sys.stderr)

    headline_total = round(sum(times[n] for n in times if n in HEADLINE), 3)
    headline31_total = round(sum(times[n] for n in times if n in HEADLINE31), 3)
    all_total = round(sum(times.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The per-query maps go to STDERR: a consumer that keeps only a ~2 KB
    # tail of stdout must still see the whole final JSON line.
    print("# all_query_times " + json.dumps(times), file=sys.stderr)
    sort_calib = probes["sort_calibration_wall"]
    denom = sort_calib if sort_calib > 0 else 1.0
    print(
        "# queries_calibrated "
        + json.dumps({n: round(t / denom, 3) for n, t in times.items()}),
        file=sys.stderr,
    )
    # Final stdout line stays compact (~1.6 KB at 34 headline queries,
    # inside a 2 KB tail): headline-only query map, the totals and the
    # names of failed queries.
    print(
        json.dumps(
            {
                "metric": "headline31_total_wall",
                "value": headline31_total,
                "unit": "sec",
                # box fingerprint first: read any cross-capture delta
                # through tools/bench_diff.py, never as raw walls
                **probes,
                # n_queries pairs with value/metric (the 31-query
                # legacy total); the queries map carries the wider
                # 34-query headline set, counted by n_queries_headline
                "n_queries": sum(1 for n in times if n in HEADLINE31),
                "n_queries_headline": sum(1 for n in times if n in HEADLINE),
                "queries": {n: times[n] for n in HEADLINE if n in times},
                "headline31_total_wall": headline31_total,
                "headline34_total_wall": headline_total,
                "all_queries_total_wall": all_total,
                "n_queries_all": len(times),
                "failed": failed,
                # totals divided by the same run's sort probe; the
                # per-query map is stderr `# queries_calibrated`
                "calibration_divisor": "sort_calibration_wall",
                "headline31_calibrated": round(headline31_total / denom, 3),
                "headline34_calibrated": round(headline_total / denom, 3),
                "all_queries_calibrated": round(all_total / denom, 3),
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
