"""The repository benchmark: one command, two workloads over three families.

    python3 perfbench/run.py --workload {batch_sf01,stream_events}
                             --seed N --seconds S --trace {0,1} [--cpus N]

Three families of operations: pipeline_etl (goconnect's example
chains), catalog_sf01 (catalog queries on sf0.1 tables) and
stream_events (one streaming job). A workload runs its own families at
full size, each for --seconds, and the others once at probe size, so
every end-to-end metric is measured on every workload:

    batch_sf01     pipeline_etl + catalog_sf01 full, stream_events probe
    stream_events  stream_events full, pipeline_etl + catalog_sf01 probes

Runs on local[--cpus] (default: every CPU this process may use) in one
process. Inputs are generated from --seed before anything is timed.
With --trace 1 the workload's own families run at probe size (a
warm-up), at full size untraced, and again with spans and plan metrics
recorded, and the per-layer metrics are reported instead. The last
stdout line is the JSON result; the exit code is 0 only when every
output check passed and no operation failed. Every process the run
starts has ended before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

FAMILIES = ("pipeline_etl", "catalog_sf01", "stream_events")
WORKLOADS = {"batch_sf01": ("pipeline_etl", "catalog_sf01"), "stream_events": ("stream_events",)}
N_XML, N_AVRO = 200_000, 4_000
PROBE_N_XML, PROBE_N_AVRO = 100_000, 2_000
# an untimed run of each chain first: a fresh JVM's first run is at a
# third of the steady rate
PIPELINE_WARM_REPS = 1
PIPELINE_MIN_REPS = 3  # timed runs after those; the median is reported
SETUPS = 5
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pipeline.xml_elements_per_s": "elem/s",
    "pipeline.avro_elements_per_s": "elem/s",
    "catalog.wall_s": "s",
    "stream.drain_rows_per_s": "rows/s",
    "stream.latency_p50_ms": "ms",
    "stream.latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}


class Ctx:
    """Everything one run shares between the workload families."""

    def __init__(self, args, work: str):
        from harness import NullTracer, Ops

        self.seed = args.seed
        self.cpus = args.cpus
        self.work = work
        self.tracer = NullTracer()
        self.plan = None
        self.exec_acc: dict = {}
        self.correct = True
        kind, _, op = (args.plant or "").partition(":")
        self.plant_wrong = op if kind == "wrong" else None
        self.ops = Ops(plant_fail=op if kind == "fail" else None)
        self.spark = None
        self.tables = None
        self.warm_tables = None


def _setup(ctx, lineitem: str) -> dict:
    """get_spark() plus a first action, SETUPS times: the first launches
    the JVM, the others rebuild the session on it. Medians reported."""
    import pyspark.sql.functions as F

    from goconnect_spark.session import get_spark
    from harness import median

    starts, totals = [], []
    local = os.path.join(ctx.work, "spark-local")
    for i in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_spark", attempt=i):
            spark = get_spark("perfbench", **{
                "spark.local.dir": local,
                # the whole heap is resident from the start (as with -Xms = -Xmx
                # in production), so peak_rss_mb moves with native and Python
                # memory rather than with when the collector grew the heap
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"})
        t1 = time.perf_counter()
        with ctx.tracer.span("session.first_action", attempt=i):
            spark.read.parquet(lineitem).agg(F.sum("l_extendedprice"), F.count("*")).collect()
        t2 = time.perf_counter()
        ctx.spark = spark
        starts.append(t1 - t0)
        totals.append(t2 - t0)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return {"start_s": median(starts), "setup_s": median(totals), "cold_s": totals[0]}


def _family(ctx, name: str, primary: bool, seconds: float, fixed=None):
    """Run one family; returns (result dict, wall)."""
    import catalog
    import pipeline_etl
    import stream_events

    t0 = time.perf_counter()
    print(f"# {name} {'primary' if primary else 'probe'} starts")
    if name == "pipeline_etl":
        res = (pipeline_etl.run(ctx, N_XML, N_AVRO, seconds, reps=fixed,
                                warm=PIPELINE_WARM_REPS, min_reps=PIPELINE_MIN_REPS) if primary
               else pipeline_etl.run(ctx, PROBE_N_XML, PROBE_N_AVRO, 0, reps=1))
    elif name == "catalog_sf01":
        res = (catalog.run(ctx, catalog.QUERIES, seconds, passes=fixed,
                           warm_tables=ctx.warm_tables) if primary
               else catalog.run(ctx, catalog.PROBE, 0, passes=1))
    else:
        # a drain trigger takes about a second and an open-loop one fires
        # every two, so the drain gets more of them
        res = (stream_events.run(ctx, seconds / 2, seconds / 2, min_triggers=(6, 4)) if primary
               else stream_events.run(ctx, 0, 0, min_triggers=(3, 2)))
        stream_events.cleanup(ctx)
    wall = time.perf_counter() - t0
    print(f"# {name} {'primary' if primary else 'probe'} took {wall:.1f} s")
    return res, wall


def _fill(metrics: dict, name: str, res: dict) -> None:
    if name == "pipeline_etl":
        metrics["pipeline.xml_elements_per_s"] = res.get("xml_elements_per_s")
        metrics["pipeline.avro_elements_per_s"] = res.get("avro_elements_per_s")
    elif name == "catalog_sf01":
        metrics["catalog.wall_s"] = res.get("wall_s")
    else:
        metrics["stream.drain_rows_per_s"] = res.get("drain_rows_per_s")
        metrics["stream.latency_p50_ms"] = res.get("latency_p50_ms")
        metrics["stream.latency_tail_ms"] = res.get("latency_tail_ms")


def _per_layer(ctx, results: dict, setup: dict, overhead: float) -> dict:
    """Per-layer values of a traced run; layers a workload does not
    exercise read 0."""
    from harness import EXEC_METRICS

    out = {"session.start_s": setup["start_s"], "trace_overhead_s": overhead,
           "error_rate": ctx.ops.failed / max(1, ctx.ops.attempted)}
    out.update({k: ctx.exec_acc.get(k, 0.0) for k in EXEC_METRICS})
    for q, wall in results.get("catalog_sf01", {}).get("per_query", {}).items():
        out[f"queries.wall_s.{q}"] = wall
    for r in results.values():
        out.update(r.get("layers", {}))
    return out


def _units() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--plant", default=None, help=argparse.SUPPRESS)  # fail:<op> | wrong:<op>
    args = ap.parse_args(argv)

    if not inputs.repo_ok():
        print("perfbench: goconnect_spark/ and tools/gen_scale_data.py must sit next to "
              "perfbench/ (run from the repository root)", file=sys.stderr)
        return 2
    sys.path.insert(0, inputs.REPO)
    sys.path.insert(0, os.path.join(inputs.REPO, "tools"))

    work = os.path.join(inputs.WORK, f"run_{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    # a fixed driver heap keeps peak_rss_mb a property of the program, not
    # of how far the collector lets the default 8 GB heap grow
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # few malloc arenas: the JVM's native memory stays near what it uses
    # instead of growing with the number of threads that ever allocated
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: temporary files stay in the checkout

    ctx = Ctx(args, work)
    ctx.tables = inputs.tables(args.seed)
    ctx.warm_tables = inputs.tables(args.seed, inputs.WARM_SF)
    own = WORKLOADS[args.workload]  # families run at full size
    for n in (N_AVRO, PROBE_N_AVRO):
        inputs.avro_payloads(args.seed, n)

    from harness import PlanMetrics, RssSampler, Tracer

    sampler = RssSampler().start()
    metrics: dict = {}
    with contextlib.redirect_stdout(sys.stderr):
        try:
            setup = _setup(ctx, os.path.join(ctx.tables, "lineitem.parquet"))
            sampler.pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
            print(f"# setup: cold {setup['cold_s']:.3f} s, median of {SETUPS} "
                  f"{setup['setup_s']:.3f} s")
            metrics["setup_s"] = setup["setup_s"]
            results = {}
            if args.trace:
                # a probe-size pass warms the JVM; the full-size untraced
                # pass after it is the wall the traced pass is compared with
                for f in own:
                    _family(ctx, f, False, 0)
                wall0 = 0.0
                for f in own:
                    results[f], w = _family(ctx, f, True, args.seconds)
                    wall0 += w
                fixed = {f: r.get("reps") or r.get("passes") for f, r in results.items()}
                ctx.tracer, ctx.plan = Tracer(), PlanMetrics(ctx.spark)
                wall1 = 0.0
                with ctx.tracer.span(f"workload.{args.workload}"):
                    for f in own:
                        results[f], w = _family(ctx, f, True, args.seconds, fixed=fixed.get(f))
                        wall1 += w
            else:
                for f in own:
                    results[f], _ = _family(ctx, f, True, args.seconds)
                for f in FAMILIES:
                    if f not in own:
                        results[f], _ = _family(ctx, f, False, 0)
                for f, r in results.items():
                    _fill(metrics, f, r)
        finally:
            if ctx.spark is not None:
                ctx.spark.stop()
            peak = sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
    metrics["peak_rss_mb"] = peak
    print(f"# peak memory by process (MB): "
          f"{ {p: kb // 1024 for p, kb in sampler.peak_tree.items()} } (driver JVM first)")

    if args.trace:
        spans = os.path.join(inputs.WORK, "traces", f"{args.workload}_s{args.seed}.json")
        ctx.tracer.write(spans)
        overhead = wall1 - wall0
        print(f"# spans {spans}  trace_overhead_s {overhead:.3f}  (traced {wall1:.3f} s, "
              f"untraced {wall0:.3f} s)")
        units = _units()
        vals = _per_layer(ctx, results, setup, overhead)
        out_metrics = {k: {"value": float(vals.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        missing = [k for k in END_TO_END if metrics.get(k) is None]
        if missing:
            ctx.correct = False
            print(f"# no value for {missing}", file=sys.stderr)
        for k, u in END_TO_END.items():
            print(f"# {k}: {metrics.get(k)} {u}")
        st = results.get("stream_events", {})
        if "latency_samples" in st:
            print(f"# stream.latency_tail_ms is p{st['latency_tail_pct']:.3f} of "
                  f"{st['latency_samples']} event latencies from {st['latency_triggers']} triggers")
        out_metrics = {k: {"value": float(metrics.get(k) or 0.0), "unit": u}
                       for k, u in END_TO_END.items()}
    err = ctx.ops.failed / max(1, ctx.ops.attempted)
    print(f"# seed {args.seed}  error_rate {err:.4f} ({ctx.ops.failed}/{ctx.ops.attempted})"
          + "".join(f"\n# error {e['op']}: {e['exception']}: {e['message']}" for e in ctx.ops.errors))
    correct = ctx.correct and ctx.ops.failed == 0
    print(json.dumps({"correct": correct, "attempted": ctx.ops.attempted,
                      "failed": ctx.ops.failed, "metrics": out_metrics}))
    return 0 if correct else 1


def _main_and_stop() -> int:
    """main(), then stop every process it started (the Spark JVM and its
    Python workers) and wait for each to end, on every path out."""
    import signal

    from harness import become_subreaper, stop_processes

    become_subreaper()
    # a terminated run still stops its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return main()
    finally:
        t0 = time.perf_counter()
        left = stop_processes()
        print(f"# child processes stopped in {time.perf_counter() - t0:.2f} s"
              + (f"; had to signal {left}" if left else ""), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(_main_and_stop())
