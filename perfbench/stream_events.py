"""stream_events: one streaming job built from goconnect_spark.streaming.run.

streaming_dedup on event_id -> windowed_counts per key in update mode ->
enrich_with_dim against a small static key -> category table, drained
to a memory sink. Every second event id is a duplicate of the one
before it, so dedup keeps half of the rows.

Two phases, each its own query:
- drain (closed loop): `rate-micro-batch` with a fixed number of rows
  per batch; the next batch starts when the previous one ends.
  Capacity = the median over the steady triggers of rows / trigger time.
- open loop: the built-in `rate` source at a fixed offered rate,
  drained by a 2-second processing-time trigger. The source stamps each
  row with its scheduled creation time and does not slow down when the
  job does. Latency per trigger = trigger completion
  (progress.timestamp + durationMs.triggerExecution) minus the oldest
  event time in the trigger (progress.eventTime.min).

Both phases are checked: the final count of every window (or, for the
open loop, every key) must equal a batch recount of the ingested,
deduplicated rows.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

import inputs
from harness import add_into, median, tail

N_KEYS = 64
KEY_MULT, KEY_PRIME = 1_000_003, 2_147_483_647
WINDOW_S = 5
WINDOW = f"{WINDOW_S} seconds"
WATERMARK = "2 seconds"
WARMUP_TRIGGERS = 1  # the cold first trigger (planning, code generation) is left out
DRAIN_ROWS_PER_BATCH = 40_000
DRAIN_START_MS = 1_700_000_000_000  # event time of the first drain batch; later ones add 1 s each
# The rate source plans one batch per elapsed second, and a trigger of
# this job costs about a second whatever its size, so the open loop
# fires every OPEN_LOOP_TRIGGER: each trigger ends well inside its
# interval instead of sitting at the edge where any slowdown makes the
# job fall behind and splits the latency of otherwise equal runs in two.
OPEN_LOOP_ROWS_PER_S = 6_000  # a fifth of the drain capacity
OPEN_LOOP_TRIGGER = {"processingTime": "2 seconds"}
# Triggers fire on whole multiples of the interval since the epoch, and
# the rate source releases a second of rows once that second, counted
# from the source's creation, has passed. The fraction of a second at
# which the source is created therefore adds between 0 and 1 s to every
# latency of a run. The open loop is started at a fixed fraction, so
# that the source (created about 0.08 s after start()) begins near the
# middle of a second and start-up jitter cannot carry it across one.
OPEN_LOOP_START_AT = 0.42
# Spark 4 rejects the second watermark that windowed_counts defines on
# top of streaming_dedup's once the watermark advances ("Redefining
# watermark is disallowed"); the single-watermark policy accepts it.
PHASE_LIMIT_S = 30
SESSION_CONF = {"spark.sql.streaming.statefulOperator.allowMultiple": "false"}


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _events(src, salt: int):
    """event_id = value div 2 (every id arrives twice, in the same batch);
    key = ((event_id * KEY_MULT + salt) mod KEY_PRIME) mod N_KEYS, which
    stays inside 64-bit range and is reproduced exactly by `_key`."""
    ev = src.selectExpr("timestamp AS event_time", "value div 2 AS event_id")
    return ev.selectExpr("event_time", "event_id", f"CAST(pmod(pmod(event_id * {KEY_MULT} + "
                         f"{salt}, {KEY_PRIME}), {N_KEYS}) AS INT) AS key")


def _key(event_id, salt: int):
    return (event_id * KEY_MULT + salt) % KEY_PRIME % N_KEYS


def build(spark, src, seed: int):
    from goconnect_spark.streaming.run import enrich_with_dim, streaming_dedup, windowed_counts

    dim = spark.createDataFrame(inputs.stream_dim(seed, N_KEYS), "key int, category string")
    d = streaming_dedup(_events(src, inputs.stream_salt(seed)), ["event_id"], watermark=WATERMARK)
    c = windowed_counts(d, window=WINDOW, watermark=WATERMARK, keys=["key"])
    return enrich_with_dim(c, dim, ["key"])


def _committed(chk: str) -> int:
    ids = [int(os.path.basename(p)) for p in glob.glob(os.path.join(chk, "commits", "[0-9]*"))]
    return max(ids) if ids else -1


def _offset(chk: str, batch: int):
    """Source end offset planned for `batch`, as logged (None if unplanned):
    rate-micro-batch logs {"offset": rows, "timestamp": next batch ms},
    rate logs the number of elapsed seconds."""
    path = os.path.join(chk, "offsets", str(batch))
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def _run_phase(ctx, name: str, src, duration_s: float, min_triggers: int, trigger=None,
               start_at: float | None = None):
    """Run one query for `duration_s` and until it has `min_triggers`
    steady triggers (at most PHASE_LIMIT_S more), started at the
    fraction `start_at` of a wall-clock second if given; returns
    (progress dicts, sink rows, checkpoint dir)."""
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    chk = os.path.join(ctx.work, "chk", table)
    for k, v in SESSION_CONF.items():
        ctx.spark.conf.set(k, v)
    w = (build(ctx.spark, src, ctx.seed).writeStream.format("memory").queryName(table)
         .outputMode("update").option("checkpointLocation", chk))
    w = w.trigger(**trigger) if trigger else w
    if start_at is not None:
        time.sleep((start_at - time.time()) % 1.0)
    q = w.start()
    try:
        t0 = time.time()
        while q.isActive and time.time() < t0 + duration_s + PHASE_LIMIT_S:
            if time.time() >= t0 + duration_s and len(
                    _steady([json.loads(p.json) for p in q.recentProgress])) >= min_triggers:
                break
            time.sleep(0.05)
        if q.exception() is not None:
            raise RuntimeError(f"{name}: {q.exception()}")
    finally:
        q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]
    rows = [r.asDict() for r in ctx.spark.sql(f"SELECT * FROM {table}").collect()]
    return progress, rows, chk


def _final_counts(rows, by_window: bool) -> dict:
    """Last (largest) count of every (window start ms, key); summed per
    key unless by_window."""
    final: dict = {}
    for r in rows:
        k = (round(r["window"].start.timestamp() * 1000), r["key"])
        final[k] = max(final.get(k, 0), r["n"])
    if by_window:
        return final
    per_key: dict = {}
    for (_, key), n in final.items():
        per_key[key] = per_key.get(key, 0) + n
    return per_key


def _recount(ctx, n_rows: int, rows_per_batch: int | None) -> dict:
    """Recount of the first `n_rows` ingested rows after dedup, in numpy:
    per (window start ms, key) for the drain, whose event times are
    exact, and per key for the open loop."""
    import numpy as np

    ids = np.arange(n_rows // 2, dtype=np.int64)
    keys = _key(ids, inputs.stream_salt(ctx.seed))
    if not rows_per_batch:
        return {int(k): int(c) for k, c in enumerate(np.bincount(keys, minlength=N_KEYS)) if c}
    # rate-micro-batch stamps batch b with startTimestamp + b * advanceMillisPerBatch (1 s)
    ts = DRAIN_START_MS + (2 * ids // rows_per_batch) * 1000
    ws = ts - ts % (WINDOW_S * 1000)
    pairs, counts = np.unique(np.stack([ws, keys]), axis=1, return_counts=True)
    return {(int(w), int(k)): int(c) for (w, k), c in zip(pairs.T, counts)}


def _check(ctx, name: str, rows, chk: str, rows_per_batch: int | None, rows_per_s: int | None):
    """The last count the sink holds for each window must equal the
    recount over every batch up to the last committed one. The sink may
    also hold the batch after it (a stop between that batch's sink write
    and its commit), so a match at either boundary passes."""
    last = _committed(chk)
    got = _final_counts(rows, by_window=bool(rows_per_batch))
    if ctx.plant_wrong == f"stream.{name}" and got:
        got[next(iter(got))] += 1
    tried = []
    for b in (last, last + 1):
        end = 0 if b < 0 else _offset(chk, b)
        if end is None:
            continue
        if rows_per_batch:
            n_rows = end["offset"] if end else 0
        else:
            n_rows = int(end) * rows_per_s
        want = _recount(ctx, n_rows, rows_per_batch)
        if got == want:
            return
        tried.append(f"batch {b}: {sum(want.values())} rows in {len(want)} groups")
    raise AssertionError(f"stream {name}: sink holds {sum(got.values())} rows in {len(got)} "
                         f"groups, recount gives {'; '.join(tried) or 'no committed batch'}")


def _steady(progress):
    return [p for p in progress if p["numInputRows"] > 0][WARMUP_TRIGGERS:]


def event_latencies(progress) -> "np.ndarray":
    """Latency of every event, in ms: its trigger's completion minus its
    creation time. The rate source spaces creation times evenly between
    a trigger's eventTime.min and eventTime.max, so each trigger's events
    are reconstructed exactly from its progress record."""
    import numpy as np

    parts = []
    for p in progress:
        et = p.get("eventTime", {})
        if "min" not in et or not p["numInputRows"]:
            continue
        done = _ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        created = np.linspace(_ts(et["min"]), _ts(et["max"]), p["numInputRows"])
        parts.append((done - created) * 1000.0)
    return np.concatenate(parts) if parts else np.zeros(0)


def run(ctx, drain_s: float, open_s: float, min_triggers: tuple[int, int]) -> dict:
    """Drain phase, then open-loop phase, each for its time and at least
    `min_triggers` = (drain, open) steady triggers; returns end-to-end
    numbers and, when traced, the per-layer streaming metrics."""
    res: dict = {}
    nparts = ctx.cpus
    phases = {}

    def drain():
        src = (ctx.spark.readStream.format("rate-micro-batch")
               .option("rowsPerBatch", DRAIN_ROWS_PER_BATCH).option("numPartitions", nparts)
               .option("advanceMillisPerBatch", 1000).option("startTimestamp", DRAIN_START_MS).load())
        prog, rows, chk = _run_phase(ctx, "drain", src, drain_s, min_triggers[0])
        phases["drain"] = prog
        _check(ctx, "drain", rows, chk, DRAIN_ROWS_PER_BATCH, None)

    def open_loop():
        src = (ctx.spark.readStream.format("rate")
               .option("rowsPerSecond", OPEN_LOOP_ROWS_PER_S).option("numPartitions", nparts).load())
        prog, rows, chk = _run_phase(ctx, "open", src, open_s, min_triggers[1], OPEN_LOOP_TRIGGER,
                                     OPEN_LOOP_START_AT)
        phases["open"] = prog
        _check(ctx, "open", rows, chk, None, OPEN_LOOP_ROWS_PER_S)

    for name, fn in (("drain", drain), ("open", open_loop)):
        with ctx.tracer.span(f"streaming.phase.{name}"):
            ok, _ = ctx.ops.run(f"stream.{name}", fn)
        if not ok:
            ctx.correct = False
        prog = phases.get(name, [])
        ctx.ops.count(len(prog))
        for p in prog:
            start = _ts(p["timestamp"])
            ctx.tracer.add("streaming.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000,
                           phase=name, batch=p["batchId"], rows=p["numInputRows"])

    for name, prog in phases.items():
        print(f"# stream {name} triggers (rows, ms): "
              f"{[(p['numInputRows'], p['durationMs']['triggerExecution']) for p in prog]}")
    drain_p = _steady(phases.get("drain", []))
    if drain_p:
        res["drain_rows_per_s"] = median([p["numInputRows"] / p["durationMs"]["triggerExecution"]
                                          * 1000.0 for p in drain_p])
    open_p = _steady(phases.get("open", []))
    lat = event_latencies(open_p)
    first = next((p for p in phases.get("open", []) if "min" in p.get("eventTime", {})), None)
    if first:
        print(f"# stream open: rate source started {_ts(first['eventTime']['min']) % 1.0:.3f} s "
              f"past a second")
    if len(lat):
        res["latency_p50_ms"] = median(lat.tolist())
        res["latency_tail_ms"], res["latency_tail_pct"], res["latency_samples"] = tail(lat.tolist())
        res["latency_triggers"] = len(open_p)
    if ctx.plan:
        add_into(ctx.exec_acc, ctx.plan.collect())
        res["layers"] = _layers(drain_p + open_p, open_p)
    return res


def _layers(progress, open_loop) -> dict:
    """Per-trigger medians and state totals over both phases; event lag
    over the open loop only (the drain's event times are synthetic)."""
    def med(key):
        return median([p["durationMs"].get(key, 0) for p in progress])

    ops = [[o for o in p.get("stateOperators", [])] for p in progress]
    dedup = [o for os_ in ops for o in os_ if "dedup" in o.get("operatorName", "").lower()]
    rows_in = sum(p["numInputRows"] for p in progress)
    last = ops[-1] if ops else []
    return {
        "streaming.trigger.execution_ms": med("triggerExecution"),
        "streaming.trigger.add_batch_ms": med("addBatch"),
        "streaming.trigger.get_batch_ms": med("getBatch"),
        "streaming.trigger.latest_offset_ms": med("latestOffset"),
        "streaming.trigger.query_planning_ms": med("queryPlanning"),
        "streaming.trigger.wal_commit_ms": med("walCommit"),
        "streaming.trigger.commit_offsets_ms": med("commitOffsets"),
        "streaming.batches": len(progress),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in progress]),
        "streaming.event_lag_ms": median([
            (_ts(p["timestamp"]) - _ts(p["eventTime"]["max"])) * 1000.0
            for p in open_loop if "max" in p.get("eventTime", {})]),
        "streaming.state.rows_total": sum(o.get("numRowsTotal", 0) for o in last),
        "streaming.state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last),
        "streaming.state.commit_ms": median([sum(o.get("commitTimeMs", 0) for o in os_) for os_ in ops]),
        "streaming.state.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for os_ in ops for o in os_),
        "streaming.state.rows_removed": sum(o.get("numRowsRemoved", 0) for os_ in ops for o in os_),
        "streaming.dedup_keep_ratio": (sum(o.get("numRowsUpdated", 0) for o in dedup) / rows_in
                                       if rows_in else 0.0),
    }


def cleanup(ctx) -> None:
    shutil.rmtree(os.path.join(ctx.work, "chk"), ignore_errors=True)
