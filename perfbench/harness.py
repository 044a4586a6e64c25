"""Measurement plumbing shared by the three families of operations.

Everything here observes the library from outside: spans wrap calls into
`goconnect_spark`, plan metrics are read back from Spark's SQL status
store after each action, and RSS is sampled from /proc. Nothing in the
library is patched.
"""

from __future__ import annotations

import contextlib
import ctypes
import json
import os
import re
import signal
import statistics
import sys
import threading
import time
import traceback
import uuid
from contextlib import contextmanager
from typing import Any, Callable, Optional


# -- spans -------------------------------------------------------------
class Tracer:
    """In-memory span recorder; written once, when the run ends."""

    enabled = True

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span whose interval was measured elsewhere (a trigger)."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "run_id": self.run_id, "start": start, "end": end, **attrs})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class NullTracer:
    """The untraced runs' tracer: records nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        pass


# -- operation isolation ------------------------------------------------
class Ops:
    """Counts operations and isolates each one: a failure is recorded
    with its exception class and the run carries on."""

    def __init__(self, plant_fail: Optional[str] = None):
        self.attempted = 0
        self.failed = 0
        self.errors: list[dict] = []
        self.plant_fail = plant_fail

    def run(self, name: str, fn: Callable[[], Any]) -> tuple[bool, Any]:
        self.attempted += 1
        try:
            if name == self.plant_fail:
                raise RuntimeError(f"planted failure in {name}")
            return True, fn()
        except Exception as e:  # boundary: one failing operation must not end the run
            self.failed += 1
            self.errors.append({"op": name, "exception": type(e).__name__,
                                "message": str(e).splitlines()[0][:300] if str(e) else ""})
            print(f"# FAILED {name}: {type(e).__name__}\n{traceback.format_exc()}",
                  file=sys.stderr)
            return False, None

    def count(self, n: int) -> None:
        """Operations run inside another operation (triggers of a phase)."""
        self.attempted += n


# -- resident memory ----------------------------------------------------
def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    the processes mapping them (forked Python workers share most of
    theirs with the daemon that forked them)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _is_pyspark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return False


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    summed as PSS so that pages the forked workers share are counted once;
    sampled from /proc every `period_s`."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.pid: Optional[int] = None
        self.peak_kb = 0
        self.peak_tree: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _tree(self, pid: int) -> dict[int, int]:
        """pid -> PSS kB for the JVM `pid` and the PySpark processes below
        it. Other children are short-lived helpers the JVM forks; until
        they exec, they report the JVM's own pages."""
        out, todo = {pid: _pss_kb(pid)}, _children(pid)
        while todo:
            p = todo.pop()
            if p not in out and _is_pyspark(p):
                out[p] = _pss_kb(p)
                todo.extend(_children(p))
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            pid = self.pid
            if pid:
                tree = self._tree(pid)
                if sum(tree.values()) > self.peak_kb:
                    self.peak_kb, self.peak_tree = sum(tree.values()), tree

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


# -- child processes ----------------------------------------------------
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM's Python workers, once the JVM
    has gone) re-parented to this process, so that it can wait for them."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _alive(pid: int) -> bool:
    """True while any thread of `pid` runs. A JVM's main thread turns
    zombie before its other threads have ended."""
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    return True
    except (FileNotFoundError, ProcessLookupError, IndexError):
        pass
    return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        if p not in out:
            out.append(p)
            todo.extend(_children(p))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 30.0) -> list[int]:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM exits when its standard input closes (PySpark's gateway
    contract), and stops its Python workers as it goes; whatever is still
    running after `grace_s` is terminated, then killed. Returns the pids
    that had to be signalled."""
    pyspark_ctx = sys.modules.get("pyspark.core.context") or sys.modules.get("pyspark.context")
    gateway = getattr(getattr(pyspark_ctx, "SparkContext", None), "_gateway", None)
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None and proc.stdin is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
    signalled: list[int] = []
    deadline = time.time() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in _descendants(os.getpid()):
                if _alive(p):
                    with contextlib.suppress(ProcessLookupError, PermissionError):
                        os.kill(p, sig)
                        signalled.append(p)
            deadline = time.time() + 10.0
        while True:
            # ended processes are reaped here, once every process between
            # them and this one has ended and they are re-parented to it
            _reap()
            if not _descendants(os.getpid()):
                return signalled
            if time.time() > deadline:
                break
            time.sleep(0.05)
    return signalled


# -- plan metrics -------------------------------------------------------
_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "min": 60_000.0, "h": 3_600_000.0,
          "ns": 1e-6, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's rendered SQL metric -> number (ms for timings, bytes for
    sizes). Task-level metrics render as 'total (min, med, max ...)\\n
    <total> (<min>, ...)'; the total is the first value of the last line."""
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


# (node-name predicate, metric name) -> exec.* metric
_EXEC_MAP = [
    (lambda n: n.startswith("Scan "), "scan time", "exec.scan.time_ms"),
    (lambda n: n.startswith("Scan "), "number of output rows", "exec.scan.rows"),
    (lambda n: n.startswith("Scan "), "size of files read", "exec.scan.bytes"),
    (lambda n: n.startswith("Scan "), "number of files read", "exec.scan.files"),
    (lambda n: n == "Exchange", "shuffle bytes written", "exec.exchange.bytes"),
    (lambda n: n == "Exchange", "shuffle records written", "exec.exchange.records"),
    (lambda n: n == "Exchange", "shuffle write time", "exec.exchange.write_ms"),
    (lambda n: n == "Sort", "sort time", "exec.sort.time_ms"),
    (lambda n: n == "Sort", "peak memory", "exec.sort.peak_mem_bytes"),
    (lambda n: n == "Sort", "spill size", "exec.sort.spill_bytes"),
    (lambda n: "Join" in n, "number of output rows", "exec.join.output_rows"),
    (lambda n: n == "BroadcastExchange", "time to build", "exec.join.build_ms"),
    (lambda n: "Join" in n, "time to build hash map", "exec.join.build_ms"),
    (lambda n: "Aggregate" in n, "time in aggregation build", "exec.agg.time_ms"),
    (lambda n: "Aggregate" in n, "peak memory", "exec.agg.peak_mem_bytes"),
    (lambda n: "Aggregate" in n, "spill size", "exec.agg.spill_bytes"),
    (lambda n: n.startswith("WholeStageCodegen"), "duration", "exec.codegen.pipeline_ms"),
    (lambda n: "Python" in n or "InArrow" in n or "InPandas" in n,
     "number of output rows", "exec.python.rows"),
    (lambda n: "Python" in n or "InArrow" in n or "InPandas" in n,
     "data sent to Python workers", "exec.python.bytes_sent"),
    (lambda n: "Python" in n or "InArrow" in n or "InPandas" in n,
     "data returned from Python workers", "exec.python.bytes_received"),
    (lambda n: "Python" in n or "InArrow" in n or "InPandas" in n,
     "time to run Python workers", "exec.python.time_ms"),
]
EXEC_METRICS = sorted({e[2] for e in _EXEC_MAP})


def _seq(scala_seq) -> list:
    it, out = scala_seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


class PlanMetrics:
    """Reads the executed (final adaptive) plan's SQL metrics of every
    SQL execution the session has finished since the last `collect`,
    from Spark's SQL status store, which exists with the UI disabled."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._max_id()

    def _max_id(self) -> int:
        ids = [e.executionId() for e in _seq(self.store.executionsList())]
        return max(ids) if ids else -1

    def collect(self, timeout_s: float = 10.0) -> dict[str, float]:
        """Sum exec.* metrics over the executions finished since last call
        (plus per-node rows of Filter and leaf nodes, for pipeline ratios)."""
        deadline = time.time() + timeout_s
        while True:
            execs = [e for e in _seq(self.store.executionsList()) if e.executionId() > self.seen]
            if all(e.completionTime().isDefined() and e.metricValues() is not None
                   for e in execs) or time.time() > deadline:
                break
            time.sleep(0.05)
        out = {k: 0.0 for k in EXEC_METRICS}
        out.update({"_filter_rows": 0.0, "_leaf_rows": 0.0})
        for e in execs:
            eid = e.executionId()
            self.seen = max(self.seen, eid)
            vals = self.store.executionMetrics(eid)
            for node in _seq(self.store.planGraph(eid).allNodes()):
                name = node.name()
                for m in _seq(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    mname = m.name()
                    num = None
                    for pred, metric, key in _EXEC_MAP:
                        if metric == mname and pred(name):
                            num = parse_metric(v.get()) if num is None else num
                            out[key] += num
                    if mname == "number of output rows":
                        if name == "Filter":
                            out["_filter_rows"] += parse_metric(v.get())
                        elif name.startswith("Scan ") or name == "Range":
                            out["_leaf_rows"] += parse_metric(v.get())
        return out


def add_into(acc: dict, new: dict) -> dict:
    """Accumulate per-execution metrics: peaks by maximum, the rest by sum."""
    for k, v in new.items():
        acc[k] = max(acc.get(k, 0.0), v) if "peak" in k else acc.get(k, 0.0) + v
    return acc


# -- statistics ---------------------------------------------------------
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Highest percentile with at least `beyond` samples above it:
    (value, percentile, sample count)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - beyond - 1  # index with exactly `beyond` samples after it
    return s[k], 100.0 * (k + 1) / n, n


def dir_bytes_files(path: str) -> tuple[int, int]:
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("part-", "part_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
