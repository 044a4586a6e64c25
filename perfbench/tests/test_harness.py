"""Unit tests of the benchmark's measurement helpers (no Spark needed)."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import Ops, parse_metric, tail  # noqa: E402


def test_parse_metric_units():
    assert parse_metric("10,000") == 10_000
    assert parse_metric("78 ms") == 78
    assert parse_metric("total (min, med, max (stageId: taskId))\n7.5 s (3.5 s, 4.0 s, 4.0 s (stage 1.0: task 1))") == 7500
    assert parse_metric("64.2 MiB") == 64.2 * 1024 ** 2
    assert parse_metric("0.0 B") == 0


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(100))
    value, pct, n = tail(xs)
    assert (value, n) == (89, 100)
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0


def test_tail_with_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_ops_isolates_a_failure():
    ops = Ops(plant_fail="b")
    assert ops.run("a", lambda: 1) == (True, 1)
    assert ops.run("b", lambda: 2) == (False, None)
    assert ops.run("c", lambda: 1 / 0) == (False, None)
    assert ops.run("d", lambda: 4) == (True, 4)
    assert (ops.attempted, ops.failed) == (4, 2)
    assert [e["exception"] for e in ops.errors] == ["RuntimeError", "ZeroDivisionError"]


def test_stop_processes_waits_for_orphaned_descendants():
    # a shell that leaves a sleeping grandchild behind when it exits, as a
    # JVM leaves its helpers; the grandchild is re-parented to the caller
    code = (
        "import os, subprocess, sys; sys.path.insert(0, sys.argv[1]); import harness\n"
        "harness.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=open('pid', 'w'))\n"
        "print(harness.stop_processes(grace_s=0.5), harness._descendants(os.getpid()))\n"
    )
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(here, ".work", "test_stop")
    os.makedirs(work, exist_ok=True)
    out = subprocess.run([sys.executable, "-c", code, here], cwd=work,
                         capture_output=True, text=True, timeout=60, check=True).stdout
    with open(os.path.join(work, "pid")) as f:
        sleeper = int(f.read())
    assert out.strip() == f"[{sleeper}] []"
    assert not os.path.exists(f"/proc/{sleeper}")
