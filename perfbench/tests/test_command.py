"""The benchmark command isolates failures and fails on wrong results.

Each test runs the real command once with a planted fault (the hidden
--plant option): `fail:<op>` raises inside one operation, `wrong:<op>`
corrupts one output before its check. About a minute per test.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(plant: str) -> tuple[int, dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_events", "--seed", "5",
         "--seconds", "1", "--trace", "0", "--plant", plant],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


def test_failing_operation_is_recorded_and_the_rest_report():
    rc, res, out = _run("fail:pipeline.xml")
    assert rc != 0
    assert not res["correct"]
    assert res["failed"] == 1 and res["attempted"] > 1
    assert "# error pipeline.xml: RuntimeError" in out
    m = res["metrics"]
    for name in ("catalog.wall_s", "pipeline.avro_elements_per_s", "stream.drain_rows_per_s",
                 "stream.latency_p50_ms", "setup_s"):
        assert m[name]["value"] > 0, name


def test_wrong_result_fails_the_command():
    rc, res, out = _run("wrong:catalog.user_rolling_7d")
    assert rc != 0
    assert not res["correct"]
    assert "value hash differs" in out or "rowcount" in out
