"""bench.py contract: query names select what runs, and one failing
query is recorded without stopping the run."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# bench.main with a monkeypatched catalog (two real queries plus one
# that raises) and fixed probes: calibration is not under test and
# costs about a minute of fixed work
_PLANTED_FAILURE = """
import sys
sys.path.insert(0, sys.argv[1])
import bench
import goconnect_spark.queries as catalog

real = catalog.all_queries()
calls = []

def boom(spark, sf_dir):
    calls.append(1)
    raise RuntimeError("planted failure")

catalog.all_queries = lambda: {
    "q1_pricing_summary": real["q1_pricing_summary"],
    "boom": boom,
    "q3_shipping_priority": real["q3_shipping_priority"],
}
bench.calibrate = lambda spark: {
    "calibration_wall": 1.0, "calibration_spread": 1.0,
    "shuffle_calibration_wall": 1.0, "shuffle_calibration_spread": 1.0,
    "sort_calibration_wall": 1.0, "sort_calibration_spread": 1.0,
}
bench.main([])
assert calls == [1], calls
"""


def _env():
    return dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")


def test_failing_query_is_recorded_and_skipped(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", _PLANTED_FAILURE, REPO],
        cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["failed"] == ["boom"]
    assert out["n_queries_all"] == 2
    assert set(out["queries"]) == {"q1_pricing_summary", "q3_shipping_priority"}
    assert out["all_queries_total_wall"] == round(sum(out["queries"].values()), 3)
    times = [l for l in r.stderr.splitlines() if l.startswith("# all_query_times ")]
    assert set(json.loads(times[-1][len("# all_query_times "):])) == set(out["queries"])
    assert "# pass0 boom: FAILED RuntimeError" in r.stderr
    assert "# pass1 boom" not in r.stderr and "# pass2 boom" not in r.stderr


def test_unknown_query_names_fail_before_any_work(tmp_path):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "q1_pricing_summary",
         "no_such_query"],
        cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 1
    assert "no_such_query" in r.stderr and "q1_pricing_summary" not in r.stderr
    assert r.stdout == ""
