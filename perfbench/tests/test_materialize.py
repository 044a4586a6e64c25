"""The timed catalog action materializes every output column.

`count()` lets column pruning drop every expression that does not
change the row count; doc_fingerprint's md5 winnowing is the catalog's
largest such case. The benchmark's timed action (`catalog.materialize`)
must keep all of the query's output columns in its executed plan and
must cost what computing them costs.
"""

from __future__ import annotations

import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import catalog  # noqa: E402
import inputs  # noqa: E402
from harness import _seq  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from goconnect_spark.session import get_spark

    s = get_spark("perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _last_execution(spark):
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.time() + 10
    while True:
        ex = _seq(store.executionsList())[-1]
        if ex.completionTime().isDefined() or time.time() > deadline:
            return ex
        time.sleep(0.05)


def _result_columns(plan_text: str) -> list[str]:
    """Output columns of the final adaptive plan's result stage."""
    m = re.search(r"ResultQueryStage\s*\nOutput \[\d+\]: \[(.*?)\]", plan_text)
    assert m, "no ResultQueryStage in the executed plan"
    return [re.sub(r"#\d+L?$", "", c.strip()) for c in m.group(1).split(",") if c.strip()]


def test_doc_fingerprint_is_timed_at_materialized_scale(spark):
    from goconnect_spark.queries import all_queries

    fn = all_queries()["doc_fingerprint"]
    sf_dir = inputs.tables(0)
    cols = fn(spark, sf_dir).columns

    catalog.materialize(fn(spark, sf_dir))  # compile once, untimed
    t0 = time.perf_counter()
    catalog.materialize(fn(spark, sf_dir))
    noop_s = time.perf_counter() - t0
    assert _result_columns(_last_execution(spark).physicalPlanDescription()) == cols

    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    count_s = time.perf_counter() - t0
    assert _result_columns(_last_execution(spark).physicalPlanDescription()) != cols
    # the winnowing that count() prunes away is most of the query's work
    assert noop_s > 5 * count_s, (noop_s, count_s)
