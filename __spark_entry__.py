"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query on sf0.001.
queries()     -> name -> fn(spark, sf_dir) -> DataFrame, one per
                 implemented operator (SURVEY.md §2 + LLM-data ops),
                 oldest certificate first.
oracle_sql()  -> matching DuckDB SQL for the correctness gate.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from goconnect_spark.queries import all_oracles, all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    from goconnect_spark.queries.tpch import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _last_passing_round() -> dict[str, int]:
    """name -> the last round whose CORRECTNESS_r<N>.json ledger holds a
    passing entry for it (rows, schema and hash match, no error)."""
    last: dict[str, int] = {}
    for path in Path(__file__).parent.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, e in json.loads(path.read_text()).items():
            if (e["rows_match"] and e["schema_match"] and e["hash_match"]
                    and e["err"] is None):
                last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # the driver verifies a capped prefix of this order each round, so
    # the queries whose certificate is oldest (never verified = round
    # 0) come first; ledger names no longer in the catalog are ignored
    last = _last_passing_round()
    qs = all_queries()
    return {n: qs[n] for n in sorted(qs, key=lambda n: (last.get(n, 0), n))}


def oracle_sql() -> dict[str, str]:
    return all_oracles()
