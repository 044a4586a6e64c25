"""Loaders for the driver's synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    # pin the session to UTC: the events timestamps become LTZ after
    # the nanos conversion, and a non-UTC caller session would shift
    # their rendered/hour-truncated values away from the (naive)
    # DuckDB oracle. NTZ tables are unaffected.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts arrives in whichever parquet flavor the generator
        # used: TIMESTAMP(NANOS) (Spark's vectorized reader rejects it;
        # read nanos as long and truncate to micros, exactly what
        # DuckDB's reader does) or plain micros with isAdjustedToUTC
        # false (Spark reads TIMESTAMP_NTZ). Normalize both to the
        # session-TZ timestamp the query catalog expects — the session
        # is pinned UTC above, so the wall-clock values are identical
        # to the naive values DuckDB sees.
        import pyspark.sql.functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def spread(df: DataFrame, key: str | None = None, factor: float = 1.0) -> DataFrame:
    """Raise map-side parallelism of an under-split input (r14
    optimization, guide §2.5 "input skew ... otherwise repartition
    immediately after the read").

    A small single-file scan (the 2000-row embeddings table is one
    parquet split) runs every downstream narrow stage — broadcast
    joins included — on ONE task, so a CPU-heavy projection (the ANN
    dot products) is wall-clocked by a single core regardless of
    cluster size: measured 5.1 s -> 1.1 s on the streaming-ANN join
    shape at sf0.1/local[32]. When the plan's current partitioning is
    below the session's default parallelism, hash-repartition on
    `key` (a deterministic column, never rand() — retried map tasks
    must reproduce the same row placement, SPARK-38388) to
    defaultParallelism * factor.

    Scale-adaptive by construction: at 100 TB a scan already carries
    far more splits than defaultParallelism, so the condition is
    false and this is a no-op — no shuffle is added on the path where
    shuffles are expensive. The shuffle it does add locally moves the
    tiny under-split table once (~MBs) to buy full-width map
    parallelism for everything downstream.

    Fractional `factor` trades map width against per-task fixed
    costs: Arrow/pandas-UDF stages pay a Python round trip per task,
    and a width sweep on the media certificate family measured the
    optimum at a QUARTER of session width (None: 5.37 s, 4: 4.98,
    8: 4.48, 16: 5.11, 32: 5.19 total at sf0.1/local[32]) — full
    width is right only for pure-JVM compute-dense projections."""
    target = max(
        2, int(df.sparkSession.sparkContext.defaultParallelism * factor)
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key) if key else df.repartition(target)

