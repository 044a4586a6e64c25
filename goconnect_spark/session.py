"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same config
block is what we would ship to a 1000-executor cluster — AQE on (skew
joins, dynamic coalescing), Arrow for the Pandas-UDF slow path, and a
shuffle-partition default sized for the local harness (on a real
cluster AQE coalesces, and jobs would set it ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the goconnect_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS = {
    # Adaptive execution: runtime re-planning, skew-join splitting and
    # post-shuffle coalescing — the main lever that keeps static plans
    # honest at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow makes every pandas_udf / applyInPandas batch-columnar.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast threshold: dims (region/nation/supplier/probes) stay
    # broadcast even as facts scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Bound scan partition size so a 100 TB input becomes ~800k tasks,
    # not 8 giant ones.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Single-JVM local harness: the driver hosts every executor thread
    # AND the session-lifetime shared-table cache (corpus.cached_table).
    # 8g won an A/B against 16g/24g on the full-catalog bench (bigger
    # heaps lose to GC/page-fault behavior in this VM; the cached
    # tables total well under the storage pool at sf0.1). On a real
    # cluster this is per-executor memory, and the shared tables would
    # be first-class parquet datasets rather than block-manager
    # residents.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "goconnect-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32);
    shuffle partitions follow the core count so local runs don't pay
    for 200 empty reducers.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.setdefault("spark.sql.shuffle.partitions", cpus)
    # Python workers resolve UDFs that reference goconnect_spark
    # modules by import; without this they find the package only when
    # the process runs from the directory that holds it.
    conf["spark.executorEnv.PYTHONPATH"] = _PACKAGE_ROOT
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
