"""cached_table contract (queries/corpus.py): the shared-intermediate
registry must materialize EAGERLY so every consumer plans against the
cache's ACTUAL bytes — the r11 fix after the 100x scale point caught
the planner broadcasting corpus-scale join sides on optimistic
unmaterialized-cache estimates (1.8 GB broadcast build blew
spark.driver.maxResultSize in fingerprint_collision_dedup).

These tests pin the behavior, not the implementation: (1) the build
runs exactly once and is already materialized when cached_table
returns; (2) the returned DataFrame's plan statistics report the
cached reality, not the build plan's estimate — the property the join
planner depends on."""

import pyspark.sql.functions as F


def _stats_bytes(df) -> int:
    return int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )


def test_cached_table_builds_once_and_eagerly(spark, tmp_path):
    from goconnect_spark.queries.corpus import cached_table

    calls = []

    def build():
        calls.append(1)
        return spark.range(64).select(F.col("id").alias("x"))

    key_dir = str(tmp_path / "ct_once")
    df = cached_table(spark, key_dir, "eager_once", build)
    assert calls == [1]
    # registry hit: same object back, no rebuild
    df2 = cached_table(spark, key_dir, "eager_once", build)
    assert calls == [1] and df2 is df
    # already materialized on return: the block manager holds cached
    # partitions for it BEFORE any consumer runs an action
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert any(i.numCachedPartitions() > 0 for i in infos)
    assert df.count() == 64
    df.unpersist()


def test_cached_table_stats_are_actual_not_estimated(spark, tmp_path):
    """The exact failure shape of the r11 bug: a build whose STATIC
    estimate is optimistically tiny (a generate/explode — the planner
    sizes it like its input) but whose actual result is large. The
    cached plan's stats must report the large REALITY; if they echoed
    the tiny estimate, the join planner would broadcast a corpus-scale
    side — the maxResultSize blow-up the 100x point caught."""
    from goconnect_spark.queries.corpus import cached_table

    def build():
        # 2k input rows -> 100k output rows of 100-char strings
        # (~10 MB actual); the static Generate estimate tracks the
        # 2k-row input (a few KB)
        return spark.range(2_000).select(
            F.explode(F.array_repeat(F.lit("x" * 100), 50)).alias("s")
        )

    unmaterialized_estimate = _stats_bytes(build())
    df = cached_table(spark, str(tmp_path / "ct_stats"), "eager_stats", build)
    actual = _stats_bytes(df)
    assert df.count() == 100_000
    assert unmaterialized_estimate < 1_000_000, (
        f"test premise broken: the build plan's static estimate "
        f"{unmaterialized_estimate} is not optimistic-small"
    )
    # the cached stats must reflect the ~10 MB of real strings, not
    # the KB-scale estimate the planner would otherwise broadcast on
    assert actual > 10 * unmaterialized_estimate, (
        f"cached stats look estimated, not actual: {actual} "
        f"vs estimate {unmaterialized_estimate}"
    )
    df.unpersist()


_STOP_THEN_NEW_SESSION = """
import sys
from pyspark.sql import SparkSession
from goconnect_spark.queries import corpus, pq

def session():
    return (SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false").getOrCreate())

first = session()
corpus.cached_table(first, sys.argv[1], "a", lambda: first.range(3))
corpus.cached_table(first, sys.argv[1], "b", lambda: first.range(4))
pq._cb(first)
first_app = first.sparkContext.applicationId
first.stop()

second = session()
df = corpus.cached_table(second, sys.argv[1], "a", lambda: second.range(5))
app = second.sparkContext.applicationId
assert app != first_app
assert [k[0] for k in corpus._CACHE] == [app], corpus._CACHE
assert pq._cb(second).count() == len(pq._cb_rows())
assert list(pq._CB_DF) == [app], pq._CB_DF
assert df.count() == 5
second.stop()
"""


def test_cached_table_drops_stopped_sessions(tmp_path):
    """Entries of a stopped application are evicted on the next
    lookup: after stop + new session the registry (and pq's codebook
    memo) holds only the new application's tables, and a kind cached
    before the stop is rebuilt rather than served from the dead
    context."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [repo] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    r = subprocess.run(
        [sys.executable, "-c", _STOP_THEN_NEW_SESSION, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
