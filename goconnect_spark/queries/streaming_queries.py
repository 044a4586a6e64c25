"""Oracle-gated Structured Streaming queries: the five stateful
surfaces (global fold, tumbling windows, session windows, dedup
state, stream-stream join) plus stream-static enrichment, each
drained bounded (AvailableNow) through the REAL state store and
value-verified against a batch DuckDB oracle.

Consolidated from queries/analytics2.py in round 6 (module re-org
only — code moved verbatim, no query renamed).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from goconnect_spark.tables import load


_PRICE = "decimal(12,2)"





def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table with the SAME ts
    normalization tables.load applies to the batch read (nanos-as-long
    -> micros, NTZ -> session-UTC timestamp). The load() call pins the
    session confs so the stream-side schema inference agrees with
    what the micro-batches decode; every streaming catalog query
    shares this one helper so the next ts-flavor fix lands in exactly
    two places (here and tables.load)."""
    from goconnect_spark.sources.core import ParquetSource
    from goconnect_spark.tables import load

    load(spark, "events", sf_dir)
    src = ParquetSource(f"{sf_dir}/events.parquet", seq_col="event_id", streaming=True)
    ev = src.read(spark).select("value.*")
    if dict(ev.dtypes).get("ts") == "bigint":
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))




# --------------------------------------------------------------------
# Streaming fold: drains the lineitem table through a bounded
# Structured Streaming query (AvailableNow) with a global aggregate in
# update mode — the reference's Fold-with-trigger contract end-to-end.
# Oracle-checked (VERDICT r1 item 9): the FINAL update-mode snapshot
# must equal the batch aggregate over the whole table, which IS plain
# SQL — so the streaming execution path (micro-batch planning, state
# store, snapshot emission) is value-verified, not just rows-counted.
# --------------------------------------------------------------------
def streaming_fold_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.sources.core import ParquetSource
    from goconnect_spark.streaming.run import streaming_fold

    from goconnect_spark.streaming.run import scoped_shuffle_partitions

    src = ParquetSource(f"{sf_dir}/lineitem.parquet", seq_col="l_orderkey",
                        event_time_col="l_shipdate", streaming=True)
    name = f"stream_fold_{uuid.uuid4().hex[:8]}"
    with scoped_shuffle_partitions(spark, 8):
        q = streaming_fold(
            src.read(spark).select(F.col("value.l_quantity").alias("qty")),
            [F.count(F.lit(1)).alias("n_rows"), F.sum(F.col("qty").cast(_PRICE)).cast("double").alias("sum_qty")],
            name,
            trigger={"availableNow": True},
        )
        q.awaitTermination()
    return spark.sql(f"select * from {name} order by n_rows desc limit 1")



# --------------------------------------------------------------------
# Streaming windowed aggregation with a FULL value oracle: drain the
# events table through a bounded stream (AvailableNow) into an
# event-time tumbling-window count per type — the keyed WINDOWED state
# path (window slicing + state store per (window, key)), a different
# execution surface than streaming_fold_count's global fold. Complete
# output mode emits every window at drain, and a tumbling 1-hour
# window's start IS date_trunc('hour'), so the final state must equal
# the batch GROUP BY — the batch/stream unification claim, verified by
# hash not rows-only.
# --------------------------------------------------------------------
def streaming_windowed_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.streaming.run import run_bounded, windowed_counts

    ev = _events_stream(spark, sf_dir)
    agg = windowed_counts(ev, "ts", "1 hour", "2 hours", keys=("event_type",))
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    run_bounded(agg, name, output_mode="complete", state_partitions=8)
    return spark.sql(
        f"""select date_format(window.start, 'yyyy-MM-dd HH:mm:ss') as hour,
                   event_type, cast(n as bigint) as n_events
            from {name} order by hour, event_type"""
    )



_STREAM_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""



# --------------------------------------------------------------------
# Streaming SESSION windows with a full value oracle — the third
# stateful streaming path (gap-merged variable windows) after the
# global fold and tumbling windows. Boundary semantics: session_window
# merges an event into the open session only when it lands STRICTLY
# within the gap (the window is [start, last + gap)), so the lag-based
# oracle breaks sessions on gap >= 30 min — note the batch
# user_sessions query (events_series.py) breaks on gap > 30 min, the
# reference semantics of ITS operator; the two agree everywhere except
# exact-boundary gaps, which is why each carries its own oracle.
# --------------------------------------------------------------------
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.streaming.run import run_bounded, session_counts

    ev = _events_stream(spark, sf_dir)
    sess = session_counts(ev, "ts", "30 minutes", "2 hours", keys=("user_id",))
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    run_bounded(sess, name, output_mode="complete", state_partitions=8)
    return spark.sql(
        f"""select user_id, cast(count(*) as bigint) as n_sessions,
                   cast(max(session_events) as bigint) as max_session_events
            from {name} group by user_id order by user_id"""
    )



_STREAM_SESS_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), per_sess AS (
  SELECT user_id, session_id, COUNT(*) AS session_events
  FROM s GROUP BY user_id, session_id
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(session_events) AS BIGINT) AS max_session_events
FROM per_sess GROUP BY user_id ORDER BY user_id
"""



# --------------------------------------------------------------------
# Streaming dedup state path, oracle-gated on the KEY SET: drain the
# events stream through dropDuplicatesWithinWatermark (the bounded-
# state streaming dedup primitive) and return the deduplicated key
# set. Which physical row survives per key is arrival-order dependent
# (shuffle order within a micro-batch), so the query projects ONLY
# the key columns — that set is exactly DISTINCT(user_id, event_type)
# and is value-verified against the batch oracle. Fourth stateful
# streaming surface under oracle: global fold, tumbling windows,
# session windows, dedup state.
# --------------------------------------------------------------------
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.streaming.run import run_bounded, streaming_dedup

    ev = _events_stream(spark, sf_dir)
    # watermark wider than any test corpus span: state covers the whole
    # drain, so the output is the exact global key set
    dd = streaming_dedup(ev, ["user_id", "event_type"], "ts", watermark="8760 hours")
    name = f"stream_dd_{uuid.uuid4().hex[:8]}"
    run_bounded(dd.select("user_id", "event_type"), name, output_mode="append",
                state_partitions=8)
    return spark.sql(
        f"select user_id, event_type from {name} order by user_id, event_type"
    )



_STREAM_DD_SQL = """
SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
"""



# --------------------------------------------------------------------
# Stream-STREAM join under oracle — the fifth and last stateful
# streaming surface: two branches of the events stream (errors vs the
# views/clicks in the 2 hours before them) joined on user with an explicit
# time-range predicate, drained bounded, then the emitted pairs are
# counted per user in batch over the sink. The drain uses a
# corpus-spanning watermark so no buffered state expires mid-drain
# (emitted pairs == the exact batch interval join); production runs
# the same operator with a tight watermark, trading completeness on
# late data for bounded state — see stream_stream_join's docstring.
# --------------------------------------------------------------------
def streaming_error_context_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.streaming.run import run_bounded, stream_stream_join

    ev = _events_stream(spark, sf_dir)
    err = ev.where("event_type = 'error'").select("user_id", "ts")
    ctx = ev.where("event_type IN ('view', 'click')").select("user_id", "ts")
    joined = stream_stream_join(
        err, ctx, on="user_id", left_time="ts", right_time="ts",
        tolerance="2 hours", watermark="8760 hours",
    )
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    # state_partitions=4 (r14): a stream-stream join maintains FOUR
    # state stores per shuffle partition (left/right x keyToNumValues/
    # keyWithIndexToValue), so its per-trigger fixed commit cost is 4x
    # an aggregation drain's at the same partition count. Alternating
    # same-session A/B at sf0.1 (4 rounds): 8 parts 3.12-3.87 s vs
    # 4 parts 2.64-3.11 s — 4 wins every round. Same sizing doctrine
    # as scoped_shuffle_partitions (stores sized to the data the
    # bounded certificate drain actually carries; production sizes
    # this knob to sustained rate x executor count); partitioning
    # never changes the joined row set, oracle-gated as ever.
    run_bounded(joined.select("user_id"), name, output_mode="append",
                state_partitions=4)
    return spark.sql(
        f"""select user_id, cast(count(*) as bigint) as n_pairs
            from {name} group by user_id order by user_id"""
    )



_STREAM_SSJ_SQL = """
SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events e JOIN events v
  ON v.user_id = e.user_id
 AND v.ts >= e.ts - INTERVAL 2 HOUR AND v.ts <= e.ts
WHERE e.event_type = 'error' AND v.event_type IN ('view', 'click')
GROUP BY e.user_id ORDER BY e.user_id
"""



# --------------------------------------------------------------------
# Stream-STATIC dimension enrichment under oracle — the most common
# production streaming join (facts stream, dims broadcast). The dim
# here is derived in batch from the same corpus (each user's first-
# event hour, a signup-cohort stand-in), broadcast onto every
# micro-batch by enrich_with_dim, drained bounded, and the enriched
# rows aggregate to per-(user, cohort-hour) counts that must equal
# the pure-batch join — value-verified, completing the streaming
# join matrix (stream-static here, stream-stream above).
# --------------------------------------------------------------------
def streaming_enrich_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.streaming.run import enrich_with_dim, run_bounded
    from goconnect_spark.tables import load

    dim = load(spark, "events", sf_dir).groupBy("user_id").agg(
        F.date_format(F.date_trunc("hour", F.min("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "signup_hour"
        )
    )
    ev = _events_stream(spark, sf_dir).select("user_id")
    enriched = enrich_with_dim(ev, dim, ["user_id"], how="inner")
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    run_bounded(enriched, name, output_mode="append", state_partitions=8)
    return spark.sql(
        f"""select user_id, signup_hour, cast(count(*) as bigint) as n_events
            from {name} group by user_id, signup_hour
            order by user_id"""
    )



_STREAM_ENRICH_SQL = """
WITH d AS (
  SELECT user_id,
         strftime(date_trunc('hour', MIN(ts)), '%Y-%m-%d %H:%M:%S') AS signup_hour
  FROM events GROUP BY user_id
)
SELECT e.user_id, d.signup_hour, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN d USING (user_id)
GROUP BY e.user_id, d.signup_hour
ORDER BY e.user_id
"""


# the final streaming snapshot == the batch aggregate; decimal sums
# are exact, and the VARCHAR hop avoids DuckDB's off-by-1-ulp
# decimal->double cast
_STREAM_FOLD_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
"""


QUERIES = {
    "streaming_fold_count": streaming_fold_count,
    "streaming_windowed_hourly": streaming_windowed_hourly,
    "streaming_session_counts": streaming_session_counts,
    "streaming_dedup_keys": streaming_dedup_keys,
    "streaming_error_context_join": streaming_error_context_join,
    "streaming_enrich_cohort": streaming_enrich_cohort,
}

ORACLE = {
    "streaming_windowed_hourly": _STREAM_HOURLY_SQL,
    "streaming_session_counts": _STREAM_SESS_SQL,
    "streaming_dedup_keys": _STREAM_DD_SQL,
    "streaming_error_context_join": _STREAM_SSJ_SQL,
    "streaming_enrich_cohort": _STREAM_ENRICH_SQL,
    "streaming_fold_count": _STREAM_FOLD_SQL,
}


def _int64_rows(col):
    """(rows, 64) int64 matrix from an Arrow list column of 64-d
    vectors; any other width raises instead of being reshaped into
    misaligned rows."""
    import numpy as np
    import pyarrow.compute as pc

    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if (lengths != 64).any():
        raise ValueError(f"expected 64-wide vectors, got lengths {sorted(set(lengths.tolist()))}")
    return col.flatten().to_numpy(zero_copy_only=False).astype(np.int64).reshape(-1, 64)


def _pair_cosines(batches):
    """mapInArrow body: per (probe, vector) row, the exact int64 dot of
    the two quantized 64-d vectors over the product of their norms."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        dot = (_int64_rows(b.column("q16")) * _int64_rows(b.column("pq16"))).sum(axis=1)
        nrm = b.column("nrm").to_numpy(zero_copy_only=False)
        pnrm = b.column("pnrm").to_numpy(zero_copy_only=False)
        cos = dot.astype(np.float64) / (nrm * pnrm)
        yield pa.RecordBatch.from_arrays(
            [
                b.column("probe_id"),
                pa.array(cos, type=pa.float64()),
                b.column("vec_id"),
            ],
            ["probe_id", "cosine", "vec_id"],
        )


# --------------------------------------------------------------------
# Stream-STATIC ANN serving — the sixth streaming surface: online
# vector lookup against a pre-built IVF index. The index side is the
# batch-built k-means member table (similarity._kmeans_member: frozen
# quantized centroids, in-row argmax assignment) plus per-vector
# norms; the PROBE side is the embeddings table drained as a stream,
# each probe assigned to its cell with the SAME stateless in-row
# projection, then inner-joined stream-static on the cell key — a
# probe touches ~1/k of the corpus, which is the property that makes
# online ANN serving viable at 100 TB. One streaming aggregation
# (complete mode) takes the per-probe argmax via the associative
# max(struct(cosine, -vec_id)) — cosine desc, vec_id asc, the exact
# tie rule of the oracle's ROW_NUMBER. Value-verified: the drained
# final state must hash-match the batch per-probe top-1 computed by
# DuckDB from scratch.
# --------------------------------------------------------------------
def _ann_lookup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNSTARTED per-probe top-1 streaming DataFrame behind
    streaming_ann_lookup — factored out so tools/dump_stream_plan.py
    dumps the exact micro-batch plan the certificate drains (VERDICT
    r14 item 5: the committed plan artifact must be the real
    in-stream shape, not a re-implementation that can drift)."""
    from goconnect_spark.queries.corpus import cached_table
    from goconnect_spark.queries.similarity import _kmeans_member, _norms_cached
    from goconnect_spark.sources.core import ParquetSource

    # the index side rides the eager session cache so the stream-static
    # join is planned against its REAL bytes (r11 doctrine) and the
    # per-batch static-side recompute disappears (measured 5.2s ->
    # 4.6s at sf0.1; a hard broadcast hint reaches 3.9s but would be
    # wrong at corpus scale, where the index must shuffle-join on the
    # cell key — the cell-sharded serving topology — so the
    # stats-driven choice is kept)
    index = cached_table(
        spark, sf_dir, "stream_ann_index",
        lambda: _kmeans_member(load(spark, "embeddings", sf_dir)).join(
            _norms_cached(spark, sf_dir), "vec_id"
        ),
    )

    src = ParquetSource(
        f"{sf_dir}/embeddings.parquet", seq_col="vec_id", streaming=True
    )
    # repartition (r14): a micro-batch of the single-file probe stream
    # is ONE partition, so the per-pair cosine projection after the
    # cell join ran on one core (measured 5.1 s -> 1.1 s for the
    # identical batch shape at sf0.1/local[32] when spread to session
    # width). Deterministic key (vec_id), width from the cluster's
    # defaultParallelism — the same knob a production deployment sizes
    # by executor count, not a local constant. The shuffled bytes are
    # probe-batch-sized (keys + quantized arrays), negligible next to
    # the single-core wall it removes.
    probe_raw = (
        src.read(spark)
        .select("value.*")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    probes = (
        _kmeans_member(probe_raw)
        .select(F.col("vec_id").alias("probe_id"), F.col("qs").alias("pqs"), "cell")
        .withColumn(
            "pnrm",
            F.expr(
                "sqrt(CAST(aggregate(pqs, CAST(0 AS BIGINT),"
                " (acc, v) -> acc + v * v) AS DOUBLE))"
            ),
        )
    )
    # Per-pair scoring (r15, guide §4.2): the old in-row
    # `aggregate(zip_with(...))` dot product is an interpreted
    # higher-order function — HOFs never enter whole-stage codegen —
    # and at sf1 (8M within-cell pairs) it alone cost ~58 of the
    # query's 59.7 s (decomposition: join + pair materialization =
    # 1.9 s). A 64-term unrolled codegen sum was re-measured at sf1
    # and is WORSE (94 s — the giant expression exceeds JIT method
    # limits and runs as interpreted bytecode; consistent with the r14
    # sf0.1 rejection). The fix is the guide's §4.2 shape: hand whole
    # Arrow batches to numpy — vectors cross the boundary as SMALLINT
    # arrays (quantized values are < 2^15, so int16 halves the Arrow
    # bytes; the casts run per VECTOR, before the join fan-out), the
    # worker reshapes the zero-copy flat buffer and dots in int64
    # (exact — |dot| <= 64 * 3300^2 << 2^53), and the cosine double
    # division uses the identical operands, so results are
    # bit-identical to the HOF form (verified value-equal at sf1 and
    # by the unchanged oracle). Measured 59.7 -> 22.5 s at sf1.
    idx16 = index.withColumn(
        "q16", F.expr("transform(qs, x -> cast(x as smallint))")
    ).select("vec_id", "cell", "nrm", "q16")
    probes16 = probes.withColumn(
        "pq16", F.expr("transform(pqs, x -> cast(x as smallint))")
    ).select("probe_id", "cell", "pnrm", "pq16")

    joined = (
        probes16.join(idx16, "cell")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "nrm", "pnrm", "q16", "pq16")
        .mapInArrow(_pair_cosines, "probe_id long, cosine double, vec_id long")
    )
    return joined.groupBy("probe_id").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("vec_id")).alias("nv"))).alias("b")
    )


def streaming_ann_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from goconnect_spark.streaming.run import run_bounded

    best = _ann_lookup_stream(spark, sf_dir)
    name = f"stream_ann_{uuid.uuid4().hex[:8]}"
    run_bounded(best, name, output_mode="complete", state_partitions=8)
    return spark.sql(
        f"""select probe_id, -b.nv as nn_vec_id, b.cosine as cosine
            from {name} order by probe_id"""
    )


def _stream_ann_sql() -> str:
    from goconnect_spark.queries.similarity import _ASSIGN_CTES, _QUANT_CTE

    return f"""
WITH {_QUANT_CTE},
{_ASSIGN_CTES},
dots AS (
  SELECT p.vec_id AS probe_id, a.vec_id, SUM(cq.q * pq.q) AS dot
  FROM assign p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
  JOIN quant cq ON cq.vec_id = a.vec_id
  JOIN quant pq ON pq.vec_id = p.vec_id AND pq.d = cq.d
  GROUP BY 1, 2
),
cos AS (
  SELECT d.probe_id, d.vec_id,
         CAST(d.dot AS DOUBLE) / (nv.nrm * np.nrm) AS cosine
  FROM dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms np ON np.vec_id = d.probe_id
)
SELECT probe_id, vec_id AS nn_vec_id, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM cos
) WHERE rk = 1
ORDER BY probe_id
"""


QUERIES["streaming_ann_lookup"] = streaming_ann_lookup
ORACLE["streaming_ann_lookup"] = _stream_ann_sql()


# --------------------------------------------------------------------
# Streaming INCREMENTAL VIEW MAINTENANCE — the seventh streaming
# surface: a materialized hourly aggregate maintained across real
# micro-batches by operators/storage.merge_aggregate, instead of a
# built-in stateful operator. The events table is split into 4 files
# and drained with maxFilesPerTrigger=1, so foreachBatch fires 4
# times; each batch reduces to its DELTA partial aggregate (hour x
# type grain) and merges into the running view — delta-sized work per
# batch, the O(delta) upsert that replaces an O(100 TB) nightly
# rebuild. The view lives as a localCheckpoint'ed DataFrame (cluster
# memory, lineage truncated each merge, so the plan stays flat over
# any number of batches); merge order cannot matter because the
# measures are commutative monoids (count, DECIMAL sum), which is
# exactly the IVM correctness condition the oracle verifies: the
# 4-batch incrementally-merged view must hash-match DuckDB
# aggregating the whole table from scratch.
# --------------------------------------------------------------------
def _stage_batch_files(df: DataFrame, id_col: str, work: str, n: int) -> str:
    """Write `df` as `n` single-file micro-batch inputs with ONE Spark
    job (r14, guide §1.2): batch b holds rows with pmod(id, n) = b.

    Replaces the old per-certificate `repartitionByRange(n, id).write`
    staging, which cost a sampling pass + a shuffle + a write; the
    single-task partitionBy write produces the same "n real
    micro-batches" drain (maxFilesPerTrigger=1) for certificates whose
    result is batch-split-invariant by construction (commutative-monoid
    merges, closed-form admission counts, exact-regime sketches — each
    caller's docstring states the invariance). Files get a strictly
    increasing mtime ladder so drain order is deterministic."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    (
        df.withColumn("__b", F.pmod(F.coalesce(F.col(id_col), F.lit(0)), F.lit(n)))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("__b")
        .parquet(f"{work}/stage")
    )
    in_dir = f"{work}/in"
    _os.makedirs(in_dir, exist_ok=True)
    now = _time.time()
    for b in range(n):
        parts = _glob.glob(f"{work}/stage/__b={b}/part-*.parquet")
        if not parts:  # empty residue class at tiny SFs: no file, no batch
            continue
        dst = f"{in_dir}/b{b}.parquet"
        _shutil.copyfile(parts[0], dst)
        _os.utime(dst, (now + 10 * b, now + 10 * b))
    return in_dir


def streaming_ivm_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from goconnect_spark.operators.storage import merge_aggregate

    ev = load(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    )
    work = tempfile.mkdtemp(prefix=f"ivm_stream_{uuid.uuid4().hex[:8]}_")
    try:
        # one-job staging (r14): merge order/composition cannot matter
        # (commutative monoids — docstring above), so the 4-file split
        # by pmod(event_id, 4) replaces the range-split's extra
        # sampling pass and shuffle at identical final state.
        in_dir = _stage_batch_files(ev, "event_id", work, 4)
        state = {"view": None}

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            delta = bdf.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "hour"
                ),
                "event_type",
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("v").alias("sum_value"),
            )
            if state["view"] is None:
                state["view"] = delta.localCheckpoint()
            else:
                state["view"] = merge_aggregate(
                    state["view"], delta, ["hour", "event_type"],
                    ["n_events", "sum_value"],
                ).localCheckpoint()

        from goconnect_spark.streaming.run import scoped_shuffle_partitions

        with scoped_shuffle_partitions(spark, 8):
            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
                .writeStream.foreachBatch(merge_batch)
                .option(
                    "checkpointLocation", f"{work}/chk"
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return state["view"].select(
        "hour",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("hour", "event_type")


_STREAM_IVM_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


QUERIES["streaming_ivm_hourly_counts"] = streaming_ivm_hourly_counts
ORACLE["streaming_ivm_hourly_counts"] = _STREAM_IVM_SQL


# --------------------------------------------------------------------
# Batch -> stream HANDOFF (the snapshot-bootstrap shape): a streaming
# aggregate is rarely started from an empty state at 100 TB — it is
# initialized from a batch snapshot of history and the stream takes
# over from the cutover point. Here the cutover is the 70th
# percentile of event_id; everything below is one batch partial
# aggregate (the snapshot), everything above drains as a real
# micro-batch stream whose per-batch deltas merge INTO the snapshot
# via merge_aggregate (same monoid discipline as
# streaming_ivm_hourly_counts, but with a non-empty initial state).
# The handed-off view must hash-match DuckDB aggregating the WHOLE
# table — proof that no row is lost or double-counted across the
# batch/stream boundary, which is exactly the bug class cutovers
# produce (off-by-one at the boundary, replayed tail, missed head).
# --------------------------------------------------------------------
def streaming_handoff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from goconnect_spark.operators.storage import merge_aggregate

    ev = load(spark, "events", sf_dir).select(
        "event_id", "ts", "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    )
    cut = ev.agg(
        F.expr("cast(max(event_id) * 70 DIV 100 as bigint)").alias("cut")
    ).collect()[0]["cut"]

    def hourly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("sum_value"),
        )

    snapshot = hourly(ev.where(F.col("event_id") < cut)).localCheckpoint()

    work = tempfile.mkdtemp(prefix=f"handoff_{uuid.uuid4().hex[:8]}_")
    try:
        # one-job staging (r14): the per-batch deltas merge through the
        # same commutative-monoid merge_aggregate as the IVM query, so
        # the tail's batch split is result-invariant; pmod split
        # replaces the range-split sampling pass + shuffle.
        in_dir = _stage_batch_files(
            ev.where(F.col("event_id") >= cut), "event_id", work, 3
        )
        state = {"view": snapshot}

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            state["view"] = merge_aggregate(
                state["view"], hourly(bdf), ["hour", "event_type"],
                ["n_events", "sum_value"],
            ).localCheckpoint()

        from goconnect_spark.streaming.run import scoped_shuffle_partitions

        with scoped_shuffle_partitions(spark, 8):
            q = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(in_dir)
                .writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", f"{work}/chk")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return state["view"].select(
        "hour",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("hour", "event_type")


_HANDOFF_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


QUERIES["streaming_handoff_counts"] = streaming_handoff_counts
ORACLE["streaming_handoff_counts"] = _HANDOFF_SQL


# --------------------------------------------------------------------
# Heavy hitters (sharded SpaceSaving) certificate — round 14, VERDICT
# r13 item 2: streaming/stateful.heavy_hitters was the last
# pytest-only bounded-state operator. Planted skewed stream with KNOWN
# exact counts: value = floor(sqrt(event_id mod 1600)) gives 40
# distinct values with linearly skewed frequencies (value v appears
# for 2v+1 residues per 1600-block). 40 distinct values across 8
# shards is at most 40 per shard < capacity 64, so SpaceSaving is in
# its EXACT regime BY CONSTRUCTION on any input data — every retained
# counter equals the true count with err 0, which makes the stochastic
# sketch deterministically hash-gateable. The stream drains as 4 real
# micro-batches (maxFilesPerTrigger=1 over a 4-file planted dir), so
# the certificate covers state carry across triggers, the xxhash64
# shard routing (a value's counter must live in exactly one sketch —
# a double-counted value overshoots the oracle), the weighted
# value_counts update, and the update-mode snapshot emission; est is
# monotone per value in the exact regime, so max(est) over the drain
# IS the final snapshot. Eviction-path est/err guarantees stay
# property-tested in tests/test_streaming.py (eviction order is batch-
# split dependent, i.e. not oracle-hashable by design).
# --------------------------------------------------------------------
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from goconnect_spark.streaming.stateful import heavy_hitters

    ev = load(spark, "events", sf_dir).select(
        "event_id",
        F.floor(
            F.sqrt(((F.coalesce(F.col("event_id"), F.lit(0)) % 1600) + 1600)
                   % 1600)
        ).cast("string").alias("hh_value"),
    )
    work = tempfile.mkdtemp(prefix=f"hh_stream_{uuid.uuid4().hex[:8]}_")
    name = f"stream_hh_{uuid.uuid4().hex[:8]}"
    try:
        # one-job staging (r14): the sketch is in its EXACT regime by
        # construction (docstring above), so est/err are independent of
        # how rows split across the 4 batches; the pmod split keeps the
        # 4-trigger state-carry coverage at one job instead of three.
        in_dir = _stage_batch_files(ev, "event_id", work, 4)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        from goconnect_spark.streaming.run import scoped_shuffle_partitions

        hh = heavy_hitters(stream, "hh_value", k=64, capacity=64, shards=8)
        with scoped_shuffle_partitions(spark, 8):
            q = (
                hh.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", f"{work}/chk")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.sql(
        f"""select value, max(est) as est, max(err) as err_max
            from {name} group by value order by est desc, value"""
    )


_STREAM_HH_SQL = """
WITH v AS (
  SELECT CAST(CAST(FLOOR(SQRT(((COALESCE(event_id, 0) % 1600) + 1600)
              % 1600)) AS BIGINT) AS VARCHAR) AS value
  FROM events
)
SELECT value, CAST(COUNT(*) AS BIGINT) AS est,
       CAST(0 AS BIGINT) AS err_max
FROM v GROUP BY value ORDER BY est DESC, value
"""

QUERIES["streaming_heavy_hitters"] = streaming_heavy_hitters
ORACLE["streaming_heavy_hitters"] = _STREAM_HH_SQL


# --------------------------------------------------------------------
# Budget-admission certificate — round 14, VERDICT r13 item 2: the
# streaming/stateful.budget_admit operator (greedy per-key weight
# budget, one bigint of state per key) had no catalog entry. Admission
# is by ARRIVAL order, which a stream cannot replay deterministically,
# so the certificate gates the arrival-order-INVARIANT observables: a
# key's weight is uniform (len(key)+1), making the admitted COUNT and
# consumed WEIGHT per key exact closed forms — admit the m-th row iff
# (m-1)*w < B, so n_admitted = least(n, (B-1)//w + 1) and weight_used
# = n_admitted*w regardless of order or batch split. The planted
# stream drains as 4 real micro-batches over the planted dir, so a
# state-carry bug is caught arithmetically: without cross-batch state
# each batch would admit a fresh budget and n_admitted would
# overshoot the closed form. sum(weight) over emitted rows and
# max(used_after) must BOTH equal the closed form — the emitted rows
# and the state counter cross-check each other. WHICH ids are
# admitted stays covered by tests/test_streaming.py (order-dependent
# by the operator's documented contract; the batch twin
# token_budget_sample is the replayable variant).
# --------------------------------------------------------------------
def streaming_budget_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from goconnect_spark.streaming.stateful import budget_admit

    budget = 500
    ev = (
        load(spark, "events", sf_dir)
        .select(
            "event_id",
            F.coalesce(F.col("event_type"), F.lit("?")).alias("key"),
        )
        .withColumn("weight", (F.length("key") + F.lit(1)).cast("long"))
    )
    work = tempfile.mkdtemp(prefix=f"budget_stream_{uuid.uuid4().hex[:8]}_")
    name = f"stream_budget_{uuid.uuid4().hex[:8]}"
    try:
        # one-job staging (r14): n_admitted/weight_used are closed
        # forms regardless of order or batch split (docstring above),
        # so the pmod split preserves the certificate at one job.
        in_dir = _stage_batch_files(ev, "event_id", work, 4)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        from goconnect_spark.streaming.run import scoped_shuffle_partitions

        adm = budget_admit(stream, "key", "weight", budget, "event_id")
        with scoped_shuffle_partitions(spark, 8):
            q = (
                adm.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{work}/chk")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.sql(
        f"""select key, count(*) as n_admitted,
                   max(used_after) as weight_used,
                   sum(weight) as sum_w
            from {name} group by key order by key"""
    )


_STREAM_BUDGET_SQL = """
WITH e AS (
  SELECT COALESCE(event_type, '?') AS key FROM events
), s AS (
  SELECT key, LENGTH(key) + 1 AS w, COUNT(*) AS n FROM e GROUP BY key
), a AS (
  SELECT key, LEAST(n, (500 - 1) // w + 1) AS n_adm, w FROM s
)
SELECT key, CAST(n_adm AS BIGINT) AS n_admitted,
       CAST(n_adm * w AS BIGINT) AS weight_used,
       CAST(n_adm * w AS BIGINT) AS sum_w
FROM a ORDER BY key
"""

QUERIES["streaming_budget_admit"] = streaming_budget_admit
ORACLE["streaming_budget_admit"] = _STREAM_BUDGET_SQL
