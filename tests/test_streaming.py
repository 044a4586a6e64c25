"""Streaming semantics tests — the reference's behavioral manifest
(README.md:90-104) translated to Structured Streaming. All bounded via
Trigger.AvailableNow so the suite is deterministic and fast."""

import pyspark.sql.functions as F
import pytest

from goconnect_spark.sources.core import ParquetSource
from goconnect_spark.streaming.run import (
    run_bounded,
    scoped_shuffle_partitions,
    session_counts,
    stream_stream_join,
    streaming_dedup,
    streaming_fold,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    # events.parquet has nanos timestamps Spark can't stream-read; the
    # lineitem table works as the bounded stream fixture
    src = ParquetSource(f"{sf_dir}/lineitem.parquet", seq_col="l_orderkey",
                        event_time_col="l_shipdate", streaming=True)
    return src


def test_bounded_stream_drains_and_terminates(spark, events_stream, sf_dir):
    # reference contract: bounded root -> pipeline terminates
    # (README.md:100); row parity with the batch read
    df = events_stream.read(spark)
    assert df.isStreaming
    run_bounded(df.select("seq", "event_time"), "t_drain")
    n_stream = spark.sql("select count(*) n from t_drain").collect()[0].n
    n_batch = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert n_stream == n_batch


def test_streaming_global_fold_final_snapshot(spark, events_stream):
    # reference Fold: accumulator snapshot per trigger, update mode;
    # final snapshot equals the batch aggregate
    df = events_stream.read(spark)
    q = streaming_fold(
        df.select(F.col("value.l_quantity").alias("qty")),
        [F.sum("qty").alias("total"), F.count(F.lit(1)).alias("n")],
        "t_fold",
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    row = spark.sql("select * from t_fold order by n desc limit 1").collect()[0]
    batch = spark.read.parquet(events_stream.path).agg(
        F.sum("l_quantity").alias("total"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert row.n == batch.n and abs(row.total - batch.total) < 1e-6


def test_windowed_counts_with_watermark(spark, events_stream):
    df = events_stream.read(spark)
    agg = windowed_counts(df, window="30 days", watermark="60 days")
    run_bounded(agg.select(F.col("window.start").alias("ws"), "n"), "t_win", output_mode="append")
    total = spark.sql("select sum(n) s from t_win").collect()[0].s
    # append mode emits only windows closed by the final watermark;
    # with a bounded drain all but the trailing window(s) close
    n_batch = spark.read.parquet(events_stream.path).count()
    assert total is not None and 0 < total <= n_batch


def test_streaming_dedup_within_watermark(spark, events_stream):
    df = events_stream.read(spark)
    deduped = streaming_dedup(
        df.select("event_time", F.col("value.l_orderkey").alias("k")), ["k"], watermark="365 days"
    )
    run_bounded(deduped, "t_dedup")
    n = spark.sql("select count(distinct k) c, count(*) n from t_dedup").collect()[0]
    assert n.c == n.n  # exact dedup per key


def test_session_counts_schema(spark, events_stream):
    df = events_stream.read(spark)
    agg = session_counts(
        df.select("event_time", F.col("value.l_suppkey").alias("user_id")),
        gap="1 hour", watermark="30 days",
    )
    # session_window yields struct<start,end>; verify plan compiles and
    # drains in bounded mode
    run_bounded(
        agg.select(F.col("session_window.start").alias("s"), "user_id", "session_events"),
        "t_sess",
        output_mode="append",
    )
    assert spark.sql("select count(*) n from t_sess").collect()[0].n >= 0


def test_keyed_fold_custom_accumulator(spark, events_stream):
    # UserFoldFn parity: arbitrary Python accumulator, per-key state,
    # snapshot per trigger — final snapshot equals the batch fold
    import pyspark.sql.functions as F

    from goconnect_spark.streaming.stateful import keyed_fold

    df = events_stream.read(spark).select(
        F.col("value.l_returnflag").alias("flag"),
        F.col("value.l_quantity").alias("qty"),
    )
    folded = keyed_fold(df, "flag", "qty", init=0.0, update=lambda acc, v: acc + v)
    q = (
        folded.writeStream.format("memory")
        .queryName("t_keyed_fold")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # latest snapshot per key
    rows = spark.sql(
        """
        select key, acc, n from (
          select *, row_number() over (partition by key order by n desc) rk
          from t_keyed_fold
        ) where rk = 1
        """
    ).collect()
    got = {r.key: (round(r.acc, 6), r.n) for r in rows}
    batch = (
        spark.read.parquet(events_stream.path)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {r.l_returnflag: (round(r.s, 6), r.n) for r in batch}
    assert got == want


def test_stream_static_join(spark, events_stream, sf_dir):
    # stream-static broadcast join: streaming lineitem enriched with
    # the static nation dim via supplier
    import pyspark.sql.functions as F

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dim = supp.join(nation, supp.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    df = events_stream.read(spark).select(F.col("value.l_suppkey").alias("sk"))
    joined = df.join(F.broadcast(dim), df.sk == dim.s_suppkey)
    run_bounded(joined.select("sk", "n_name"), "t_ss_join")
    n_stream = spark.sql("select count(*) n from t_ss_join").collect()[0].n
    n_batch = (
        spark.read.parquet(events_stream.path)
        .join(dim, F.col("l_suppkey") == dim.s_suppkey)
        .count()
    )
    assert n_stream == n_batch


def test_stream_stream_join_with_watermarks(spark, events_stream):
    # stream-stream inner join (same source, two filtered branches)
    # within a time-range condition — the fully streaming join path
    import pyspark.sql.functions as F

    base = events_stream.read(spark).select(
        "event_time", F.col("value.l_orderkey").alias("k"), F.col("value.l_linenumber").alias("ln")
    )
    left = base.where(F.col("ln") == 1).withWatermark("event_time", "365 days").alias("l")
    right = base.where(F.col("ln") == 2).withWatermark("event_time", "365 days").alias("r")
    joined = left.join(
        right,
        F.expr(
            "l.k = r.k AND r.event_time BETWEEN l.event_time - INTERVAL 365 DAYS "
            "AND l.event_time + INTERVAL 365 DAYS"
        ),
    ).select(F.col("l.k").alias("k"))
    run_bounded(joined, "t_ss2_join")
    n_stream = spark.sql("select count(*) n from t_ss2_join").collect()[0].n
    b = spark.read.parquet(events_stream.path)
    import datetime

    l = b.where("l_linenumber = 1").select("l_orderkey", F.col("l_shipdate").alias("t1"))
    r = b.where("l_linenumber = 2").select(F.col("l_orderkey").alias("k2"), F.col("l_shipdate").alias("t2"))
    n_batch = (
        l.join(r, l.l_orderkey == r.k2)
        .where(
            F.abs(
                F.col("t2").cast("timestamp").cast("long")
                - F.col("t1").cast("timestamp").cast("long")
            )
            <= 365 * 86400
        )
        .count()
    )
    assert n_stream == n_batch and n_stream > 0


def test_trigger_each_fold_exact_cadence(spark, events_stream):
    # reference TriggerEach(n): snapshot after EVERY n-th fold input,
    # regardless of micro-batch boundaries — validated against a
    # sequential python oracle over the same ordered element stream
    import pyspark.sql.functions as F

    from goconnect_spark.streaming.run import TriggerEachFold

    df = events_stream.read(spark).select(
        "seq", F.col("value.l_quantity").alias("value")
    ).where(F.col("seq") < 400)  # bounded slice, seq = l_orderkey
    fold = TriggerEachFold(init=0.0, update=lambda acc, v: acc + v, n=150)
    q = fold.start(df, trigger={"availableNow": True})
    q.awaitTermination()

    batch = (
        spark.read.parquet(events_stream.path)
        .where("l_orderkey < 400")
        .orderBy("l_orderkey")
        .select("l_quantity")
        .collect()
    )
    acc, expected = 0.0, []
    for i, r in enumerate(batch, 1):
        acc += r.l_quantity
        if i % 150 == 0:
            expected.append((i // 150, acc))
    assert [(t, round(a, 6)) for t, a in fold.snapshots] == [
        (t, round(a, 6)) for t, a in expected
    ]
    assert len(fold.snapshots) >= 2


def test_sink_explicit_output_mode(spark, sf_dir):
    """ADVICE r1: sinks accept an explicit output_mode instead of
    relying solely on the private-_jdf plan sniff (absent under Spark
    Connect)."""
    import pyspark.sql.functions as F
    from goconnect_spark.pipeline import Pipeline
    from goconnect_spark.sources import MemorySink
    from goconnect_spark.sources.core import ParquetSource

    src = ParquetSource(f"{sf_dir}/orders.parquet", seq_col="o_orderkey",
                        event_time_col="o_orderdate", streaming=True)
    sink = MemorySink("t_explicit_mode", output_mode="complete")
    p = (
        Pipeline(spark)
        .root(src)
        .map(lambda v: v.getField("o_orderstatus"))
        .key_fold(["value"], F.count(F.lit(1)).alias("n"))
        .trigger_available_now()
    )
    p.run(sink)
    # complete mode re-emits the whole result table per trigger: the
    # final state equals the batch groupBy with no dedup needed
    got = {r.value: r.n for r in spark.sql("select * from t_explicit_mode").collect()}
    want = {
        r.o_orderstatus: r.n
        for r in spark.read.parquet(src.path)
        .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_trigger_each_fold_refuses_bulk_batches(spark):
    """VERDICT r1 item 8: the control-stream-only constraint is
    enforced — an oversized micro-batch aborts the query."""
    from pyspark.sql.streaming import StreamingQueryException

    from goconnect_spark.streaming.run import TriggerEachFold

    fold = TriggerEachFold(init=0, update=lambda a, v: a + v, n=10, max_batch_rows=50)
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "200")  # 4x over the limit
        .option("numPartitions", "2")
        .load()
        .select(F.col("value").alias("seq"), F.col("value").alias("value"))
    )
    q = fold.start(stream)
    with pytest.raises(StreamingQueryException, match="max_batch_rows"):
        q.awaitTermination(30)
        raise AssertionError("query should have failed")  # pragma: no cover
    assert fold.snapshots == []  # nothing folded from the refused batch


def test_streaming_limit_takes_first_n_and_stops(spark, sf_dir):
    """Unbounded Limit parity (reference def.go:88-91): first n
    elements in seq order, then the query is cancelled."""
    from goconnect_spark.sources.core import ParquetSource
    from goconnect_spark.streaming.run import StreamingLimit

    src = ParquetSource(f"{sf_dir}/orders.parquet", seq_col="o_orderkey",
                        event_time_col="o_orderdate", streaming=True)
    lim = StreamingLimit(n=25)
    q = lim.start(src.read(spark), trigger={"availableNow": True})
    lim.await_filled(q)
    assert len(lim.rows) == 25
    seqs = [r.seq for r in lim.rows]
    # the 25 smallest o_orderkey values overall (single input batch:
    # AvailableNow delivers the file in one micro-batch here)
    expected = [
        r.o_orderkey
        for r in spark.read.parquet(src.path).orderBy("o_orderkey").limit(25).collect()
    ]
    assert seqs == expected


def test_streaming_limit_multi_batch_is_first_n_by_arrival(spark, tmp_path):
    """Across micro-batches StreamingLimit is first-n-by-ARRIVAL
    (seq-ordered within each batch), per its documented contract: an
    earlier batch's rows are never evicted by later, smaller seqs."""
    import pyarrow as pa

    from goconnect_spark.streaming.run import StreamingLimit

    d = str(tmp_path / "in")
    # file A (older mtime -> first batch) carries the LARGER seqs
    _write_batches(d, [pa.table({"seq": pa.array(range(100, 110), pa.int64())}),
                       pa.table({"seq": pa.array(range(0, 10), pa.int64())})])

    stream = (
        spark.readStream.schema("seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .select(F.col("seq"), F.current_timestamp().alias("event_time"))
    )
    lim = StreamingLimit(n=15)
    q = lim.start(stream, trigger={"availableNow": True})
    lim.await_filled(q)
    seqs = [r.seq for r in lim.rows]
    # batch 1 = all of file A in seq order; batch 2 = the 5 smallest of
    # file B — NOT the 15 globally-smallest seqs
    assert seqs == list(range(100, 110)) + list(range(0, 5))


def test_budget_admit_enforces_budget_across_batches(spark, tmp_path):
    # streaming twin of token_budget_sample: per-key lifetime budget,
    # state survives micro-batch boundaries. Two files + 
    # maxFilesPerTrigger=1 force >=2 batches; equal weights make the
    # admitted count order-independent: budget 35 / weight 10 admits
    # exactly 4 rows per key (greedy used<budget rule, one-row
    # overshoot) no matter how arrivals interleave.
    from goconnect_spark.streaming.stateful import budget_admit

    d = str(tmp_path / "docs")
    rows1 = [(k * 100 + i, f"s{k}", 10) for k in range(3) for i in range(2)]
    rows2 = [(k * 100 + 10 + i, f"s{k}", 10) for k in range(3) for i in range(5)]
    cols = ["doc_id", "source", "n_tokens"]
    spark.createDataFrame(rows1, cols).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(rows2, cols).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema("doc_id bigint, source string, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    admitted = budget_admit(stream, "source", "n_tokens", budget=35, id_col="doc_id")
    q = (
        admitted.writeStream.format("memory")
        .queryName("t_budget_admit")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from t_budget_admit").collect()
    per_key = {}
    for r in got:
        per_key.setdefault(r.key, []).append(r)
    assert set(per_key) == {"s0", "s1", "s2"}
    for k, rs in per_key.items():
        assert len(rs) == 4, (k, rs)           # 4 * 10 = 40 >= 35, 5th denied
        assert max(r.used_after for r in rs) == 40
    # the run really crossed a batch boundary (state carried over)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2


def test_heavy_hitters_bounded_state_guarantee(spark, tmp_path):
    # SpaceSaving per shard: capacity 4 counters per shard with 20+
    # distinct values forces evictions; the heavy value (40 of ~70
    # rows) must survive with true <= est <= true + err, and state
    # stays bounded. Two files force a batch boundary so the sketch
    # itself is what carries across triggers.
    from goconnect_spark.streaming.stateful import heavy_hitters

    d = str(tmp_path / "words")
    heavy = ["hot"] * 20 + [f"rare{i}" for i in range(10)]
    heavy2 = ["hot"] * 20 + [f"tail{i}" for i in range(10)]
    spark.createDataFrame([(w,) for w in heavy], ["w"]).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame([(w,) for w in heavy2], ["w"]).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    stream = (
        spark.readStream.schema("w string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    hh = heavy_hitters(stream, "w", k=5, capacity=4, shards=2)
    q = (
        hh.writeStream.format("memory")
        .queryName("t_heavy_hitters")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode: keep the LAST snapshot per (shard, value)
    rows = spark.sql(
        "select * from (select *, row_number() over "
        "(partition by shard, value order by est desc) rn from t_heavy_hitters) "
        "where rn = 1"
    ).collect()
    by_val = {r.value: r for r in rows}
    assert "hot" in by_val, sorted(by_val)
    r = by_val["hot"]
    assert 40 <= r.est <= 40 + r.err
    # bounded emission: each trigger emits at most k rows per shard
    # (the sink union may keep rows for since-evicted values — that is
    # sink history, not state; the sketch itself holds <= capacity)
    n_trig = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_trig >= 2
    all_rows = spark.sql("select * from t_heavy_hitters").collect()
    assert len(all_rows) <= n_trig * 2 * 5  # triggers * shards * k


def test_enrich_with_dim_stream_static(spark, tmp_path):
    from goconnect_spark.streaming.run import enrich_with_dim

    d = str(tmp_path / "evts")
    spark.createDataFrame(
        [(1, "u1"), (2, "u2"), (3, "u9")], ["event_id", "user"]
    ).coalesce(1).write.parquet(d)
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], ["user", "tier"]
    )
    stream = spark.readStream.schema("event_id bigint, user string").parquet(d)
    q = (
        enrich_with_dim(stream, dim, on=["user"])
        .writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.event_id: r.tier for r in spark.sql("select * from t_enrich").collect()}
    assert got == {1: "gold", 2: "silver", 3: None}


def test_stream_stream_join_within_tolerance(spark, tmp_path):
    # impressions joined to clicks within 10 minutes; the late click
    # (25 min) must NOT match. Both sides are file streams.
    import datetime as dt

    from goconnect_spark.streaming.run import stream_stream_join

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    imp_d, clk_d = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(
        [("a", base, 1), ("b", base, 2)], ["ad", "event_time", "imp_id"]
    ).coalesce(1).write.parquet(imp_d)
    spark.createDataFrame(
        [
            ("a", base + dt.timedelta(minutes=-5), 10),   # within tolerance
            ("b", base + dt.timedelta(minutes=-25), 20),  # too early
        ],
        ["ad", "event_time", "click_id"],
    ).coalesce(1).write.parquet(clk_d)

    # NOTE the direction: the CLICK stream is the left (its time is the
    # later bound), impressions the right within [t-10m, t]
    clicks = spark.readStream.schema(
        "ad string, event_time timestamp, click_id bigint"
    ).parquet(clk_d)
    imps = spark.readStream.schema(
        "ad string, event_time timestamp, imp_id bigint"
    ).parquet(imp_d)
    joined = stream_stream_join(
        imps, clicks, on="ad", tolerance="10 minutes", watermark="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from t_ssj").collect()
    assert {(r.imp_id, r.click_id) for r in rows} == {(1, 10)}


def _sum_state_metric(q, key):
    """Sum a stateOperators metric across every progress event of a
    drained query (each micro-batch reports its own state deltas)."""
    return sum(
        op.get(key, 0) or 0
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    )


def _write_batches(d, tables):
    """One parquet file per pyarrow table under `d`, mtimes stamped in
    list order: FileStreamSource orders files by modification time, so
    a maxFilesPerTrigger=1 drain replays the tables as batches in order
    without sleeping between writes."""
    import os
    import time

    import pyarrow.parquet as pq

    os.makedirs(d)
    t0 = time.time() - 2 * len(tables)
    for b, t in enumerate(tables):
        path = f"{d}/b{b:02d}.parquet"
        pq.write_table(t, path)
        os.utime(path, (t0 + b, t0 + b))


def _stateful_drain(helper, stream):
    if helper == "streaming_dedup":
        return streaming_dedup(stream, ["k"], watermark="1 hour")
    if helper == "windowed_counts":
        return windowed_counts(stream, window="1 hour", watermark="1 hour",
                               keys=("k",)).select("k", "n")
    if helper == "session_counts":
        return session_counts(stream, gap="10 minutes", watermark="1 hour",
                              keys=("k",)).select("k", "session_events")
    left = stream.where("side = 0").select("k", "event_time")
    right = stream.where("side = 1").select("k", "event_time")
    return stream_stream_join(left, right, on="k", tolerance="10 minutes",
                              watermark="1 hour").select("k")


@pytest.mark.parametrize(
    "helper",
    ["streaming_dedup", "windowed_counts", "session_counts", "stream_stream_join"],
)
def test_stateful_state_is_evicted_by_watermark(spark, tmp_path, helper):
    """Each stateful helper's state is bounded by the watermark horizon,
    not by how much of the stream has been drained. Equal batches whose
    event times jump 10 days per batch are drained under a 1-hour
    watermark, once as 3 batches and once as 6: state rows must be
    physically removed (numRowsRemoved > 0), and the live state left
    after the last batch (numRowsTotal over its state operators) must
    be the same at 3 and at 6 batches — flat in the drain length — while
    the emitted rows grow."""
    import datetime as dt

    import pyarrow as pa

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def batch(b):
        # 40 events over 40 minutes: 8 keys, sides alternating every
        # 8 events so each join key has rows on both sides
        return pa.table({
            "k": pa.array([i % 8 for i in range(40)], pa.int64()),
            "side": pa.array([(i // 8) % 2 for i in range(40)], pa.int32()),
            "event_time": pa.array(
                [t0 + dt.timedelta(days=10 * b, minutes=i) for i in range(40)],
                pa.timestamp("us", tz="UTC"),
            ),
        })

    live, emitted = {}, {}
    for n in (3, 6):
        d = str(tmp_path / f"ev{n}")
        _write_batches(d, [batch(b) for b in range(n)])
        stream = (
            spark.readStream.schema("k bigint, side int, event_time timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        # one state store per operator: the per-store commit is paid on
        # every trigger and the test's few rows need no more
        with scoped_shuffle_partitions(spark, 1):
            q = (
                _stateful_drain(helper, stream)
                .writeStream.format("memory")
                .queryName(f"t_evict_{helper}_{n}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        progress = [p for p in q.recentProgress if p.get("stateOperators")]
        assert sum(p["numInputRows"] > 0 for p in progress) == n
        removed = _sum_state_metric(q, "numRowsRemoved")
        assert removed > 0, [p["stateOperators"] for p in progress]
        live[n] = sum(op["numRowsTotal"] for op in progress[-1]["stateOperators"])
        emitted[n] = spark.table(f"t_evict_{helper}_{n}").count()
    assert live[3] == live[6], live
    # while the state stays flat, output keeps growing with the drain
    assert 0 < emitted[3] < emitted[6], emitted


def test_dedup_then_windowed_counts_chain_on_default_session(spark, tmp_path):
    """streaming_dedup -> windowed_counts shares one event-time
    watermark: on a default session (no allowMultiple override) the
    chain drains three batches 10 days apart, the watermark advances
    past the earlier windows, and append mode emits them deduplicated."""
    import datetime as dt

    import pyarrow as pa

    from goconnect_spark.streaming.run import streaming_dedup, windowed_counts

    d = str(tmp_path / "ev3")
    t0 = dt.datetime(2026, 5, 1, 0, 0, 0)
    # every key arrives twice; a batch's 30 keys share one 1h window
    _write_batches(d, [
        pa.table({
            "k": pa.array([b * 1000 + i for i in range(30)] * 2, pa.int64()),
            "event_time": pa.array(
                [t0 + dt.timedelta(days=10 * b, minutes=i) for i in range(30)] * 2,
                pa.timestamp("us", tz="UTC"),
            ),
        })
        for b in range(3)
    ])

    stream = (
        spark.readStream.schema("k bigint, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    deduped = streaming_dedup(stream, ["k"], watermark="1 hour")
    agg = windowed_counts(deduped, window="1 hour", watermark="1 hour")
    q = (
        agg.select(F.col("window.start").alias("ws"), "n")
        .writeStream.format("memory")
        .queryName("t_chain_dedup_win")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the first two batches' windows closed, each key counted once
    emitted = spark.sql("select sum(n) s from t_chain_dedup_win").collect()[0].s
    assert emitted == 60, emitted


def test_streaming_bpe_tokenize_matches_batch(spark, sf_dir, tmp_path):
    # BPE application is stateless map-side work — the ideal streaming
    # shape: a document STREAM tokenized with the frozen merge table
    # must produce exactly the batch token counts (batch/stream
    # unification for the tokenizer family; no state, no watermark,
    # the replace chain rides inside each micro-batch)
    from goconnect_spark.operators.bpe import apply_bpe_replace
    from goconnect_spark.queries._bpe_frozen import BPE_MERGES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/docs.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(f"{tmp_path}/docs.parquet")
    )
    toked = apply_bpe_replace(stream, BPE_MERGES).select(
        F.explode("bpe_tokens").alias("token")
    )
    run_bounded(toked, "t_bpe_stream")
    got = {
        r.token: r.n
        for r in spark.sql(
            "select token, count(*) n from t_bpe_stream group by token"
        ).collect()
    }
    want = {
        r.token: r.n
        for r in apply_bpe_replace(docs, BPE_MERGES)
        .select(F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 10


def test_parquet_source_clean_source_deletes_processed_files(spark, tmp_path):
    """stream_options pass-through (VERDICT r13 item 6): cleanSource=
    delete removes processed files from the input dir, which bounds
    the per-trigger listing term a long-lived file drain otherwise
    accumulates (the O(files) cost the r13 rate-source A/B isolated).
    The final batch's file is cleaned on the NEXT commit, which never
    arrives under availableNow — so at most one file may remain."""
    import glob
    import os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "in_data")
    os.makedirs(d)
    for i in range(4):
        pq.write_table(
            pa.table({"id": list(range(i * 10, i * 10 + 10)),
                      "v": [float(x) for x in range(10)]}),
            f"{d}/p{i}.parquet",
        )
    src = ParquetSource(
        d, seq_col="id", streaming=True,
        stream_options={"maxFilesPerTrigger": 1, "cleanSource": "delete"},
    )
    name = f"t_clean_{uuid.uuid4().hex[:6]}"
    q = (
        src.read(spark).select("value.*")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table(name).count() == 40  # cleanup never loses rows
    for _ in range(40):  # deletion is async (cleaner thread)
        if len(glob.glob(f"{d}/*.parquet")) <= 1:
            break
        time.sleep(0.5)
    assert len(glob.glob(f"{d}/*.parquet")) <= 1


def _ann_pair_batch(width):
    import pyarrow as pa

    vec = pa.list_(pa.int16())
    return pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], pa.int64()),
            pa.array([3, 4], pa.int64()),
            pa.array([8.0, 16.0]),
            pa.array([8.0, 8.0]),
            pa.array([[1] * width, [2] * width], vec),
            pa.array([[1] * width, [-1] * width], vec),
        ],
        ["probe_id", "vec_id", "nrm", "pnrm", "q16", "pq16"],
    )


def test_ann_pair_cosines_rejects_wrong_width():
    """streaming_ann_lookup's Arrow scorer reshapes flat buffers into
    64-d rows: two 32-wide rows must raise, not fold into one 64-d
    row whose cosine is broadcast to both pairs."""
    from goconnect_spark.queries.streaming_queries import _pair_cosines

    out = list(_pair_cosines([_ann_pair_batch(64)]))[0].to_pydict()
    assert out == {"probe_id": [1, 2], "cosine": [1.0, -1.0], "vec_id": [3, 4]}
    with pytest.raises(ValueError, match="64-wide"):
        list(_pair_cosines([_ann_pair_batch(32)]))
