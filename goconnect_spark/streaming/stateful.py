"""Custom stateful streaming: the reference's arbitrary-accumulator
Fold (UserFoldFn, reference fn.go:154-193) generalized to keyed state
via applyInPandasWithState.

The reference constrains Fold to one goroutine with a single in-memory
ACC and emits a snapshot per trigger (context.go:332-455). Here the
accumulator is per-key, checkpointed, and distributed — each trigger
emits the updated accumulator rows for keys seen in the batch (the
same observable cadence as the reference's TriggerEvery).

`keyed_fold` takes plain Python (init, update) closures over floats —
the UserFoldFn surface — and runs them over Arrow record batches, so
user code executes once per batch, not once per row.
"""

from __future__ import annotations

from typing import Callable, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keyed_fold(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    init: float,
    update: Callable[[float, float], float],
    output_schema: str = "key string, acc double, n bigint",
    state_schema: str = "acc double, n bigint",
) -> DataFrame:
    """Running fold per key with user-defined update(acc, value).

    Returns the (unstarted) update-mode streaming DataFrame; each
    micro-batch emits (key, acc, n) for keys present in the batch.
    """

    def fn(key: Tuple, pdfs, state: GroupState):
        acc, n = (state.get if state.exists else (init, 0))
        for pdf in pdfs:
            for v in pdf[value_col]:
                acc = update(acc, float(v))
                n += 1
        state.update((acc, n))
        yield pd.DataFrame({"key": [str(key[0])], "acc": [acc], "n": [n]})

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def budget_admit(
    stream: DataFrame,
    key_col: str,
    weight_col: str,
    budget: int,
    id_col: str,
) -> DataFrame:
    """Streaming admission control under a per-key weight budget — the
    streaming analog of queries/sampling.py::token_budget_sample.

    A row is ADMITTED iff its key's cumulative admitted weight before
    it is still under `budget` (the same greedy rule as the batch
    query, so the overshoot is at most one row per key); everything
    after is dropped and only admitted rows are emitted (append mode).
    Like StreamingLimit (run.py), the order is ARRIVAL order across
    micro-batches — a stream has no md5-replayable global order; the
    batch twin is the replayable variant.

    State is ONE bigint per key (weight consumed), checkpointed by
    Structured Streaming — bounded by key cardinality, never by stream
    length, which is what lets a 100 TB ingest run this forever. Keys
    keep no timeout: a budget is a lifetime cap, not a window.
    """

    def fn(key: Tuple, pdfs, state: GroupState):
        (used,) = state.get if state.exists else (0,)
        out_ids, out_w, out_used = [], [], []
        for pdf in pdfs:
            for rid, w in zip(pdf[id_col], pdf[weight_col]):
                if used < budget:
                    used += int(w)
                    out_ids.append(int(rid))
                    out_w.append(int(w))
                    out_used.append(used)
        state.update((used,))
        yield pd.DataFrame(
            {
                "key": [str(key[0])] * len(out_ids),
                "id": out_ids,
                "weight": out_w,
                "used_after": out_used,
            }
        )

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType="key string, id bigint, weight bigint, used_after bigint",
            stateStructType="used bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def heavy_hitters(
    stream: DataFrame,
    value_col: str,
    k: int = 10,
    capacity: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Streaming top-k frequent values with BOUNDED state: a
    SpaceSaving sketch per hash shard, `capacity` counters each, so
    total state is shards x capacity rows no matter how many distinct
    values the stream carries — the property that lets a 100 TB
    ingest track heavy hitters forever where a plain streaming
    groupBy-count accumulates unbounded per-value state.

    Values are hash-partitioned to exactly ONE shard, so a value's
    estimate lives wholly in that shard's sketch and the global top-k
    is a trivial union+sort of the per-shard snapshots (no cross-
    sketch merge). Each trigger emits the shard's current top-k as
    (shard, value, est, err) with the SpaceSaving guarantee
    true <= est <= true + err for every value retained.

    Batch rows are pre-aggregated (pandas value_counts) before the
    weighted sketch update, so Python work is per distinct value per
    batch, not per row.
    """

    def fn(key: Tuple, pdfs, state: GroupState):
        if state.exists:
            vals, counts, errs = state.get
            sk = {v: [c, e] for v, c, e in zip(vals, counts, errs)}
        else:
            sk = {}
        for pdf in pdfs:
            for v, c in pdf[value_col].astype(str).value_counts().items():
                c = int(c)
                if v in sk:
                    sk[v][0] += c
                elif len(sk) < capacity:
                    sk[v] = [c, 0]
                else:
                    u, (cmin, _) = min(sk.items(), key=lambda it: (it[1][0], it[0]))
                    del sk[u]
                    sk[v] = [cmin + c, cmin]
        items = sorted(sk.items(), key=lambda it: (it[0],))
        state.update(
            (
                [v for v, _ in items],
                [ce[0] for _, ce in items],
                [ce[1] for _, ce in items],
            )
        )
        top = sorted(sk.items(), key=lambda it: (-it[1][0], it[0]))[:k]
        yield pd.DataFrame(
            {
                "shard": [int(key[0])] * len(top),
                "value": [v for v, _ in top],
                "est": [ce[0] for _, ce in top],
                "err": [ce[1] for _, ce in top],
            }
        )

    import pyspark.sql.functions as F

    # project to (shard, value) BEFORE the stateful exchange (r14,
    # guide §4.1): applyInPandasWithState ships every column of the
    # grouped frame across the Arrow boundary, and the sketch reads
    # only value_col — caller payload columns (ids, timestamps) would
    # otherwise be shuffled AND serialized to Python per batch.
    sharded = stream.select(
        (F.abs(F.xxhash64(F.col(value_col))) % shards).cast("int").alias("shard"),
        value_col,
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType="shard int, value string, est bigint, err bigint",
        stateStructType="vals array<string>, counts array<bigint>, errs array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
