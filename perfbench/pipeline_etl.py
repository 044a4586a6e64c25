"""pipeline_etl: goconnect's two reference examples as typed Pipelines.

- XML chain (list-xml-filter-stdout): RoundRobinSource of XML bytes ->
  xml_decode (declared on strings, so the registry splices in the bytes
  -> string decoder) -> extract name -> filter names without 'B' ->
  per-50k-element fold with cumulative snapshots -> ParquetSink.
  Checked against a plain-Python run of the same chain.
- Avro chain (kafka-sr1-avro-sr2-kafka): ParquetSource of Kafka-shaped
  (key, value) rows holding SR1-wire Avro -> sr_reencode_udf into the V2
  schema (declared on bytes, so the registry splices in the key-dropping
  decoder) -> ParquetSink. Checked by row count plus a seeded sample of
  payloads decoded with avro_py.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import inputs
from harness import add_into, dir_bytes_files, median

TRIGGER_EVERY = 50_000
THRESHOLD = 210_000
SAMPLE = 256


def xml_oracle(names: list[str], n: int) -> list[tuple[int, int, int]]:
    """(chunk, partial, acc) rows with acc > THRESHOLD, in plain Python."""
    k, acc, out, partial = len(names), 0, [], 0
    for i in range(n):
        name = names[i % k]
        if "B" not in name.upper():
            partial += len(name)
        if (i + 1) % TRIGGER_EVERY == 0 or i == n - 1:
            acc += partial
            if acc > THRESHOLD:
                out.append((i // TRIGGER_EVERY, partial, acc))
            partial = 0
    return out


class _Traced:
    """Span-recording stand-ins for the source, sink and coder registry a
    Pipeline is given; they delegate to the library objects unchanged."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spans: dict[str, list[float]] = {}
        self.chain_len = 0

    def _time(self, name, fn, *a):
        with self.ctx.tracer.span(name) as rec:
            out = fn(*a)
        if self.ctx.tracer.enabled:
            self.spans.setdefault(name, []).append(rec["end"] - rec["start"])
        return out

    def source(self, src):
        outer = self

        class Source:
            def read(self, spark):
                return outer._time("sources.read", src.read, spark)

        return Source()

    def sink(self, snk):
        outer = self

        class Sink:
            def write(self, df):
                return outer._time("sinks.write", snk.write, df)

        return Sink()

    def registry(self):
        from goconnect_spark.plans.coders import default_registry

        reg = default_registry()
        find = reg.find_chain

        def find_chain(src, dst):
            chain = self._time("plans.coders.find_chain", find, src, dst)
            self.chain_len += len(chain or [])
            return chain

        reg.find_chain = find_chain
        return reg

    def pipeline_cls(self):
        from goconnect_spark.pipeline import Pipeline

        outer = self

        class TracedPipeline(Pipeline):
            def dataframe(self):
                return outer._time("pipeline.compile", super().dataframe)

        return TracedPipeline


def xml_pipeline(ctx, t: _Traced, names: list[str], n: int, out: str):
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from goconnect_spark.functions.serde import xml_decode
    from goconnect_spark.sources.core import RoundRobinSource
    from goconnect_spark.sources.sinks import ParquetSink

    def snapshots(df):
        w = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, 0)
        return (df.withColumn("acc", F.sum("partial").over(w))
                .where(F.col("acc") > THRESHOLD))

    p = (t.pipeline_cls()(ctx.spark, coders=t.registry())
         .root(t.source(RoundRobinSource(n, [bytearray(d) for d in inputs.xml_docs(names)])))
         .map(lambda v: xml_decode(v, "name STRING"), in_type=T.StringType())
         .map(lambda v: v.getField("name"))
         .filter(lambda v: ~F.upper(v).contains("B"))
         .apply(lambda df: df.withColumn("chunk", F.floor(F.col("seq") / TRIGGER_EVERY)))
         .key_fold(["chunk"], F.sum(F.length("value")).cast("long").alias("partial"))
         .apply(snapshots))
    p.run(t.sink(ParquetSink(out)))


def avro_pipeline(ctx, t: _Traced, path: str, out: str, target_id: int):
    from pyspark.sql import types as T

    from goconnect_spark.functions.serde import sr_reencode_udf
    from goconnect_spark.sources.core import ParquetSource
    from goconnect_spark.sources.sinks import ParquetSink

    udf = sr_reencode_udf({inputs.AVRO_V1_ID: json.dumps(inputs.AVRO_V1)},
                          json.dumps(inputs.AVRO_V2), target_id)
    p = (t.pipeline_cls()(ctx.spark, coders=t.registry())
         .root(t.source(ParquetSource(path)))
         .map(lambda v: udf(v), in_type=T.BinaryType(), out_type=T.BinaryType()))
    p.run(t.sink(ParquetSink(out)))


def check_xml(ctx, out: str, expected) -> None:
    import pyarrow.parquet as pq

    tbl = pq.read_table(out).to_pylist()
    got = sorted((r["chunk"], r["partial"], r["acc"]) for r in tbl)
    if ctx.plant_wrong == "pipeline.xml":
        got = got[:-1]
    if got != expected:
        raise AssertionError(f"xml chain: {len(got)} snapshots differ from the Python oracle "
                             f"({len(expected)})")


def check_avro(ctx, out: str, seed: int, records: list[dict], target_id: int) -> None:
    import pyarrow.parquet as pq

    from goconnect_spark.functions import avro_py

    values = pq.read_table(out, columns=["value"]).column("value").to_pylist()
    if ctx.plant_wrong == "pipeline.avro":
        values = values[1:]
    if len(values) != len(records):
        raise AssertionError(f"avro chain: {len(values)} rows out, {len(records)} in")
    rng = np.random.default_rng([seed, 17])
    header = bytes([0]) + target_id.to_bytes(4, "big")
    for i in rng.choice(len(values), size=min(SAMPLE, len(values)), replace=False):
        raw = values[int(i)]
        if raw[:5] != header:
            raise AssertionError("avro chain: payload lacks the SR2 wire header")
        rec = avro_py.decode(raw[5:], inputs.AVRO_V2)
        if rec != inputs.expected_v2(records[rec["Id"]]):
            raise AssertionError(f"avro chain: record {rec['Id']} decodes wrong")


def run(ctx, n_xml: int, n_avro: int, budget_s: float, reps: int | None = None,
        warm: int = 0, min_reps: int = 1) -> dict:
    """Run both chains until `budget_s` is spent and at least `min_reps`
    times (or exactly `reps` times), checking every run's output. The
    first `warm` runs of each chain are untimed: they compile its code,
    start the Python workers and let the JIT compiler catch up.
    Throughput per chain is the median over timed runs of elements /
    wall, the wall taken from root to sink flush."""
    from goconnect_spark.functions.serde import InMemorySchemaRegistry

    names = inputs.xml_names(ctx.seed)
    target_id = InMemorySchemaRegistry(start_id=1).register(
        "users-value", json.dumps(inputs.AVRO_V2))
    out_root = os.path.join(ctx.work, "pipeline_out")

    def chains_of(nx: int, na: int) -> dict:
        """chain -> (elements, pipeline(traced, out), check(out))"""
        xml_expected = xml_oracle(names, nx)
        avro_path = inputs.avro_payloads(ctx.seed, na)
        records = inputs.avro_records(ctx.seed, na)
        return {
            "xml": (nx, lambda t, out: xml_pipeline(ctx, t, names, nx, out),
                    lambda out: check_xml(ctx, out, xml_expected)),
            "avro": (na, lambda t, out: avro_pipeline(ctx, t, avro_path, out, target_id),
                     lambda out: check_avro(ctx, out, ctx.seed, records, target_id)),
        }

    chains = chains_of(n_xml, n_avro)
    rates: dict[str, list[float]] = {c: [] for c in chains}
    layer: dict[str, dict] = {c: {} for c in chains}

    def once(chain: str, spec: dict, timed: bool = True) -> None:
        n, pipe, check = spec[chain]
        out = os.path.join(out_root, chain)
        shutil.rmtree(out, ignore_errors=True)
        t = _Traced(ctx)
        with ctx.tracer.span(f"pipeline.run.{chain}"):
            t0 = time.perf_counter()
            ok, _ = ctx.ops.run(f"pipeline.{chain}", lambda: pipe(t, out))
            wall = time.perf_counter() - t0
        if ok:
            ok, _ = ctx.ops.run(f"pipeline.check.{chain}", lambda: check(out))
        if not ok:
            ctx.correct = False
            return
        if not timed:
            return
        rates[chain].append(n / wall)
        if ctx.plan:
            ex = ctx.plan.collect()
            add_into(ctx.exec_acc, ex)
            b, f = dir_bytes_files(out)
            lay = layer[chain]
            for k, v in (("sources.read_s", t.spans.get("sources.read", [0.0])[0]),
                         ("pipeline.compile_s", t.spans.get("pipeline.compile", [0.0])[0]),
                         ("sinks.write_s", t.spans.get("sinks.write", [0.0])[0]),
                         ("sources.rows_out", ex["_leaf_rows"]),
                         ("pipeline.filter_rows", ex["_filter_rows"]),
                         ("plans.coders.chain_len", t.chain_len),
                         ("sinks.bytes_written", b), ("sinks.files_written", f)):
                lay.setdefault(k, []).append(v)

    for _ in range(warm):
        for chain in chains:
            once(chain, chains, timed=False)
    if warm and ctx.plan:
        ctx.plan.collect()
    t_end = time.time() + budget_s
    done = 0
    while True:
        for chain in chains:
            once(chain, chains)
        done += 1
        if (done >= reps) if reps is not None else (done >= min_reps and time.time() >= t_end):
            break
    shutil.rmtree(out_root, ignore_errors=True)

    print(f"# pipeline rates {json.dumps({c: [round(r) for r in v] for c, v in rates.items()})}")
    res = {"xml_elements_per_s": median(rates["xml"]),
           "avro_elements_per_s": median(rates["avro"]), "reps": done}
    if ctx.plan:
        med = {c: {k: median(v) for k, v in layer[c].items()} for c in chains}
        keys = ("sources.read_s", "sources.rows_out", "plans.coders.chain_len",
                "pipeline.compile_s", "sinks.write_s", "sinks.bytes_written",
                "sinks.files_written")
        res["layers"] = {k: sum(med[c].get(k, 0.0) for c in chains) for k in keys}
        xml = med["xml"]
        res["layers"]["pipeline.filter_keep_ratio"] = (
            xml.get("pipeline.filter_rows", 0.0) / xml["sources.rows_out"]
            if xml.get("sources.rows_out") else 0.0)
    return res
