"""Reference example parity: examples/list-avro-sr-kafka
(reference main.go:42-76) — a bounded list of records, Avro-encoded
against a schema registry (Confluent wire format), published to Kafka.

No broker/registry in the sandbox: the registry is the in-memory stub
and the Kafka edge stops at KafkaSink's publish projection (the exact
key/value binary rows the kafka connector would write).

Run: python examples/list_avro_sr_kafka.py
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from goconnect_spark.functions import avro_py  # noqa: E402
from goconnect_spark.functions.serde import InMemorySchemaRegistry, sr_prepend_header  # noqa: E402
from goconnect_spark.pipeline import Pipeline  # noqa: E402
from goconnect_spark.session import get_spark  # noqa: E402
from goconnect_spark.sources import ListSource  # noqa: E402
from goconnect_spark.sources.sinks import KafkaSink  # noqa: E402

# examples/list-avro-sr-kafka/main.go:42-61 record shape
SCHEMA = {
    "type": "record",
    "name": "Example",
    "fields": [
        {"name": "seqNo", "type": "long", "default": 0},
        {"name": "timestamp", "type": "long", "default": -1},
        {"name": "text", "type": "string", "default": ""},
    ],
}


def main():
    spark = get_spark("list-avro-sr-kafka")
    spark.sparkContext.setLogLevel("ERROR")

    registry = InMemorySchemaRegistry(start_id=1)
    sid = registry.register("example-value", json.dumps(SCHEMA))

    # the reference builds records driver-side from the bounded list;
    # encode with the pure-Python Avro codec, then prepend the wire
    # header — all as one Arrow-batched column expression
    texts = ["hello", "world", "goconnect", "spark"]
    records = [
        avro_py.encode({"seqNo": i, "timestamp": 1_700_000_000 + i, "text": t}, SCHEMA)
        for i, t in enumerate(texts)
    ]

    p = (
        Pipeline(spark)
        .root(ListSource(records))
        .map(lambda v: sr_prepend_header(v, sid))
    )
    out = p.ordered_dataframe()
    prepared = KafkaSink("broker:9092", "example")._prepare(out)
    for r in prepared.collect():  # what the kafka connector would publish
        body = bytes(r.value)
        wid = int.from_bytes(body[1:5], "big")
        print(f"wire id {wid}:", avro_py.decode(body[5:], SCHEMA))


if __name__ == "__main__":
    main()
