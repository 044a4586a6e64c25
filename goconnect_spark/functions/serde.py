"""Serde helpers: Confluent Schema Registry wire format, Avro, XML,
JSON — the engine's explicit counterparts of the reference's coder
package (reference coder/serde/, coder/xml/).

The Confluent wire format (reference coder/serde/decoder.go:30-83):
byte 0 = 0x00 magic, bytes 1-4 = big-endian schema id, rest = Avro
binary. This module is the one place that layout is coded: header
strip/prepend are pure column expressions, and the coder registry's
sr-avro strip edge calls `sr_strip_header`. The Avro body codec is
`functions.avro_py` (pure Python, Arrow-batched).

A minimal SR REST client (`SchemaRegistryClient`) covers the
reference's fetch-schema-by-id / register-schema flows with a local
cache (reference's client caches too); it is network-gated and unit
tests stub it.
"""

from __future__ import annotations

import json
from urllib import request as _urlreq

import pyspark.sql.functions as F
from pyspark.sql import Column


def sr_strip_header(value: Column) -> Column:
    """Confluent payload -> raw Avro body (drop magic + schema id)."""
    return F.substring(value, 6, 2147483647)


def sr_schema_id(value: Column) -> Column:
    """Big-endian schema id from bytes 2-5."""
    conv = [F.conv(F.hex(F.substring(value, i, 1)), 16, 10).cast("long") for i in range(2, 6)]
    return (conv[0] * 16777216 + conv[1] * 65536 + conv[2] * 256 + conv[3]).cast("int")


def _sr_header(schema_id: int) -> bytes:
    """Confluent wire-format header: 0x00 magic + 4-byte BE schema id."""
    return bytes([0]) + int(schema_id).to_bytes(4, "big")


def sr_prepend_header(avro_body: Column, schema_id: int) -> Column:
    """Raw Avro body -> Confluent payload (reference encoder.go:50-96)."""
    return F.concat(F.lit(bytearray(_sr_header(schema_id))), avro_body)


def xml_decode(xml: Column, schema: str) -> Column:
    """XML string -> struct (reference coder/xml/decoder.go:28-47);
    attributes surface as `_attr` fields."""
    return F.from_xml(xml, schema, {"attributePrefix": "_"})


def xml_encode(struct: Column, row_tag: str = "r") -> Column:
    return F.to_xml(struct, {"rowTag": row_tag})


XML_NODE_SCHEMA = (
    "array<struct<node_id:int,parent_id:int,type:string,tag:string,"
    "text:string,comment:string,target:string,inst:string,"
    "directive:string,attrs:map<string,string>>>"
)


def xml_nodes() -> Column:
    """Full XML node-tree decode — the columnar equivalent of the
    reference's Node interface (coder/xml/node.go:35-72), which
    models Root/Tag/Text/Comment/ProcInst/Directive nodes that
    Spark's `from_xml` (and therefore `xml_decode`) silently drops.

    Returns a pandas UDF: xml string -> preorder-flattened node array
    (node_id = document order, parent_id = -1 for root). Tag nodes
    carry `tag` + `attrs`; Text/Comment/Directive carry their data;
    ProcInst carries `target` + `inst` — exactly the reference's
    accessor partition (TagName/Attr vs Text vs Comment vs
    Target/Inst vs Directive, each empty for other node types).

    Tree extraction is inherently non-columnar, so this is the
    documented Arrow-batched slow path (expat, C speed, one pass per
    document); schema-known element projection should keep using
    `xml_decode`, which stays JVM-side. Malformed XML yields NULL
    (PERMISSIVE, matching from_xml's corrupt-record behavior).
    """
    import pandas as pd  # noqa: F401 - resolved by pandas_udf type hints
    from pyspark.sql.functions import pandas_udf

    def parse_one(doc):
        if doc is None:
            return None
        from xml.parsers import expat

        nodes: list = [(0, -1, "root", None, None, None, None, None, None, None)]
        stack = [0]

        def nid():
            return len(nodes)

        def start(tag, attrs):
            i = nid()
            nodes.append((i, stack[-1], "tag", tag, None, None, None, None, None, dict(attrs)))
            stack.append(i)

        def end(tag):
            stack.pop()

        def chars(data):
            # expat splits character data arbitrarily; merge runs so a
            # text node is maximal, like the reference's charData node
            last = nodes[-1]
            if last[2] == "text" and last[1] == stack[-1]:
                nodes[-1] = last[:4] + (last[4] + data,) + last[5:]
            else:
                nodes.append((nid(), stack[-1], "text", None, data, None, None, None, None, None))

        def comment(data):
            nodes.append((nid(), stack[-1], "comment", None, None, data, None, None, None, None))

        def pi(target, inst):
            nodes.append((nid(), stack[-1], "procinst", None, None, None, target, inst, None, None))

        def doctype(name, sysid, pubid, has_internal):
            nodes.append((nid(), stack[-1], "directive", None, None, None, None, None,
                          "DOCTYPE " + name, None))

        p = expat.ParserCreate()
        p.buffer_text = True
        p.StartElementHandler = start
        p.EndElementHandler = end
        p.CharacterDataHandler = chars
        p.CommentHandler = comment
        p.ProcessingInstructionHandler = pi
        p.StartDoctypeDeclHandler = doctype
        try:
            p.Parse(doc, True)
        except expat.ExpatError:
            return None
        return nodes

    def run(s):
        return s.map(parse_one)

    run.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(XML_NODE_SCHEMA)(run)


def json_encode(struct: Column) -> Column:
    """GenericRecord -> JSON (reference serde.JsonEncoder)."""
    return F.to_json(struct)


def json_decode(s: Column, schema: str) -> Column:
    return F.from_json(s, schema)


def sr_reencode_udf(writer_schemas: dict, target_schema: str, target_id: int):
    """Confluent payload under registry A -> Confluent payload under
    registry B (reference examples/kafka-sr1-avro-sr2-kafka/main.go:
    75-83): per record, strip the wire header, decode the Avro body
    with the writer schema the embedded id names, project into
    `target_schema` (aliases/defaults/promotions — GenericProjector
    semantics), re-encode, and prepend the target registry's id.

    `writer_schemas` is the driver-fetched {schema_id: schema-json}
    map — registries hold a handful of versions per subject, so the
    map is tiny and ships inside the Arrow-batched UDF closure (the
    reference caches schema-by-id identically)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from goconnect_spark.functions import avro_py

    writers = {int(i): avro_py.parse_schema(s) for i, s in writer_schemas.items()}
    target = avro_py.parse_schema(target_schema)
    header = _sr_header(target_id)

    def reenc(s):
        def one(b):
            if b is None:
                return None
            raw = bytes(b)
            if not raw or raw[0] != 0:
                raise ValueError("not a Confluent wire-format payload (bad magic)")
            wid = int.from_bytes(raw[1:5], "big")
            if wid not in writers:
                raise KeyError(f"schema id {wid} not in writer_schemas map")
            w = writers[wid]
            value = avro_py.project(avro_py.decode(raw[5:], w), w, target)
            return header + avro_py.encode(value, target)

        return s.map(one)

    reenc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf("binary")(reenc)


def sr_reencode(df, value_col: str, source_registry, target_registry,
                subject: str, target_schema: str):
    """Batch SR1->SR2 re-encode flow over a DataFrame: discover the
    schema ids present (distinct over a 4-byte column — tiny), fetch
    each writer schema from the source registry, register the target
    schema under the target registry, and rewrite the payload column.
    Returns (df, target_id). Streaming pipelines should pre-fetch the
    subject's versions and call sr_reencode_udf directly per batch."""
    ids = [r.sid for r in df.select(sr_schema_id(F.col(value_col)).alias("sid")).distinct().collect()]
    writer_schemas = {i: source_registry.schema_by_id(i) for i in ids}
    target_id = target_registry.register(subject, target_schema)
    out = df.withColumn(value_col, sr_reencode_udf(writer_schemas, target_schema, target_id)(F.col(value_col)))
    return out, target_id


class InMemorySchemaRegistry:
    """SchemaRegistryClient-compatible stub: id->schema store with
    subject registration and Confluent's idempotent same-schema
    semantics. Used by tests/examples — the REST client below is
    network-gated in sandboxes."""

    def __init__(self, start_id: int = 1):
        self._by_id: dict = {}
        self._ids: dict = {}
        self._next = start_id

    def schema_by_id(self, schema_id: int) -> str:
        return self._by_id[schema_id]

    def register(self, subject: str, schema: str) -> int:
        key = (subject, json.dumps(json.loads(schema), sort_keys=True))
        if key not in self._ids:
            self._ids[key] = self._next
            self._by_id[self._next] = schema
            self._next += 1
        return self._ids[key]


class SchemaRegistryClient:
    """Tiny Confluent SR REST client with the reference's semantics:
    schema-by-id fetch with cache, and subject registration returning
    the id (reference registers under topic + '-value')."""

    def __init__(self, base_url: str):
        self.base_url = base_url.rstrip("/")
        self._by_id: dict[int, str] = {}
        self._ids: dict[tuple[str, str], int] = {}

    def schema_by_id(self, schema_id: int) -> str:
        if schema_id not in self._by_id:
            with _urlreq.urlopen(f"{self.base_url}/schemas/ids/{schema_id}") as r:
                self._by_id[schema_id] = json.loads(r.read())["schema"]
        return self._by_id[schema_id]

    def register(self, subject: str, schema: str) -> int:
        key = (subject, schema)
        if key not in self._ids:
            req = _urlreq.Request(
                f"{self.base_url}/subjects/{subject}/versions",
                data=json.dumps({"schema": schema}).encode(),
                headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
            )
            with _urlreq.urlopen(req) as r:
                self._ids[key] = json.loads(r.read())["id"]
        return self._ids[key]
