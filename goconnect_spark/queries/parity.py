"""Reference-parity queries: goconnect's own operator surface.

Each query exercises one row of SURVEY.md §2's inventory re-expressed
on DataFrames:

- map / filter        -> reference def.go:45-55, fn.go:97-152
- flatmap / str.Split -> reference def.go:49-51, coder/str/splitter.go:28-51
- Fold / Count        -> reference def.go:57-65, fn.go:154-193
- Limit               -> reference def.go:88-91, context.go:671-686
- NetMergeOrdered     -> reference network/net_mergeordered.go:27-61
- str/kv coders       -> reference coder/str/, coder/kv/
- xml decode          -> reference coder/xml/decoder.go:28-47

All stay in built-in column expressions (whole-stage codegen); nothing
here needs a Python UDF.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from goconnect_spark.tables import load


# Map + Filter: element-wise transform then predicate, as a pipeline
# `root(lineitem).map(project+compute).filter(pred)` would compile.
def map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_quantity").cast("decimal(12,2)") * F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("gross"),
            F.upper("l_returnflag").alias("flag"),
        )
        .where((F.col("gross") > 100000.0) & (F.col("flag") != "N"))
        .orderBy("l_orderkey", "l_linenumber")
    )


_MAP_FILTER_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS gross,
       UPPER(l_returnflag) AS flag
FROM lineitem
WHERE CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) > 100000.0
  AND UPPER(l_returnflag) <> 'N'
ORDER BY l_orderkey, l_linenumber
"""


# FlatMap (1->N): str.Split parity — explode(split(text)) into words,
# then count. A linear `root.flatMap(split).fold(count)` chain.
def flatmap_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word")).where(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


_FLATMAP_SQL = """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 20
"""


# Fold/Count: the reference's only aggregation — a global running
# accumulator (snapshot emitted per trigger). Batch view = one global
# agg row; the per-trigger streaming twin lives in streaming/run.py.
def fold_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


_FOLD_SQL = """
SELECT COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events
"""


# Limit: deterministic bounded prefix — reference Limit makes any
# pipeline bounded via a stop cascade; Spark's limit is the batch
# equivalent. Sorted first so the prefix is well-defined.
def limit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    return ev.orderBy("event_id").limit(100).select("event_id", "user_id", "event_type")


_LIMIT_SQL = """
SELECT event_id, user_id, event_type
FROM events ORDER BY event_id LIMIT 100
"""


# NetMergeOrdered: global order restored after parallelism by sorting
# on the sequence column (reference gathers to one node and reorders by
# Stamp.Uniq; Spark expresses this as a global sort — same single-sink
# scalability cliff, but range-partitioned sort until the final write).
def ordered_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    scattered = ev.repartition(8)  # NetRoundRobin parity: round-robin scatter
    return (
        scattered.select("event_id", F.upper("event_type").alias("event_type_uc"))
        .orderBy("event_id")
        .limit(50)
    )


_ORDERED_MERGE_SQL = """
SELECT event_id, UPPER(event_type) AS event_type_uc
FROM events ORDER BY event_id LIMIT 50
"""


# str + kv coders: string <-> bytes round-trip and null-key KV framing
# (reference kv.NilKeyEncoder drops/injects the key; here the value
# round-trips through binary and back, with the md5 of the bytes as a
# portable witness that the binary payload is identical).
def kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    kv = ev.select(
        F.lit(None).cast("binary").alias("key"),
        F.encode(F.col("props"), "UTF-8").alias("value"),
        "event_id",
    )
    return kv.select(
        "event_id",
        F.col("key").isNull().alias("key_is_null"),
        F.md5("value").alias("value_md5"),
        F.decode(F.col("value"), "UTF-8").alias("value_str"),
    ).orderBy("event_id").limit(200)


_KV_SQL = """
SELECT event_id,
       TRUE AS key_is_null,
       md5(props) AS value_md5,
       props AS value_str
FROM events ORDER BY event_id LIMIT 200
"""


# XML decode: build '<name>…</name>' docs from nation (the reference's
# list-xml-filter-stdout example does exactly this shape), parse with
# from_xml, extract, filter NOT contains 'B', fold sum(length).
def xml_extract_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, "nation", sf_dir)
    xml_doc = F.concat(F.lit("<r><name>"), F.col("n_name"), F.lit("</name></r>"))
    parsed = nation.select(
        "n_nationkey",
        F.from_xml(xml_doc, "name STRING").alias("doc"),
    ).select("n_nationkey", F.col("doc.name").alias("name"))
    kept = parsed.where(~F.upper("name").contains("B"))
    return kept.agg(
        F.count(F.lit(1)).alias("n_names"),
        F.sum(F.length("name")).cast("long").alias("total_len"),
    )


_XML_SQL = """
WITH parsed AS (
  SELECT n_nationkey,
         regexp_extract('<name>' || n_name || '</name>', '<name>(.*)</name>', 1) AS name
  FROM nation
)
SELECT COUNT(*) AS n_names, CAST(SUM(LENGTH(name)) AS BIGINT) AS total_len
FROM parsed WHERE NOT contains(UPPER(name), 'B')
"""


# gzip coder roundtrip certificate (round 13): the gzip.Encoder/
# Decoder pair (reference coder/gzip, plans/coders.py Arrow UDFs) was
# the last unit-only codec row. The certificate is the kv_roundtrip
# witness pattern: each props string is gzip-compressed and
# decompressed by the RUNTIME coder UDFs and the md5 of the
# round-tripped bytes (plus the original's md5 and byte length) is
# hash-compared against DuckDB computing md5/length of the SAME
# strings directly — a corrupt compress, a lossy decompress, or a
# boundary defect on any row changes value_md5_rt and fails the hash.
# (Compressed size itself is deliberately NOT a column: it depends on
# the zlib build, which the oracle cannot reproduce.)
def gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goconnect_spark.plans.coders import (
        _gzip_compress_udf,
        _gzip_decompress_udf,
    )

    ev = load(spark, "events", sf_dir)
    gz, gunz = _gzip_compress_udf(), _gzip_decompress_udf()
    raw = F.encode(F.col("props"), "UTF-8")
    rt = gunz(gz(raw))
    # take the 200 witnessed rows BEFORE the codec round trip (r14,
    # guide §1.2/§4): event_id is unique, so TakeOrdered picks the
    # identical 200 rows either way — but the old plan shipped the
    # whole table through the compress+decompress Arrow UDFs and then
    # discarded 99.8% of the results. The certificate only ever
    # verified the 200 emitted rows; now only those cross to Python.
    return (
        ev.select("event_id", "props")
        .orderBy("event_id")
        .limit(200)
        .select(
            "event_id",
            F.octet_length("props").cast("long").alias("len_raw"),
            F.md5(raw).alias("md5_orig"),
            F.md5(rt).alias("md5_rt"),
        )
        .orderBy("event_id")
    )


_GZIP_SQL = """
SELECT event_id,
       CAST(strlen(props) AS BIGINT) AS len_raw,
       md5(props) AS md5_orig,
       md5(props) AS md5_rt
FROM events ORDER BY event_id LIMIT 200
"""


# Avro wire-format + reader-projection certificate (round 13): the
# pure-Python Avro codec (functions/avro_py.py — reference parity
# coder/serde/decoder.go:85-105 + projector.go:8-32) was unit-tested
# only; this entry makes the WIRE FORMAT driver-certified with the
# planted-truth pattern. Spark builds real Avro record bodies per
# documents row as hex column expressions — zigzag varints (negative
# ints take the odd path), multi-byte varints, string length+UTF-8,
# null/int union branch indexes, enum indexes, array blocks with a
# 0 terminator — decodes them with avro_decode_udf under a READER
# schema that renames a->a2 via aliases, promotes long b -> double,
# and injects default f=42 (the projector surface); the DuckDB oracle
# aggregates only the planted arithmetic. Any varint/zigzag/branch/
# offset defect, or a broken alias/promotion/default resolution,
# breaks the hash.
_AVRO_WRITER = """
{"type":"record","name":"Ev","fields":[
 {"name":"a","type":"int"},
 {"name":"b","type":"long"},
 {"name":"c","type":"string"},
 {"name":"d","type":["null","int"]},
 {"name":"e","type":{"type":"enum","name":"E","symbols":["red","green","blue"]}},
 {"name":"g","type":{"type":"array","items":"int"}}]}
"""
_AVRO_READER = """
{"type":"record","name":"Ev","fields":[
 {"name":"a2","aliases":["a"],"type":"int"},
 {"name":"b","type":"double"},
 {"name":"c","type":"string"},
 {"name":"d","type":["null","int"]},
 {"name":"e","type":{"type":"enum","name":"E","symbols":["red","green","blue"]}},
 {"name":"g","type":{"type":"array","items":"int"}},
 {"name":"f","type":"int","default":42}]}
"""


def _hx2p(col):
    return F.lpad(F.hex(col), 2, "0")


def _avro_varint_hex(z):
    """Hex of the Avro unsigned varint for 0 <= z < 2^21 (7-bit
    little-endian groups, high bit = continuation)."""
    b0 = F.when(z < 128, _hx2p(z)).otherwise(_hx2p(z % 128 + 128))
    r1 = F.floor(z / 128).cast("long")
    b1 = (
        F.when(z < 128, F.lit(""))
        .when(r1 < 128, _hx2p(r1))
        .otherwise(_hx2p(r1 % 128 + 128))
    )
    r2 = F.floor(r1 / 128).cast("long")
    b2 = F.when(z < 16384, F.lit("")).otherwise(_hx2p(r2))
    return F.concat(b0, b1, b2)


def _avro_zz(n):
    """Zigzag of a (column) long: 2n for n >= 0, -2n-1 for n < 0."""
    return F.when(n >= 0, n * 2).otherwise(-n * 2 - 1).cast("long")


def avro_decode_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goconnect_spark.functions.avro_py import avro_decode_udf

    d = F.col("doc_id")
    a = (d % 1000 - 500).cast("long")          # negative zigzag path
    b = (d % 100000).cast("long")              # 3-byte varint; long->double
    c = F.concat(F.lit("s"), (d % 100).cast("string"))
    dd = (d % 50 - 25).cast("long")            # union int branch value
    d_null = d % 5 == 0
    e_idx = (d % 3).cast("long")
    g0 = (d % 7).cast("long")
    g1 = (d % 11).cast("long")
    body_hex = F.concat(
        _avro_varint_hex(_avro_zz(a)),
        _avro_varint_hex(_avro_zz(b)),
        _avro_varint_hex(F.octet_length(c).cast("long") * 2),
        F.hex(c),
        F.when(d_null, F.lit("00")).otherwise(
            F.concat(F.lit("02"), _avro_varint_hex(_avro_zz(dd)))),
        _avro_varint_hex(e_idx * 2),
        F.lit("04"),                            # array block: 2 items
        _avro_varint_hex(g0 * 2),
        _avro_varint_hex(g1 * 2),
        F.lit("00"),                            # array terminator
    )
    # r14 note: spreading this corpus to quarter-width was measured
    # and REJECTED (1.07 -> 1.21 s): the single Arrow decode worker
    # amortizes better than 8 short-lived ones at this row count.
    corpus = load(spark, "documents", sf_dir).select(
        "doc_id", F.unhex(body_hex).alias("body"))
    dec = avro_decode_udf(
        _AVRO_WRITER,
        "a2 int, b double, c string, d int, e string, g array<int>, f int",
        _AVRO_READER,
    )
    rec = corpus.select(dec(F.col("body")).alias("r")).select("r.*")
    return (
        rec.groupBy("e")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a2").cast("long")).alias("sum_a2"),
            F.sum("b").alias("sum_b"),
            F.sum(F.length("c").cast("long")).alias("sum_len_c"),
            F.count("d").alias("n_d"),
            F.sum(F.col("d").cast("long")).alias("sum_d"),
            F.sum(F.expr(
                "aggregate(g, cast(0 as bigint), (s, x) -> s + x)")).alias(
                "sum_g"),
            F.sum(F.col("f").cast("long")).alias("sum_f"),
        )
        .orderBy("e")
    )


_AVRO_SQL = """
WITH p AS (
    SELECT doc_id,
           doc_id % 1000 - 500 AS a,
           doc_id % 100000 AS b,
           's' || CAST(doc_id % 100 AS VARCHAR) AS c,
           CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 50 - 25 END AS d,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'red' WHEN 1 THEN 'green'
                ELSE 'blue' END AS e,
           doc_id % 7 + doc_id % 11 AS g_sum
    FROM documents
)
SELECT e,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a) AS BIGINT) AS sum_a2,
       CAST(SUM(b) AS DOUBLE) AS sum_b,
       CAST(SUM(LENGTH(c)) AS BIGINT) AS sum_len_c,
       CAST(COUNT(d) AS BIGINT) AS n_d,
       CAST(SUM(d) AS BIGINT) AS sum_d,
       CAST(SUM(g_sum) AS BIGINT) AS sum_g,
       CAST(COUNT(*) * 42 AS BIGINT) AS sum_f
FROM p
GROUP BY e
ORDER BY e
"""


# Avro ENCODER certificate (round 14, VERDICT r13 item 3): the encode
# path (GenericRecord -> Avro body -> Confluent SR wire framing,
# functions/avro_py.py _Writer + functions/serde.py sr_prepend_header, reference
# coder/serde/encoder.go:50-96) was loopback-tested only while the
# decode side carried avro_decode_fold — and the r13 mutation check
# found exactly the class of bug an uncertified encoder can hide.
# This plants the SAME record shapes as avro_decode_fold, encodes them
# with the runtime avro_encode_udf, frames them with schema id 7, and
# pins the EXACT wire bytes: the DuckDB oracle rebuilds the expected
# payload hex from the spec (zigzag, 7-bit varint groups, string
# length+UTF-8, union branch index, enum index, array blocks, the
# 0x00+bigendian-id header) and both engines md5 the lowercase hex —
# a single wrong byte anywhere in the encoder fails 200 rows. The
# payload is then decoded back through the independently-certified
# reader (alias a->a2, long b->double promotion, default f=42) so the
# full GenericRecord -> wire -> GenericProjector loop is one gate.
def avro_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goconnect_spark.functions.avro_py import (
        avro_decode_udf,
        avro_encode_udf,
    )
    from goconnect_spark.functions.serde import (
        sr_prepend_header,
        sr_strip_header,
    )

    d = F.col("doc_id")
    a = (d % 1000 - 500).cast("long")
    b = (d % 100000).cast("long")
    c = F.concat(F.lit("s"), (d % 100).cast("string"))
    dd = (d % 50 - 25).cast("long")
    d_null = d % 5 == 0
    e_sym = (
        F.when(d % 3 == 0, F.lit("red"))
        .when(d % 3 == 1, F.lit("green"))
        .otherwise(F.lit("blue"))
    )
    g0 = (d % 7).cast("long")
    g1 = (d % 11).cast("long")
    rec = F.struct(
        a.cast("int").alias("a"),
        b.alias("b"),
        c.alias("c"),
        F.when(d_null, F.lit(None).cast("int"))
        .otherwise(dd.cast("int"))
        .alias("d"),
        e_sym.alias("e"),
        F.array(g0.cast("int"), g1.cast("int")).alias("g"),
    )
    enc = avro_encode_udf(_AVRO_WRITER)
    payload = sr_prepend_header(enc(rec), 7)
    dec = avro_decode_udf(
        _AVRO_WRITER,
        "a2 int, b double, c string, d int, e string, g array<int>, f int",
        _AVRO_READER,
    )
    # take the 200 witnessed rows BEFORE encode/decode (r14, guide
    # §1.2/§4): doc_id is unique, so the TakeOrdered prefix is the
    # identical row set — the old plan encoded AND decoded the whole
    # corpus through two Arrow UDFs, then kept 200 rows.
    corpus = (
        load(spark, "documents", sf_dir)
        .select("doc_id")
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", payload.alias("payload"))
    )
    out = corpus.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("payload_len"),
        F.md5(F.lower(F.hex("payload"))).alias("payload_md5"),
        dec(sr_strip_header(F.col("payload"))).alias("r"),
    )
    return (
        out.select(
            "doc_id",
            "payload_len",
            "payload_md5",
            F.col("r.a2").cast("long").alias("rt_a2"),
            F.col("r.b").alias("rt_b"),
            F.length("r.c").cast("long").alias("rt_len_c"),
            F.col("r.d").cast("long").alias("rt_d"),
            F.col("r.e").alias("rt_e"),
            F.expr(
                "aggregate(r.g, cast(0 as bigint), (s, x) -> s + x)"
            ).alias("rt_g_sum"),
            F.col("r.f").cast("long").alias("rt_f"),
        )
        .orderBy("doc_id")
    )


# the oracle rebuilds the wire bytes from the Avro spec alone: hexb(x)
# is inlined as lower(lpad(to_hex(x),2,'0')); varints are expanded by
# range (zza <= 1000 -> <=2 bytes, zzb <= 199998 -> <=3 bytes, every
# other planted value fits one byte); the string body 's'||digits is
# hexed digit-by-digit (0x73 's', 0x30+digit)
_AVRO_ENC_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 1000 - 500 AS a,
         doc_id % 100000 AS b,
         doc_id % 100 AS m,
         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 50 - 25 END AS d,
         CAST(doc_id % 3 AS INT) AS e_idx,
         doc_id % 7 AS g0, doc_id % 11 AS g1
  FROM documents ORDER BY doc_id LIMIT 200
), z AS (
  SELECT *,
         CASE WHEN a >= 0 THEN a*2 ELSE -a*2-1 END AS zza,
         b*2 AS zzb,
         CASE WHEN d IS NULL THEN NULL
              WHEN d >= 0 THEN d*2 ELSE -d*2-1 END AS zzd,
         CASE WHEN m < 10 THEN 2 ELSE 3 END AS lc
  FROM p
), hx AS (
  SELECT doc_id, a, b, m, d, e_idx, g0, g1, lc,
    '00' || '00000007'
    || CASE WHEN zza < 128 THEN lower(lpad(to_hex(zza),2,'0'))
            ELSE lower(lpad(to_hex(zza%128+128),2,'0'))
              || lower(lpad(to_hex(zza//128),2,'0')) END
    || CASE WHEN zzb < 128 THEN lower(lpad(to_hex(zzb),2,'0'))
            WHEN zzb < 16384 THEN lower(lpad(to_hex(zzb%128+128),2,'0'))
              || lower(lpad(to_hex(zzb//128),2,'0'))
            ELSE lower(lpad(to_hex(zzb%128+128),2,'0'))
              || lower(lpad(to_hex((zzb//128)%128+128),2,'0'))
              || lower(lpad(to_hex(zzb//16384),2,'0')) END
    || lower(lpad(to_hex(lc*2),2,'0'))
    || '73'
    || CASE WHEN m < 10 THEN lower(lpad(to_hex(48+m),2,'0'))
            ELSE lower(lpad(to_hex(48+m//10),2,'0'))
              || lower(lpad(to_hex(48+m%10),2,'0')) END
    || CASE WHEN d IS NULL THEN '00'
            ELSE '02' || lower(lpad(to_hex(zzd),2,'0')) END
    || lower(lpad(to_hex(e_idx*2),2,'0'))
    || '04'
    || lower(lpad(to_hex(g0*2),2,'0'))
    || lower(lpad(to_hex(g1*2),2,'0'))
    || '00' AS payload_hex
  FROM z
)
SELECT doc_id,
       CAST(LENGTH(payload_hex)//2 AS BIGINT) AS payload_len,
       md5(payload_hex) AS payload_md5,
       CAST(a AS BIGINT) AS rt_a2,
       CAST(b AS DOUBLE) AS rt_b,
       CAST(lc AS BIGINT) AS rt_len_c,
       CAST(d AS BIGINT) AS rt_d,
       CASE e_idx WHEN 0 THEN 'red' WHEN 1 THEN 'green' ELSE 'blue' END
         AS rt_e,
       CAST(g0 + g1 AS BIGINT) AS rt_g_sum,
       CAST(42 AS BIGINT) AS rt_f
FROM hx ORDER BY doc_id
"""


# RoundRobin list source parity (io.RoundRobin replays a list n times):
# spark.range + element_at. Uses nation names as the list.
def roundrobin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, "nation", sf_dir)
    names = [r.n_name for r in nation.select("n_name").orderBy("n_nationkey").collect()]
    n = 1000
    arr = F.array(*[F.lit(x) for x in names])
    return (
        spark.range(n)
        .select(F.element_at(arr, (F.col("id") % len(names)).cast("int") + 1).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("name")
    )


_ROUNDROBIN_SQL = """
WITH names AS (
  SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS idx,
         (SELECT COUNT(*) FROM nation) AS total FROM nation
), replay AS (
  SELECT n.n_name AS name
  FROM range(1000) r JOIN names n ON n.idx = r.range % n.total
)
SELECT name, COUNT(*) AS n FROM replay GROUP BY name ORDER BY name
"""


QUERIES = {
    "map_filter": map_filter,
    "flatmap_word_counts": flatmap_word_counts,
    "fold_global": fold_global,
    "limit_events": limit_events,
    "ordered_merge": ordered_merge,
    "kv_roundtrip": kv_roundtrip,
    "gzip_roundtrip": gzip_roundtrip,
    "xml_extract_fold": xml_extract_fold,
    "avro_decode_fold": avro_decode_fold,
    "avro_encode_roundtrip": avro_encode_roundtrip,
    "roundrobin_replay": roundrobin_replay,
}

ORACLE = {
    "map_filter": _MAP_FILTER_SQL,
    "flatmap_word_counts": _FLATMAP_SQL,
    "fold_global": _FOLD_SQL,
    "limit_events": _LIMIT_SQL,
    "ordered_merge": _ORDERED_MERGE_SQL,
    "kv_roundtrip": _KV_SQL,
    "gzip_roundtrip": _GZIP_SQL,
    "xml_extract_fold": _XML_SQL,
    "avro_decode_fold": _AVRO_SQL,
    "avro_encode_roundtrip": _AVRO_ENC_SQL,
    "roundrobin_replay": _ROUNDROBIN_SQL,
}
