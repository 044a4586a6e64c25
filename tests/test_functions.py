"""Unit tests for the functions layer (serde) and the catalog's
reusable text/vector helpers (corpus, dedup, similarity)."""

import math

import pyspark.sql.functions as F
import pytest

from goconnect_spark.functions import serde
from goconnect_spark.queries.corpus import shingle_arrays_for
from goconnect_spark.queries.dedup import minhash_bands_for, ngram_jaccard_pairs


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # near-duplicates: bigram Jaccard 17/19
        (0, "the quick brown fox jumps over the lazy dog and then runs far away into the quiet green forest"),
        (1, "the quick brown fox jumps over the lazy dog and then runs far away into the quiet green field"),
        (2, "completely different content here entirely"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _toks(docs):
    return docs.select("doc_id", F.split("text", " ").alias("toks"))


def test_tokens_and_shingles(docs):
    sh = {r.doc_id: (r.shset, r.n) for r in shingle_arrays_for(_toks(docs)).collect()}
    shset, n = sh[0]
    assert n == 18  # 19 words -> 18 bigrams, all distinct here
    assert shset == sorted(shset) and "quick brown" in shset
    assert sh[2][1] == 4


def test_minhash_similar_docs_share_bands(docs):
    bands = minhash_bands_for(shingle_arrays_for(_toks(docs)))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .collect()
    )
    pairs = {(r.x, r.y) for r in cand}
    assert (0, 1) in pairs  # near-dups collide
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_jaccard_pairs_exact(spark):
    # bigram sets: 0 = {ab..ij} (9), 1 = {ab..hi, ix} (9), 2 = {ab..gh,
    # hy, yz} (9). J(0,1) = 8/10 sits exactly on the 0.8 threshold and
    # must survive the prefix filter; J(0,2) = J(1,2) = 7/11 must not.
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),
            (1, "a b c d e f g h i x"),
            (2, "a b c d e f g h y z"),
            (3, "completely different content here entirely"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    assert out == {(0, 1): 0.8}


def test_brute_force_topk(spark, tmp_path):
    """cosine_topk's quantized cosine (floor(x*1e4) integer dots) and
    its (cosine desc, vec_id asc) ranking, recomputed in Python."""
    import numpy as np

    from goconnect_spark.queries.similarity import _N_PROBES, _TOP_K, cosine_topk

    rng = np.random.RandomState(7)
    vecs = (rng.rand(50, 16).astype(np.float32) * 2 - 1).tolist()
    spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]], i % 4) for i in range(50)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = [(r.probe_id, r.rk, r.vec_id, r.cosine) for r in cosine_topk(spark, str(tmp_path)).collect()]

    q = [[math.floor(x * 10000) for x in v] for v in vecs]
    nrm = [math.sqrt(float(sum(a * a for a in qv))) for qv in q]
    want = []
    for p in range(_N_PROBES):
        cos = sorted(
            ((float(sum(a * b for a, b in zip(q[v], q[p]))) / (nrm[v] * nrm[p]), v)
             for v in range(len(vecs)) if v != p),
            key=lambda t: (-t[0], t[1]),
        )[:_TOP_K]
        want += [(p, rk, v, c) for rk, (c, v) in enumerate(cos, 1)]
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-12, (g, w)


def test_sr_wire_format_roundtrip(spark):
    payload = b"\x01\x02\x03\x04"
    df = spark.createDataFrame([(bytearray(payload),)], "body binary")
    wired = df.select(serde.sr_prepend_header(F.col("body"), 1234).alias("v"))
    out = wired.select(
        serde.sr_schema_id(F.col("v")).alias("sid"),
        serde.sr_strip_header(F.col("v")).alias("body"),
        F.length("v").alias("n"),
    ).collect()[0]
    assert out.sid == 1234
    assert bytes(out.body) == payload
    assert out.n == len(payload) + 5


def test_xml_decode_attributes(spark):
    df = spark.createDataFrame(
        [('<r><item mode="fast"><file>x.txt</file></item></r>',)], "xml string"
    )
    parsed = df.select(
        serde.xml_decode(F.col("xml"), "item STRUCT<_mode: STRING, file: STRING>").alias("d")
    ).collect()[0]
    assert parsed.d.item._mode == "fast" and parsed.d.item.file == "x.txt"


def test_json_roundtrip(spark):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    out = (
        df.select(serde.json_encode(F.struct("id", "s")).alias("j"))
        .select(serde.json_decode(F.col("j"), "id LONG, s STRING").alias("d"))
        .collect()[0]
    )
    assert out.d.id == 1 and out.d.s == "a"


def test_xml_encode_roundtrip(spark):
    df = spark.createDataFrame([(1, "fast")], "id long, mode string")
    xml = df.select(serde.xml_encode(F.struct("id", "mode"), row_tag="item").alias("x"))
    s = xml.collect()[0].x
    assert "<item>" in s and "<mode>fast</mode>" in s
    back = xml.select(serde.xml_decode(F.col("x"), "id BIGINT, mode STRING").alias("d")).collect()[0]
    assert back.d.id == 1 and back.d.mode == "fast"


def test_xml_nodes_full_tree(spark):
    """Node-type parity with the reference's coder/xml/node.go:35-72:
    Root/Tag/Text/Comment/ProcInst/Directive all surface, preorder,
    with the accessor partition (tag+attrs vs text vs comment vs
    target+inst vs directive) and NULL for malformed input."""
    doc = (
        '<?xml version="1.0"?><!DOCTYPE note>'
        '<root a="1"><!--hi--><child>txt<?php echo?></child>tail</root>'
    )
    df = spark.createDataFrame([(doc,), (None,), ("<bad",)], "xml string")
    rows = df.select(serde.xml_nodes()(F.col("xml")).alias("n")).collect()
    nodes = rows[0].n
    types = [n.type for n in nodes]
    assert types == ["root", "directive", "tag", "comment", "tag", "text", "procinst", "text"]
    assert nodes[0].parent_id == -1
    root_tag = nodes[2]
    assert root_tag.tag == "root" and root_tag.attrs == {"a": "1"}
    assert nodes[1].directive == "DOCTYPE note"
    assert nodes[3].comment == "hi" and nodes[3].parent_id == root_tag.node_id
    child = nodes[4]
    assert (nodes[5].text, nodes[5].parent_id) == ("txt", child.node_id)
    assert (nodes[6].target, nodes[6].inst) == ("php", "echo")
    assert (nodes[7].text, nodes[7].parent_id) == ("tail", root_tag.node_id)
    # non-matching accessors stay NULL, like the reference's empty returns
    assert nodes[5].tag is None and root_tag.text is None
    # PERMISSIVE: null in, malformed in -> NULL out
    assert rows[1].n is None and rows[2].n is None


def test_grouping_sets_null_key_not_conflated_with_rollup(spark, tmp_path):
    # orders_grouping_sets uses GROUPING() markers: a genuine NULL
    # group value must stay NULL (distinct from the 'ALL' subtotal
    # rows), and the aggregate values must match DuckDB running the
    # oracle SQL on the same NULL-bearing data.
    import duckdb

    from goconnect_spark.queries.relational import (
        _GROUPING_SETS_SQL,
        orders_grouping_sets,
    )

    rows = [
        ("O", "1-URGENT", "10.00"),
        ("O", None, "20.00"),
        (None, "1-URGENT", "40.00"),
        (None, None, "80.00"),
        ("F", "2-HIGH", "160.00"),
    ]
    df = spark.createDataFrame(
        [(i, s, p, float(v)) for i, (s, p, v) in enumerate(rows)],
        "o_orderkey long, o_orderstatus string, o_orderpriority string, o_totalprice double",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/orders.parquet")

    got = orders_grouping_sets(spark, sf).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet/*.parquet')"
    )
    want = con.execute(_GROUPING_SETS_SQL).fetchall()

    norm = lambda rs: sorted(
        ((r[0] or "", r[1] or "", r[0] is None, r[1] is None, int(r[2]), round(float(r[3]), 6)) for r in rs)
    )
    assert norm(got) == norm(want)
    # the NULL-status group and the 'ALL' rollup are separate rows
    statuses = [r[0] for r in got]
    assert None in statuses and "ALL" in statuses
    null_detail = [r for r in got if r[0] is None and r[1] == "1-URGENT"]
    assert null_detail and null_detail[0][2] == 1


def test_winnowing_inrow_matches_reference_impl(spark):
    """Property test guarding the in-row winnowing rewrite
    (text.doc_fingerprint): for random strings, the array-expression
    pipeline must equal an independent pure-Python winnowing
    (k=8 shingle md5, w=4 window-min, distinct)."""
    import hashlib
    import random

    rng = random.Random(42)
    alphabet = "ab cd"
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 60))))
        for i in range(40)
    ]

    def winnow(text, k=8, w=4):
        n = max(len(text) - (k - 1), 1)
        hs = [hashlib.md5(text[i:i + k].encode()).hexdigest() for i in range(n)]
        wmins = [min(hs[i:i + w]) for i in range(n)]
        fps = sorted(set(wmins))
        return len(fps), min(fps)

    import pandas as pd

    sf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        sf.write.parquet(f"{d}/documents.parquet")
        from goconnect_spark.queries.text import doc_fingerprint

        out = {r.doc_id: (r.n_fingerprints, r.min_fingerprint)
               for r in doc_fingerprint(spark, d).collect()}
    for i, text in docs:
        assert out[i] == winnow(text), (i, repr(text))
