"""Shared tokenized-corpus tables, persisted once per (session, sf_dir).

The text-sketch family (word_freq_cms, word_cooccurrence,
bigram_cond_prob, word_graph_triangles) each consume the same
tokenization of `documents.text`; recomputing the parquet scan + split
per query wastes the dominant shared cost. These helpers materialize
the token layer ONCE per session and sf_dir:

- ``doc_token_arrays``  — (doc_id, toks array<string>), the base split
- ``doc_tokens_distinct`` — distinct (doc_id, tok), the document-level
  word-incidence table the co-occurrence and graph queries start from

This is the same share-the-expensive-intermediate principle as the
PPJoin shingle-set persist (dedup.py): at 100 TB a pipeline would
materialize the token table as a first-class dataset (bucketed by
doc_id) and every downstream sketch would read it instead of re-
tokenizing the raw corpus. MEMORY_AND_DISK so an oversized corpus
spills instead of OOMing; unpersisting is never required for
correctness — a cleared cache just recomputes lazily.

Results are unchanged: each query's DuckDB oracle still tokenizes from
raw text, so the hash-match proves the shared table is equivalent.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from goconnect_spark.tables import load

_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def cached_table(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """Persist-once registry for expensive shared intermediates (token
    tables, dedup cluster maps): the session-lifetime analog of
    materializing a first-class dataset in a 100 TB pipeline.

    Materialization is EAGER (the count() below), and that is
    load-bearing for plan quality, not a convenience: an unmaterialized
    InMemoryRelation has no real statistics, so every consumer planned
    against optimistic size guesses — measured fatal at the r11 100x
    scale point, where the planner flipped corpus-scale join sides
    (retained-fingerprint sets, shingle incidence, candidate pairs) to
    BroadcastHashJoin and one 1.8 GB broadcast build blew
    spark.driver.maxResultSize. A materialized cache reports its ACTUAL
    cached bytes, so the same consumer plan gets broadcast where the
    intermediate is genuinely small and a shuffle join where it is
    corpus-scale — the size-correct choice at every deployment scale,
    with no hard-coded hints. The count costs nothing in aggregate: the
    first consumer paid full materialization anyway, it just paid it
    after planning instead of before."""
    # keyed on applicationId, not id(spark): a GC'd session's id() can
    # be reused by a NEW session, which would then be handed a dead
    # DataFrame; applicationId is unique per context. A process runs
    # one SparkContext at a time, so entries of any other application
    # belong to a stopped context and are dropped here — otherwise
    # every stop/start cycle would leave its DataFrames behind.
    app = spark.sparkContext.applicationId
    for stale in [k for k in _CACHE if k[0] != app]:
        del _CACHE[stale]
    key = (app, os.path.abspath(sf_dir), kind)
    df = _CACHE.get(key)
    if df is None:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        _CACHE[key] = df
    return df


def doc_token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks: array<string>) — one split per document."""
    return cached_table(
        spark,
        sf_dir,
        "toks",
        lambda: load(spark, "documents", sf_dir).select(
            "doc_id", F.split("text", " ").alias("toks")
        ),
    )


def doc_tokens_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, tok) — the word-incidence table."""
    return cached_table(
        spark,
        sf_dir,
        "dw",
        lambda: doc_token_arrays(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("tok"))
        .distinct(),
    )


def shingle_arrays_for(toks: DataFrame) -> DataFrame:
    """(doc_id, shset, n) from any (doc_id, toks array<string>)
    DataFrame — the pure transformation behind `doc_shingle_arrays`,
    reusable on a streaming micro-batch or an ad-hoc corpus."""
    raw = toks.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks)-2),"
                " i -> concat(toks[i], ' ', toks[i+1]))"
            )
        ).alias("shingle"),
    )
    return (
        raw.groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("shingle")).alias("shset"))
        .withColumn("n", F.size("shset"))
    )


def doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shset: sorted distinct word-bigram array, n: set size)
    for docs with >= 2 words — the shared base of the whole dedup
    family: PPJoin verification needs exactly this table, the minhash
    signature is computable from it (MIN over a multiset equals MIN
    over the set), and connected components consume minhash. One
    shuffle builds it (collect_set dedups in the partial aggregate);
    every consumer after the first reads the persisted copy."""
    return cached_table(
        spark,
        sf_dir,
        "shingles",
        lambda: shingle_arrays_for(doc_token_arrays(spark, sf_dir)),
    )


def shingle_ids_for(arrays: DataFrame) -> DataFrame:
    """(doc_id, n, sids: array<bigint> ascending) — the per-doc shingle
    sets of `arrays` dictionary-encoded to dense integer ids ordered by
    global rarity (df asc, shingle asc: one consistent total order).

    The dictionary is the vocab-sized (shingle -> sid) table a 100 TB
    dedup pipeline materializes once: sid order IS the PPJoin rarity
    rank, so every prefix becomes an in-row `slice` of the id array
    (no per-consumer rank window), candidate joins shuffle 8-byte ints
    instead of shingle strings, and verification intersects int arrays
    — several times cheaper than string intersects at identical
    results (the encoding is a bijection, so set sizes and overlaps
    are preserved exactly; the DuckDB oracles keep verifying on raw
    strings, and the hash-match proves the equivalence).

    The global rank comes from the two-phase `global_row_number`
    (operators/ranking.py) — one range shuffle of the vocab-sized
    dictionary, never a single-task window."""
    from goconnect_spark.operators.ranking import global_row_number

    exploded = arrays.select("doc_id", "n", F.explode("shset").alias("shingle"))
    dfreq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sid = global_row_number(
        dfreq, ["df", "shingle"], rn_col="sid", with_total=False
    ).select("shingle", "sid")
    return (
        exploded.join(sid, "shingle")
        .groupBy("doc_id", "n")
        .agg(F.sort_array(F.collect_list("sid")).alias("sids"))
    )


def doc_shingle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached dictionary-encoded shingle-set table — the shared
    candidate/verify base of the ngram-Jaccard and containment joins."""
    return cached_table(
        spark,
        sf_dir,
        "shingle_ids",
        lambda: shingle_ids_for(doc_shingle_arrays(spark, sf_dir)),
    )


def cooccurrence_edges(spark: SparkSession, sf_dir: str, min_support: int) -> DataFrame:
    """Thresholded undirected word co-occurrence edges: (w1, w2) with
    w1 < w2 sharing >= min_support documents — the graph the triangle
    and PageRank queries both walk. The support aggregation over the
    doc-incidence self-join is by far the family's dominant cost, and
    the thresholded result is support-bounded (tiny next to the
    corpus), so it is the textbook materialize-once intermediate."""

    def build():
        # pairs come from an IN-ROW expansion of each doc's sorted
        # distinct-token array (w1 < w2 by construction): no
        # doc-incidence distinct shuffle, no doc-level self-join —
        # the ONLY shuffle is the (w1, w2) support aggregation, with
        # map-side partial combine into the vocab²-bounded key space.
        toks = doc_token_arrays(spark, sf_dir)
        return (
            toks.select(F.expr("array_sort(array_distinct(toks))").alias("ws"))
            .select(F.posexplode("ws").alias("i", "w1"), "ws")
            .select("w1", F.explode(F.expr("slice(ws, i + 2, size(ws))")).alias("w2"))
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= min_support)
            .select("w1", "w2")
        )

    return cached_table(spark, sf_dir, f"cooc_edges_{min_support}", build)
