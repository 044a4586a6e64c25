"""Query catalog: each module exposes ``QUERIES`` (name -> fn(spark, sf_dir)
-> DataFrame) and ``ORACLE`` (name -> equivalent DuckDB SQL).

Determinism contract for the oracle hash-compare:
- money/rate doubles are cast to DECIMAL before arithmetic so sums are
  exact and order-independent, then cast to DOUBLE at the end (DuckDB
  via CAST(CAST(x AS VARCHAR) AS DOUBLE) — its direct decimal->double
  cast is off by 1 ulp);
- float divisions are never rounded: both engines divide IDENTICAL
  operands (exact integer/decimal-derived doubles), so the quotients
  are bit-identical by IEEE-754;
- every computed column is aliased identically in Spark and SQL;
- hashes (md5 hex, lowercase) are used as the portable hash function —
  identical strings in Spark and DuckDB.
"""

from goconnect_spark.queries import (
    curation,
    dedup,
    dedup2,
    filtering,
    events_series,
    graph_queries,
    layout,
    media,
    mixing,
    packing,
    pq,
    relational,
    streaming_queries,
    tpch,
    parity,
    quality,
    sampling,
    similarity,
    similarity2,
    sketches,
    text,
    text2,
)

ALL_MODULES = (parity, tpch, relational, events_series, streaming_queries, graph_queries, curation, dedup, dedup2, filtering, layout, media, mixing, sampling, similarity, similarity2, pq, sketches, text, text2, packing, quality)


def all_queries():
    out = {}
    for m in ALL_MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_oracles():
    out = {}
    for m in ALL_MODULES:
        out.update(m.ORACLE)
    return out
