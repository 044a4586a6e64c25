"""Graph queries over the word co-occurrence graph: fixed-point
PageRank, label-propagation communities, degree-oriented triangle
counting — built on operators/graph.py and the shared
corpus.cooccurrence_edges cache.

Consolidated from queries/analytics6.py in round 6 (module re-org
only — code moved verbatim, no query renamed).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from goconnect_spark.tables import load



_TRI_MIN_PAIR = 10  # edge threshold: co-occurrence support



# ---------------------------------------------------------------------------
# PageRank over the word co-occurrence graph — the iterative-algorithm
# shape (power iteration as repeated join+aggregate) that complements
# the connected-components loop in dedup.py. Reference parity: the
# reference engine has no graph operators; this is LLM-pipeline-layer
# corpus diagnostics (influential-vocabulary ranking).

_PR_SCALE = 1_000_000  # fixed-point scale: rank 1.0 == 1e6

_PR_ITERS = 3

_PR_TOPK = 20

_PR_BASE = 15 * _PR_SCALE // 100  # (1-d) * scale, d = 0.85



def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT e.dst AS v,
         CAST({_PR_BASE} + SUM((r.rank * 85) // (100 * d.outdeg)) AS BIGINT) AS rank
  FROM edges e JOIN deg d ON e.src = d.src JOIN {prev} r ON e.src = r.v
  GROUP BY e.dst
)"""



# ---------------------------------------------------------------------------
# Label-propagation communities: the third member of the graph family
# (triangles = local structure, PageRank = centrality, LPA =
# community partition). Deterministic SYNCHRONOUS variant: classic
# async LPA is order-dependent; synchronous rounds with a total
# tie-break make the partition reproducible across engines.

_LPA_ITERS = 4



def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT v, label FROM (
    SELECT e.dst AS v, l.label,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rk
    FROM edges e JOIN {prev} l ON e.src = l.v
    GROUP BY e.dst, l.label
  ) WHERE rk = 1
)"""




def word_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the word co-occurrence graph (edges = word
    pairs sharing >= _TRI_MIN_PAIR documents).

    The count uses the DEGREE-oriented-edge algorithm: every
    undirected edge is oriented from its lower to its higher endpoint
    under the total order (degree, id), wedges are enumerated at each
    source over its out-neighbours, and a wedge (b, c) closes iff the
    oriented edge b→c exists. Each triangle is counted exactly once
    (at its minimum-(degree,id) vertex). Degree orientation bounds
    EVERY out-degree by O(sqrt(|E|)) — the classic heavy-vertex fix —
    so one stop-word surviving the support threshold cannot make the
    wedge join quadratic in its (huge) degree the way raw-id
    orientation can. The triangle count is orientation-invariant, so
    the oracle SQL is the plain three-way join.
    """
    from goconnect_spark.queries.corpus import cooccurrence_edges

    # shared persisted thresholded graph: the edge subtree feeds deg,
    # the two wedge sides AND the closing join — without materializing
    # it the support aggregation re-executes ~5x (measured 8.7 -> 1.3 s
    # at sf0.1); sharing with word_pagerank also halves the family's
    # bench cost (the same move as the dedup shingle-set persist).
    edges = cooccurrence_edges(spark, sf_dir, _TRI_MIN_PAIR)
    # degree of each vertex in the thresholded graph (vertex-dim sized)
    deg = (
        edges.select(F.col("w1").alias("v"))
        .unionAll(edges.select(F.col("w2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # attach (deg, id) order keys to both endpoints; struct comparison
    # is lexicographic, giving the total order the orientation needs.
    # deg is VERTEX-dim (vocabulary-bounded) — broadcast explicitly
    # (r14, guide §3.1): the post-aggregate size is opaque to the
    # static planner and each AQE repair here costs a sequential
    # query-stage round trip on a tiny table.
    keyed = (
        edges.join(
            F.broadcast(deg.withColumnRenamed("v", "w1").withColumnRenamed("deg", "d1")),
            "w1",
        )
        .join(
            F.broadcast(deg.withColumnRenamed("v", "w2").withColumnRenamed("deg", "d2")),
            "w2",
        )
        .select(
            "w1",
            "w2",
            F.struct(F.col("d1").alias("d"), F.col("w1").alias("v")).alias("k1"),
            F.struct(F.col("d2").alias("d"), F.col("w2").alias("v")).alias("k2"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("k1") < F.col("k2"), F.col("w1")).otherwise(F.col("w2")).alias("src"),
        F.when(F.col("k1") < F.col("k2"), F.col("w2")).otherwise(F.col("w1")).alias("dst"),
        F.when(F.col("k1") < F.col("k2"), F.col("k2")).otherwise(F.col("k1")).alias("kdst"),
    )
    # wedge enumeration IN-ROW (r14, guide §2.3 "aggregate before you
    # shuffle" — the word_cooccurrence pair-expansion move): collect
    # each source's out-neighbours once (degree orientation bounds
    # every out-degree by O(sqrt|E|), so the per-src list is small BY
    # THE ALGORITHM'S OWN GUARANTEE) and expand ordered pairs from the
    # sorted array instead of self-joining the edge list on src. kdst
    # is unique per dst ((deg, id) with distinct ids), so sorting by
    # kdst and pairing i < j reproduces exactly the kb < kc wedge set.
    # The closing join stays an equi-join — the edge list is NOT
    # vocabulary-bounded, so no broadcast on it (measured anyway:
    # 1.64 -> 1.59 s, not worth the 100 TB risk).
    adj = oriented.groupBy("src").agg(
        F.array_sort(F.collect_list(F.struct("kdst", "dst"))).alias("nb")
    )
    wedges = adj.select(
        F.explode(
            F.expr(
                "flatten(transform(nb, (x, i) ->"
                " transform(slice(nb, i + 2, size(nb)),"
                " y -> struct(x.dst as b, y.dst as c))))"
            )
        ).alias("w")
    ).select("w.b", "w.c")
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    return tris.agg(F.count("*").alias("n_triangles"))



_TRIANGLES_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
edges AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING COUNT(*) >= {_TRI_MIN_PAIR}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e1.w2 = e2.w1
JOIN edges e3 ON e3.w1 = e1.w1 AND e3.w2 = e2.w2
"""



def word_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words by PageRank after 3 power iterations over the
    thresholded co-occurrence graph (same edges as
    word_graph_triangles).

    Determinism: the iteration is ENTIRELY integer — ranks are
    fixed-point bigints, each edge contribution is
    (rank*85) div (100*outdeg) (truncating integer division, identical
    to DuckDB's // on non-negative operands), and the per-vertex
    reduce is an integer sum, so the result is bit-reproducible
    across engines, partitionings and retry orders. Float PageRank
    sums are order-dependent; a filtering/weighting decision built on
    one would not be replayable.

    Scale: each iteration is one equi-join of the edge list against
    the vertex-dim rank table (AQE broadcasts the rank side when it
    fits) plus one keyed aggregation — O(|E|) per iteration with
    map-side partial sums, no all-pairs anywhere. The symmetric
    thresholded graph has no dangling vertices, so the rank mass
    needs no dangling redistribution term.
    """
    from goconnect_spark.queries.corpus import cooccurrence_edges

    # the persisted thresholded graph is shared with
    # word_graph_triangles; the directed view is a cheap projection
    # union over it, so each iteration's 4 reads hit the cache
    from goconnect_spark.operators.graph import pagerank_fixed_point

    und = cooccurrence_edges(spark, sf_dir, _TRI_MIN_PAIR)
    edges = und.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst")
    ).unionAll(und.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
    ranks = pagerank_fixed_point(edges, iters=_PR_ITERS, scale=_PR_SCALE)
    return (
        ranks.orderBy(F.desc("rank"), "v")
        .limit(_PR_TOPK)
        .select(F.col("v").alias("word"), F.col("rank").alias("rank_fp"))
    )



_PAGERANK_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
und AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_PAIR}
),
edges AS (
  SELECT w1 AS src, w2 AS dst FROM und
  UNION ALL
  SELECT w2 AS src, w1 AS dst FROM und
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src AS v, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg),{_pagerank_iter_sql("r0", "r1")},{_pagerank_iter_sql("r1", "r2")},{_pagerank_iter_sql("r2", "r3")}
SELECT v AS word, rank AS rank_fp FROM r3 ORDER BY rank DESC, v LIMIT {_PR_TOPK}
"""



def word_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes over the thresholded co-occurrence graph after
    4 synchronous label-propagation rounds.

    Each round every vertex adopts the most frequent label among its
    neighbours, ties broken by lexicographically smallest label —
    counts are integers and the tie-break is a total order, so the
    partition is deterministic (no float scores, no arrival order).
    On this synthetic corpus the frequent-word graph is a near-clique
    and LPA correctly converges to a single community; what the
    oracle certifies is the exact per-round propagation (every
    vertex's assignment after 4 synchronized rounds), which is why
    the result is the per-vertex table, not just community sizes.

    Scale: per round one equi-join edge x labels + one keyed count +
    one per-vertex argmax (row_number over a keyed window) —
    O(|E|) work, vertex-dim state, localCheckpoint keeping lineage
    flat (same loop discipline as PageRank/CC).
    """
    from goconnect_spark.queries.corpus import cooccurrence_edges

    und = cooccurrence_edges(spark, sf_dir, _TRI_MIN_PAIR)
    edges = und.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst")
    ).unionAll(und.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
    labels = edges.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    for _ in range(_LPA_ITERS):
        nb = edges.join(labels.withColumnRenamed("v", "src"), "src").select(
            F.col("dst").alias("v"), "label"
        )
        # per-vertex argmax as min_by over (-n, label) (r14): the
        # most-frequent label with smallest-label tie-break is exactly
        # the minimum of the lexicographic (-n, label) struct, so one
        # aggregation replaces the row_number window + filter. An
        # aggregation partial-combines map-side and never sorts;
        # the window shipped every (v, label, n) row into a per-v
        # sort. Identical partition verified value-by-value against
        # the window form (and the unchanged DuckDB oracle still
        # ranks with ROW_NUMBER). The per-iteration localCheckpoint
        # STAYS: the final labels table feeds two consumers (sizes +
        # the join), and the un-checkpointed 4-round lineage measured
        # slower (2.04 s vs 1.23 s) because that tail re-executes the
        # whole chain once per consumer.
        labels = (
            nb.groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("v")
            .agg(F.expr("min_by(label, struct(-n, label))").alias("label"))
            .localCheckpoint()
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        labels.join(sizes, "label")
        .select(F.col("v").alias("word"), F.col("label").alias("community"), "n_members")
        .orderBy("word")
    )



_LPA_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
und AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_PAIR}
),
edges AS (
  SELECT w1 AS src, w2 AS dst FROM und
  UNION ALL
  SELECT w2 AS src, w1 AS dst FROM und
),
l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),{_lpa_iter_sql("l0", "l1")},{_lpa_iter_sql("l1", "l2")},{_lpa_iter_sql("l2", "l3")},{_lpa_iter_sql("l3", "l4")}
,
sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members FROM l4 GROUP BY label
)
SELECT l.v AS word, l.label AS community, s.n_members
FROM l4 l JOIN sizes s USING (label) ORDER BY l.v
"""


QUERIES = {
    "word_graph_triangles": word_graph_triangles,
    "word_pagerank": word_pagerank,
    "word_communities_lpa": word_communities_lpa,
}

ORACLE = {
    "word_graph_triangles": _TRIANGLES_SQL,
    "word_pagerank": _PAGERANK_SQL,
    "word_communities_lpa": _LPA_SQL,
}
