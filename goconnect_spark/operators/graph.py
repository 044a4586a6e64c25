"""Distributed graph primitives as DataFrame compositions.

The reference engine has no graph operators (SURVEY §2.8); these back
the LLM-pipeline corpus diagnostics (duplicate-cluster connected
components live in queries/dedup.py; the PageRank power iteration
lives here as a reusable operator so any edge list — word graphs,
near-dup graphs, citation graphs — can be ranked).

Design notes for 100 TB:
- Each iteration is ONE equi-join of the edge list against the
  vertex-dim rank table plus one keyed aggregation — O(|E|) with
  map-side partial sums. AQE broadcasts the rank side when the vertex
  dimension fits.
- The iterations unroll into one plan that grows linearly with
  `iters`: each rank table feeds the next iteration exactly once (a
  linear chain — nothing re-executes), so a per-iteration
  materialization barrier would only add driver round trips.
- The arithmetic is ENTIRELY integer (fixed-point ranks, truncating
  integer division per edge, integer sums), so results are
  bit-reproducible across partitionings, retry orders and engines —
  the property any replayable filtering/weighting decision needs.
  Float PageRank sums are order-dependent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a DIRECTED edge list in pure
    integer arithmetic. Returns (v, rank) with rank in fixed-point
    units of 1/scale.

    The recurrence per iteration, all in bigint:

        contrib(u -> v) = (rank(u) * damping_num)
                            div (damping_den * outdeg(u))
        rank'(v) = (scale - scale*damping_num div damping_den)
                     + sum(contribs into v)

    Vertices with no in-edges disappear after the first iteration
    (their mass still flows out); symmetric graphs — the common
    corpus-diagnostic case — keep every vertex. Dangling vertices
    (no out-edges) are legal: their rank simply leaks, which matches
    the uncorrected textbook recurrence; callers that need mass
    conservation should symmetrize or add self-loops first.
    """
    base = scale - scale * damping_num // damping_den
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = deg.select(
        F.col(src).alias("v"), F.lit(scale).cast("long").alias("rank")
    )
    expr = f"(rank * {damping_num}) div ({damping_den} * outdeg)"
    for _ in range(iters):
        contrib = (
            edges.join(deg, src)
            .join(ranks.withColumnRenamed("v", src), src)
            .select(F.col(dst).alias("v"), F.expr(expr).alias("c"))
        )
        ranks = (
            contrib.groupBy("v")
            .agg(F.sum("c").cast("long").alias("in_sum"))
            .select("v", (F.lit(base) + F.col("in_sum")).cast("long").alias("rank"))
        )
    return ranks


def pagerank_fixed_point_py(
    edges: list[tuple],
    iters: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> dict:
    """Sequential reference implementation of the IDENTICAL integer
    recurrence (for property tests): same truncating division, same
    init, same per-iteration vertex set semantics."""
    base = scale - scale * damping_num // damping_den
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {v: scale for v in outdeg}
    for _ in range(iters):
        nxt: dict = {}
        for s, d in edges:
            if s not in ranks:
                continue
            c = (ranks[s] * damping_num) // (damping_den * outdeg[s])
            nxt[d] = nxt.get(d, 0) + c
        ranks = {v: base + c for v, c in nxt.items()}
    return ranks


class ConvergenceError(RuntimeError):
    """Raised when an iterative graph operator exhausts its round
    budget while the solution is still changing. A silent exit would
    return a SPLIT component map — downstream dedup would double-keep
    duplicates — so non-convergence must be loud, never quiet."""


def _edge_fingerprint(e: DataFrame) -> tuple:
    """Order-independent fingerprint of an edge set: (row count,
    bit_xor of per-row 64-bit hashes). XOR is safe here because the
    edge set is distinct (no cancelling duplicates) and, paired with
    the count, collision odds are negligible; unlike SUM it cannot
    overflow under ANSI mode. One aggregation, no collect of data."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, w))").alias("h"),
    ).first()
    return (row["n"], row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', SoCC'14): for each vertex u, connect every strictly
    LARGER neighbor to m = min(Γ(u) ∪ {u}). One groupBy + one equi-join,
    both shuffled on u; output edges are canonical (u > w)."""
    both = e.union(e.select(F.col("w").alias("u"), F.col("u").alias("w")))
    mins = (
        both.groupBy("u")
        .agg(F.min("w").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        both.join(mins, "u")
        .where(F.col("w") > F.col("u"))
        .select(F.col("w").alias("u"), F.col("m").alias("w"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: for each vertex u over its SMALLER neighbors
    Γ⁻(u), connect every v ∈ Γ⁻(u) ∪ {u} to m = min(Γ⁻(u)). Input
    edges are canonical (u > w), so Γ⁻ is exactly the edge list."""
    mins = e.groupBy("u").agg(F.min("w").alias("m"))
    children = (
        e.join(mins, "u")
        .where(F.col("w") != F.col("m"))
        .select(F.col("w").alias("u"), F.col("m").alias("w"))
    )
    selves = mins.select("u", F.col("m").alias("w"))
    return children.union(selves).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components over an undirected edge list via the
    ALTERNATING large-star/small-star contraction (Kiveris et al.,
    SoCC'14). Returns (v, label) where label is the smallest vertex id
    in v's component — the duplicate-cluster primitive behind dedup
    keeper election (queries/dedup.py wraps it with minhash edges).

    Edges are symmetrized internally (passing one or both directions
    of each undirected edge is equivalent). Singleton vertices are
    omitted — they can't cluster; union the vertex dim back in if
    needed.

    Scale: converges in O(log n) rounds REGARDLESS of component
    diameter — unlike min-label propagation, whose round count is the
    graph diameter and which silently splits long path/chain
    components (version-chained near-dup pages) past the round budget.
    Each round is two star contractions (a groupBy + an equi-join
    each) plus a constant-size fingerprint aggregation; localCheckpoint
    truncates lineage per round (the classic Spark iterative pitfall:
    an unbounded plan re-optimizes and can re-execute the whole
    history each iteration). max_iters=30 covers any graph that fits
    in 2^30 vertices per component with margin; if the budget is ever
    exhausted while the edge set is still moving, ConvergenceError is
    raised — never a silently split clustering.
    """
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("w"),
        )
        .distinct()
        .localCheckpoint()
    )
    prev = _edge_fingerprint(e)
    converged = e.isEmpty()
    for _ in range(max_iters):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_fingerprint(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise ConvergenceError(
            f"connected_components still changing after {max_iters} "
            "alternating large-star/small-star rounds"
        )
    # belt-and-braces: a stable edge set must be a star forest — each
    # child has exactly one root edge, and no root is itself a child.
    # Two constant-output aggregations; a violation means the labels
    # below would be ambiguous, so fail loudly instead.
    multi_parent = not (
        e.groupBy("u").agg(F.count(F.lit(1)).alias("c")).where("c > 1").isEmpty()
    )
    chained = not (
        e.alias("a")
        .join(e.alias("b"), F.col("a.w") == F.col("b.u"), "left_semi")
        .isEmpty()
    )
    if multi_parent or chained:
        raise ConvergenceError(
            "connected_components fingerprint stabilized on a non-star "
            f"edge set (multi_parent={multi_parent}, chained={chained})"
        )
    # the fixed point is a forest of stars rooted at each component's
    # minimum: children appear as (child=u, root=w), roots only as w
    children = e.select(F.col("u").alias("v"), F.col("w").alias("label"))
    roots = e.select(F.col("w").alias("v"), F.col("w").alias("label")).distinct()
    return children.union(roots)


def connected_components_py(edges: list[tuple]) -> dict:
    """Union-find reference (property tests): min vertex id per
    component over the same symmetric edge list, restricted to
    vertices that appear in an edge."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}
