"""Property test for the fixed-point PageRank operator: on randomized
directed graphs, the distributed join+aggregate power iteration must
produce EXACTLY the ranks of the sequential reference implementation
of the same integer recurrence — the distributed-vs-sequential
equivalence contract (PPJoin / token-budget pattern). Integer
arithmetic makes exact equality meaningful: any partition- or
order-dependence would show up as an off-by-one in a truncating
division sum."""

import random

import pytest

from goconnect_spark.operators.graph import (
    pagerank_fixed_point,
    pagerank_fixed_point_py,
)


def _random_edges(rng, n_vertices, n_edges):
    seen = set()
    while len(seen) < n_edges:
        s = rng.randrange(n_vertices)
        d = rng.randrange(n_vertices)
        if s != d:
            seen.add((s, d))
    return sorted(seen)


@pytest.mark.parametrize("seed,n_v,n_e,iters", [(3, 12, 30, 3), (11, 25, 80, 4), (29, 8, 14, 2)])
def test_pagerank_matches_sequential_reference(spark, seed, n_v, n_e, iters):
    rng = random.Random(seed)
    edges = _random_edges(rng, n_v, n_e)
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r.v: r.rank for r in pagerank_fixed_point(df, iters=iters).collect()}
    want = pagerank_fixed_point_py(edges, iters=iters)
    assert got == want


def test_pagerank_symmetric_graph_conserves_vertices(spark):
    # a symmetrized graph keeps every vertex in the rank table and the
    # total rank mass stays within base*|V| of scale*|V| (no dangling
    # leakage beyond truncation loss)
    und = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    ranks = {r.v: r.rank for r in pagerank_fixed_point(df, iters=3).collect()}
    assert set(ranks) == {0, 1, 2, 3}
    total = sum(ranks.values())
    scale = 1_000_000
    # truncating division loses < 1 unit per edge per iteration
    assert scale * 4 - 3 * len(edges) <= total <= scale * 4


@pytest.mark.parametrize("seed,n_v,n_e", [(7, 14, 10), (19, 16, 26), (37, 10, 5)])
def test_connected_components_matches_union_find(spark, seed, n_v, n_e):
    from goconnect_spark.operators.graph import (
        connected_components,
        connected_components_py,
    )

    rng = random.Random(seed)
    und = _random_edges(rng, n_v, n_e)
    sym = und + [(d, s) for s, d in und]
    df = spark.createDataFrame(sym, "src: long, dst: long")
    got = {r.v: r.label for r in connected_components(df, max_iters=50).collect()}
    want = connected_components_py(sym)
    assert got == want


def test_connected_components_long_path_beats_diameter(spark):
    # a 101-vertex path has diameter 100: min-label propagation needs
    # 100 rounds and SILENTLY split this component at max_iters=20
    # (the round-5 failure mode). The star-contraction algorithm must
    # solve it in O(log n) rounds — 10 is generous for n=101.
    from goconnect_spark.operators.graph import (
        connected_components,
        connected_components_py,
    )

    path = [(i, i + 1) for i in range(100)]
    sym = path + [(d, s) for s, d in path]
    df = spark.createDataFrame(sym, "src: long, dst: long")
    got = {r.v: r.label for r in connected_components(df, max_iters=10).collect()}
    assert got == connected_components_py(sym)
    assert set(got.values()) == {0}  # one component rooted at min id


def test_connected_components_nonconvergence_raises(spark):
    # exhausting the round budget while the edge set is still moving
    # must raise, never return a split clustering
    import pytest as _pytest

    from goconnect_spark.operators.graph import ConvergenceError, connected_components

    path = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(path, "src: long, dst: long")
    with _pytest.raises(ConvergenceError):
        connected_components(df, max_iters=1)


def test_connected_components_direction_and_selfloop_invariance(spark):
    # one-directional input, duplicate edges and self-loops must all
    # normalize away: the operator treats the list as undirected
    from goconnect_spark.operators.graph import (
        connected_components,
        connected_components_py,
    )

    und = [(5, 2), (2, 9), (7, 7), (9, 5), (1, 4), (4, 1)]
    df = spark.createDataFrame(und, "src: long, dst: long")
    got = {r.v: r.label for r in connected_components(df).collect()}
    sym = [(s, d) for s, d in und if s != d]
    sym += [(d, s) for s, d in sym]
    assert got == connected_components_py(sym)
