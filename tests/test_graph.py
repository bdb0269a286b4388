"""Unit tests for distributed connected components."""

import pytest
from pyspark.sql import functions as F

from etl_aws_spark.operators.graph import connected_components


def _cc(spark, n_vertices, edge_list, **kw):
    verts = spark.createDataFrame([(i,) for i in n_vertices], "id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    out = connected_components(verts, edges, **kw)
    return {r.id: r.component_id for r in out.collect()}


def test_two_branches_hooked_to_different_roots_merge(spark):
    # A<B<C<D with edges A-C, C-D, D-B: one-round min-hooking sends C->A
    # and D->B, and pure pointer jumping can never join the two trees.
    got = _cc(spark, [1, 2, 3, 4], [(1, 3), (3, 4), (4, 2)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_long_chain_converges(spark):
    n = 40
    got = _cc(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}


def test_exhausted_round_budget_raises(spark):
    # a 64-vertex path needs far more than one propagation step: returning
    # the partial closure would split the component silently
    n = 64
    with pytest.raises(RuntimeError, match="max_rounds=1 exhausted"):
        _cc(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)], max_rounds=1)


def test_disjoint_components_and_isolated_vertices(spark):
    got = _cc(
        spark,
        [1, 2, 3, 10, 11, 99],
        [(2, 1), (2, 3), (11, 10), (10, 10)],  # self-loop tolerated
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def _pr_numpy(n, edge_list, damping=0.85, n_iter=3):
    """Dense replay of the exact fixed-iteration recurrence pagerank() runs."""
    import numpy as np

    sym = set()
    for s, d in edge_list:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    nodes = sorted({s for s, _ in sym})
    idx = {v: i for i, v in enumerate(nodes)}
    out = np.zeros(len(nodes))
    for s, _ in sym:
        out[idx[s]] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(n_iter):
        nxt = np.full(len(nodes), (1.0 - damping) / len(nodes))
        for s, d in sym:
            nxt[idx[d]] += damping * r[idx[s]] / out[idx[s]]
        r = nxt
    return {v: r[i] for v, i in idx.items()}


def test_pagerank_matches_dense_replay(spark):
    from etl_aws_spark.operators.graph import pagerank

    edge_list = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1), (6, 1), (7, 2)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(edges, n_iter=3).collect()}
    want = _pr_numpy(7 + 1, edge_list)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # ranks form a probability distribution (no dangling mass leaks)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaves(spark):
    from etl_aws_spark.operators.graph import pagerank

    star = [(0, i) for i in range(1, 9)]
    edges = spark.createDataFrame(star, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(edges, n_iter=3).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0)


def test_triangle_stats_on_known_graph(spark):
    from etl_aws_spark.operators import graph

    # K4 on {0,1,2,3} (4 triangles, clustering 1.0 everywhere) plus a
    # pendant vertex 4 attached to 0 (no triangle, degree 1 -> NULL cc)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 4)],
        "s long, d long",
    )
    out = graph.triangle_stats(pairs).toPandas().set_index("id").sort_index()
    assert out.loc[0, "degree"] == 4 and out.loc[4, "degree"] == 1
    # each K4 vertex sits in 3 of the 4 triangles
    for v in range(4):
        assert out.loc[v, "n_triangles"] == 3
    assert out.loc[4, "n_triangles"] == 0
    # K4 vertices 1-3: cc = 2*3/(3*2) = 1.0; vertex 0 has the pendant:
    # 2*3/(4*3) = 0.5
    assert out.loc[1, "clustering"] == 1.0
    assert out.loc[0, "clustering"] == 0.5
    import pandas as pd

    assert pd.isna(out.loc[4, "clustering"])
    # global triangle count: sum of corners / 3
    assert out.n_triangles.sum() % 3 == 0 and out.n_triangles.sum() // 3 == 4


def test_blocked_cc_matches_iterative_closure(spark):
    from etl_aws_spark.operators.graph import connected_components_blocked

    # edges confined to blocks (the SemDeDup property): union-find per
    # block must equal the iterative global closure, including the
    # branches-hooked-to-different-roots shape and singleton vertices
    verts = spark.createDataFrame([(i,) for i in range(12)], "id long")
    edge_list = [  # block "x": 1<3<4<2 merge shape; block "y": chain
        (1, 3, "x"), (3, 4, "x"), (4, 2, "x"),
        (7, 8, "y"), (8, 9, "y"), (9, 9, "y"),  # self-loop tolerated
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long, blk string")
    got = {
        r.id: r.component_id
        for r in connected_components_blocked(verts, edges, "blk").collect()
    }
    ref = {
        r.id: r.component_id
        for r in connected_components(
            verts, edges.select("src", "dst")
        ).collect()
    }
    assert got == ref
    assert got[5] == 5 and got[11] == 11  # singletons label themselves
