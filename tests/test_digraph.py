"""Plain edge-table algorithms vs NumPy oracles."""

from __future__ import annotations

import numpy as np

from hypergraph_gpu_label_propagation_spark.operators.digraph import (
    connected_components_edges,
    lp_edges,
    pagerank_edges,
    triangle_count_edges,
)
from hypergraph_gpu_label_propagation_spark.oracle import (
    oracle_label_propagation,
    oracle_triangle_count,
)


def _oracle_pagerank_directed(edge_list, n, d=0.85, iters=200, tol=1e-12):
    out = [[] for _ in range(n)]
    for s, t in edge_list:
        out[s].append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        new = np.zeros(n)
        dang = 0.0
        for v in range(n):
            if out[v]:
                share = r[v] / len(out[v])
                for t in out[v]:
                    new[t] += share
            else:
                dang += r[v]
        new = (1 - d) / n + d * (new + dang / n)
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return r


def _edges_df(spark, edge_list):
    return spark.createDataFrame(edge_list, "src long, dst long")


def test_pagerank_edges_allclose(spark):
    rng = np.random.default_rng(3)
    n = 40
    edge_list = list({(int(a), int(b)) for a, b in rng.integers(0, n, size=(150, 2)) if a != b})
    df = _edges_df(spark, edge_list)
    res = pagerank_edges(df, tol=1e-10)
    # engine universe = vertices appearing in edges; oracle over full range
    want = _oracle_pagerank_directed(edge_list, n)
    got = {r["vertex_id"]: r["rank"] for r in res.ranks.collect()}
    present = sorted(got)
    # isolated vertices absent from the edge table are out of universe;
    # compare on the present set after renormalizing the oracle
    w = np.array([want[v] for v in present])
    g = np.array([got[v] for v in present])
    assert res.converged
    assert np.allclose(g / g.sum(), w / w.sum(), atol=1e-6)


def test_connected_components_edges(spark):
    edge_list = [(0, 1), (1, 2), (5, 6), (7, 8), (8, 9), (9, 7)]
    df = _edges_df(spark, edge_list)
    res = connected_components_edges(df)
    got = {r["vertex_id"]: r["component"] for r in res.components.collect()}
    assert res.converged
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 7: 7, 8: 7, 9: 7}


def test_triangle_count_edges(spark):
    # K4 on {0..3} plus a pendant edge
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = _edges_df(spark, k4 + [(3, 9)])
    assert triangle_count_edges(df).collect()[0]["n_triangles"] == 4
    assert triangle_count_edges(_edges_df(spark, [(0, 1), (1, 2)])).collect()[0][
        "n_triangles"
    ] == 0
    # ids outside [0, 2^31): the same K4 + pendant relabelled, given in
    # both directions and with a self-loop
    ids = {0: -(2**31) - 1, 1: -1, 2: 2**31, 3: 2**32 + 1, 9: 2**40}
    relabelled = [(ids[a], ids[b]) for a, b in k4 + [(3, 9)]]
    messy = relabelled + [(b, a) for a, b in relabelled] + [(ids[2], ids[2])]
    assert triangle_count_edges(_edges_df(spark, messy)).collect()[0]["n_triangles"] == 4
    # no triangle, but a packed key would read the wedge 1-3-(2^32 + 5)'s
    # closing pair (1, 2^32 + 5) as the edge (2, 5)
    alias = [(1, 3), (3, 2**32 + 5), (2, 5)]
    assert triangle_count_edges(_edges_df(spark, alias)).collect()[0]["n_triangles"] == 0


def test_lp_edges_matches_size2_hypergraph_oracle(spark):
    rng = np.random.default_rng(17)
    n = 30
    edge_list = list({(int(a), int(b)) for a, b in rng.integers(0, n, size=(60, 2)) if a != b})
    init = (np.arange(n) % 5).astype(np.int32)
    init_df = spark.createDataFrame(
        [(i, int(l)) for i, l in enumerate(init)], "vertex_id long, label int"
    )
    res = lp_edges(_edges_df(spark, edge_list), init_df, max_labels=5)
    want = oracle_label_propagation([list(e) for e in edge_list], init, n, max_labels=5)
    got = {r["vertex_id"]: r["label"] for r in res.labels.collect()}
    assert [got[v] for v in range(n)] == want.labels.tolist()
    assert res.iterations == want.iterations


def test_self_loop_vertices_are_singleton_components(spark):
    # regression: universe must come from the original edges — vertices
    # whose only edges are self-loops vanish from the symmetrized
    # adjacency but are still singleton components
    loops = _edges_df(spark, [(1, 1), (2, 2), (3, 4)])
    res = connected_components_edges(loops)
    got = sorted((r["vertex_id"], r["component"]) for r in res.components.collect())
    assert got == [(1, 1), (2, 2), (3, 3), (4, 3)]


def test_hits_properties(spark):
    """HITS on a star src->hub: the sink with all in-edges takes all
    authority; the sources share hub mass; both vectors sum to 1."""
    from pyspark.sql import functions as F

    from hypergraph_gpu_label_propagation_spark.operators.digraph import hits_edges

    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (3, 4)], "src long, dst long"
    )
    out = {r["vertex_id"]: (r["hub"], r["auth"]) for r in hits_edges(edges, 10).collect()}
    hubs = sum(h for h, _ in out.values())
    auths = sum(a for _, a in out.values())
    assert abs(hubs - 1.0) < 1e-6 and abs(auths - 1.0) < 1e-6
    assert out[0][1] > 0.7, "sink 0 should dominate authority"
    assert out[0][0] == 0.0, "sink has no out-edges -> zero hub"
    assert out[3][0] > out[1][0], "vertex 3 points at two authorities"
