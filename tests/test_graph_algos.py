"""PageRank / connected components / triangle counting vs NumPy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import incidence_from_edges

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.components import connected_components
from hypergraph_gpu_label_propagation_spark.operators.pagerank import hypergraph_pagerank
from hypergraph_gpu_label_propagation_spark.operators.triangles import (
    clique_expansion,
    per_vertex_triangle_count,
    triangle_count,
)
from hypergraph_gpu_label_propagation_spark.oracle import (
    oracle_connected_components,
    oracle_hypergraph_pagerank,
    oracle_triangle_count,
)


def _rng_hypergraph(seed, nv=40, ne=80, kmin=2, kmax=5):
    rng = np.random.default_rng(seed)
    return [
        sorted(rng.choice(nv, size=int(rng.integers(kmin, kmax + 1)), replace=False).tolist())
        for _ in range(ne)
    ]


def _freeze(spark, edges, nv):
    return Hypergraph.freeze(
        spark, incidence_from_edges(spark, edges), num_vertices=nv, num_edges=len(edges),
        num_partitions=8,
    )


def test_pagerank_allclose(spark):
    nv = 40
    edges = _rng_hypergraph(5, nv=nv, ne=60)
    # add an isolated vertex by using nv+1 universe
    hg = _freeze(spark, edges, nv + 1)
    res = hypergraph_pagerank(hg, damping=0.85, tol=1e-12)
    got = np.zeros(nv + 1)
    for r in res.ranks.collect():
        got[r["vertex_id"]] = r["rank"]
    want = oracle_hypergraph_pagerank(edges, nv + 1, damping=0.85, tol=1e-12)
    assert res.converged
    assert abs(got.sum() - 1.0) < 1e-9
    assert np.allclose(got, want, atol=1e-6)  # north-rule bar
    hg.unpersist()


def test_connected_components_exact(spark):
    edges = [[0, 1, 2], [2, 3], [5, 6], [7, 8], [8, 9]]
    nv = 11
    hg = _freeze(spark, edges, nv)
    res = connected_components(hg)
    got = {r["vertex_id"]: r["component"] for r in res.components.collect()}
    want = oracle_connected_components(edges, nv)
    assert res.converged
    assert [got[v] for v in range(nv)] == want.tolist()
    hg.unpersist()


def test_connected_components_random(spark):
    nv = 60
    edges = _rng_hypergraph(8, nv=nv, ne=25)  # sparse -> several components
    hg = _freeze(spark, edges, nv)
    res = connected_components(hg)
    got = {r["vertex_id"]: r["component"] for r in res.components.collect()}
    want = oracle_connected_components(edges, nv)
    assert [got[v] for v in range(nv)] == want.tolist()
    hg.unpersist()


def test_triangle_count_exact(spark):
    for edges, nv in [
        ([[0, 1, 2, 3]], 4),                      # K4 -> 4 triangles
        ([[0, 1], [1, 2], [2, 3]], 4),            # path -> 0
        ([[0, 1], [1, 2], [0, 2]], 3),            # 1 triangle
    ]:
        hg = _freeze(spark, edges, nv)
        got = triangle_count(hg).collect()[0]["n_triangles"]
        assert got == oracle_triangle_count(edges, nv)
        hg.unpersist()


def test_triangle_count_random_and_per_vertex(spark):
    nv = 30
    edges = _rng_hypergraph(13, nv=nv, ne=40, kmax=4)
    hg = _freeze(spark, edges, nv)
    total = triangle_count(hg).collect()[0]["n_triangles"]
    assert total == oracle_triangle_count(edges, nv)
    per = per_vertex_triangle_count(hg)
    rows = {r["vertex_id"]: r["n_triangles"] for r in per.collect()}
    assert len(rows) == nv
    assert sum(rows.values()) == 3 * total  # each triangle counted at 3 vertices
    hg.unpersist()


def test_triangle_max_edge_size_cap(spark):
    # capping excludes the K4 hyperedge entirely; the capped expansion
    # is passed as adj=, and must not leak into a later no-adj call
    edges = [[0, 1, 2, 3], [0, 1], [1, 2], [0, 2]]
    hg = _freeze(spark, edges, 4)
    capped = clique_expansion(hg, 3).localCheckpoint(eager=True)
    assert triangle_count(hg, adj=capped).collect()[0]["n_triangles"] == 1
    assert triangle_count(hg).collect()[0]["n_triangles"] == 4
    hg.unpersist()


def test_cc_pointer_jumping_fewer_rounds_on_path(spark):
    """Pointer jumping: same components as plain min-propagation on a
    path hypergraph, in O(log diameter) instead of O(diameter) rounds."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.components import (
        connected_components,
    )

    n = 120  # path 0-1-2-...-119 as size-2 hyperedges
    rows = [(e, e) for e in range(n - 1)] + [(e, e + 1) for e in range(n - 1)]
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc, num_vertices=n, num_edges=n - 1, num_partitions=4)

    fast = connected_components(hg, pointer_jumping=True)
    slow = connected_components(hg, pointer_jumping=False)
    assert fast.converged and slow.converged
    f = sorted(map(tuple, fast.components.collect()))
    s = sorted(map(tuple, slow.components.collect()))
    assert f == s
    assert all(c == 0 for _, c in f)  # one path component rooted at 0
    assert fast.iterations < slow.iterations / 2, (
        f"jumping {fast.iterations} vs plain {slow.iterations}"
    )
    hg.unpersist()


def test_kcore_peeling_cascade(spark):
    """k=3 core of K5 plus a pendant chain: the chain peels away over
    multiple cascading rounds; the clique survives."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.kcore import k_core

    clique = [[a, b] for a in range(5) for b in range(a + 1, 5)]
    chain = [[0, 5], [5, 6], [6, 7]]
    edges = clique + chain
    rows = [(e, v) for e, ms in enumerate(edges) for v in ms]
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc, num_vertices=8, num_edges=len(edges), num_partitions=2)

    res = k_core(hg, k=3)
    got = {r["vertex_id"]: r["in_core"] for r in res.membership.collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 5: 0, 6: 0, 7: 0}
    assert res.core_size == 5
    assert res.iterations >= 2  # 7 peels, then 6, then 5 — cascading rounds
    # k above the clique degree empties the core
    res5 = k_core(hg, k=5)
    assert res5.core_size == 0
    hg.unpersist()


def _peel_coreness(edges, nv):
    """Independent reference: textbook Batagelj-Zaversnik peel on the
    clique-expanded co-occurrence graph (NOT the h-index iteration the
    engine uses — different algorithm, same answer)."""
    nbrs = [set() for _ in range(nv)]
    for ms in edges:
        for a in ms:
            for b in ms:
                if a != b:
                    nbrs[a].add(b)
    core = [len(n) for n in nbrs]
    alive = set(range(nv))
    k = 0
    while alive:
        while True:
            drop = [v for v in alive if len(nbrs[v] & alive) < k]
            if not drop:
                break
            for v in drop:
                core[v] = k - 1
                alive.discard(v)
        if alive and all(len(nbrs[v] & alive) >= k for v in alive):
            k += 1
    return core


def test_coreness_clique_plus_chain(spark):
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    clique = [[a, b] for a in range(5) for b in range(a + 1, 5)]
    chain = [[0, 5], [5, 6], [6, 7]]
    edges = clique + chain
    hg = _freeze(spark, edges, 8)
    res = coreness(hg)
    got = {r["vertex_id"]: r["coreness"] for r in res.coreness.collect()}
    # K5 members have coreness 4; the pendant chain has coreness 1
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4, 5: 1, 6: 1, 7: 1}
    assert res.changes_per_iter[-1] == 0  # stopped at the fixed point
    hg.unpersist()


def test_coreness_random_matches_peel(spark):
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    nv = 40
    edges = _rng_hypergraph(11, nv=nv, ne=70)
    hg = _freeze(spark, edges, nv)
    res = coreness(hg)
    got = [0] * nv
    for r in res.coreness.collect():
        got[r["vertex_id"]] = r["coreness"]
    want = _peel_coreness(edges, nv)
    # isolated vertices: peel reference gives degree 0 -> stays 0
    assert got == want, f"h-index fixed point != peel: {got} vs {want}"
    # consistency with the single-k operator: k-core(k) == {v: coreness >= k}
    from hypergraph_gpu_label_propagation_spark.operators.kcore import k_core

    for k in (2, 3):
        in_core = {r["vertex_id"] for r in k_core(hg, k=k).membership.collect()
                   if r["in_core"] == 1}
        assert in_core == {v for v in range(nv) if want[v] >= k}
    hg.unpersist()


def test_personalized_pagerank(spark):
    from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
        personalized_pagerank,
    )

    nv = 40
    edges = _rng_hypergraph(3, nv=nv, ne=60)
    hg = _freeze(spark, edges, nv)
    seeds = [0, 5]
    res = personalized_pagerank(hg, seeds, tol=1e-12)
    got = np.zeros(nv)
    for r in res.ranks.collect():
        got[r["vertex_id"]] = r["rank"]
    assert abs(got.sum() - 1.0) < 1e-9  # probability mass conserved

    # independent NumPy reference of the same two-step walk + seed restart
    deg = np.zeros(nv)
    for ms in edges:
        for v in ms:
            deg[v] += 1
    s = np.zeros(nv)
    s[seeds] = 1.0 / len(seeds)
    r = s.copy()
    d = 0.85
    for _ in range(300):
        contrib = np.where(deg > 0, r / np.maximum(deg, 1), 0.0)
        gathered = np.zeros(nv)
        for ms in edges:
            mass = sum(contrib[v] for v in ms) / len(ms)
            for v in ms:
                gathered[v] += mass
        dm = r[deg == 0].sum()
        r = ((1 - d) + d * dm) * s + d * gathered
    assert np.allclose(got, r, atol=1e-8), np.abs(got - r).max()
    # locality: total mass near seeds exceeds the uniform share
    assert got[seeds].sum() > 2.0 / nv
    hg.unpersist()


def test_modularity_known_values(spark):
    from hypergraph_gpu_label_propagation_spark.operators.triangles import modularity
    from tests.conftest import labels_df

    # two disjoint triangles, labeled by component: the classic perfect
    # 2-community partition has Q = 1/2 (e_c/m = 1/2 each, d_c/2m = 1/2)
    edges = [[0, 1], [1, 2], [0, 2], [3, 4], [4, 5], [3, 5]]
    hg = _freeze(spark, edges, 6)
    perfect = labels_df(spark, [0, 0, 0, 1, 1, 1])
    q = modularity(hg, perfect).collect()[0]["modularity"]
    assert abs(q - 0.5) < 1e-9, q
    # everything in one community -> Q = 0 by definition
    allsame = labels_df(spark, [0] * 6)
    q0 = modularity(hg, allsame).collect()[0]["modularity"]
    assert abs(q0 - 0.0) < 1e-9, q0
    # mixing the communities strictly lowers Q below the perfect split
    mixed = labels_df(spark, [0, 1, 0, 1, 0, 1])
    qm = modularity(hg, mixed).collect()[0]["modularity"]
    assert qm < 0.5
    hg.unpersist()


def test_ktruss_clique_plus_chain(spark):
    """K5 edges each sit in 3 triangles -> they form the 5-truss; the
    pendant chain (support 0) peels immediately at any k >= 3."""
    from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss

    clique = [[a, b] for a in range(5) for b in range(a + 1, 5)]
    chain = [[0, 5], [5, 6], [6, 7]]
    hg = _freeze(spark, clique + chain, 8)
    res = k_truss(hg, k=5)
    got = {(r["u"], r["v"]): r["in_truss"] for r in res.membership.collect()}
    for (u, v), flag in got.items():
        in_k5 = u < 5 and v < 5
        assert flag == (1 if in_k5 else 0), (u, v, flag)
    assert res.truss_size == 10  # C(5,2)
    # k above the clique's truss empties it
    assert k_truss(hg, k=6).truss_size == 0
    hg.unpersist()


def test_neighborhood_sampling_deterministic_and_bounded(spark):
    """GraphSAGE-style hash-ranked fanout sampling: per-hop fanout caps
    hold exactly, output is a subset of the real incidence, the sample
    is deterministic across runs, and different seeds differ."""
    from pyspark.sql import functions as F

    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.sampling_graph import (
        sample_neighborhood,
    )

    rows = sorted({(e, (3 * e + v) % 40) for e in range(60) for v in range(6)})
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    seeds = spark.createDataFrame([(0,), (7,), (39,)], "seed_id long")

    out = sample_neighborhood(hg, seeds, fanouts=[(2, 3), (1, 2)], seed=5)
    got = out.collect()
    assert all(r["hop"] in (1, 2) for r in got)
    # sampled rows are REAL incidence rows
    assert (
        out.select("edge_id", "vertex_id").distinct()
        .join(inc, ["edge_id", "vertex_id"], "left_anti").count() == 0
    )
    # fanout caps: <= 2 edges per (seed, frontier vertex) at hop 1 -> at
    # most 2 distinct edges per seed; <= 3 members per (seed, edge)
    h1 = out.filter("hop = 1")
    per_edge = h1.groupBy("seed_id", "edge_id").agg(F.count("*").alias("n"))
    assert per_edge.filter("n > 3").count() == 0
    per_seed_edges = h1.select("seed_id", "edge_id").distinct().groupBy(
        "seed_id"
    ).agg(F.count("*").alias("n"))
    assert per_seed_edges.filter("n > 2").count() == 0
    # determinism + seed sensitivity
    again = sorted(map(tuple, sample_neighborhood(
        hg, seeds, fanouts=[(2, 3), (1, 2)], seed=5).collect()))
    assert sorted(map(tuple, got)) == again
    other = sorted(map(tuple, sample_neighborhood(
        hg, seeds, fanouts=[(2, 3), (1, 2)], seed=6).collect()))
    assert other != again
    import pytest as _p
    with _p.raises(ValueError):
        sample_neighborhood(hg, seeds, fanouts=[])
    hg.unpersist()


def test_induced_subgraph_and_random_walks(spark):
    from pyspark.sql import functions as F

    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.sampling_graph import (
        induced_subgraph,
        random_walks,
    )

    rows = sorted({(e, (3 * e + v) % 40) for e in range(60) for v in range(6)})
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)

    vs = spark.createDataFrame([(v,) for v in range(0, 40, 2)], "vertex_id long")
    sub = induced_subgraph(hg, vs)
    # only selected vertices appear; every surviving edge has >= 2 members
    assert sub.filter(F.col("vertex_id") % 2 == 1).count() == 0
    sizes = sub.groupBy("edge_id").agg(F.count("*").alias("n"))
    assert sizes.filter("n < 2").count() == 0
    # subset of real incidence
    assert sub.join(inc, ["edge_id", "vertex_id"], "left_anti").count() == 0

    seeds = spark.createDataFrame([(0,), (17,)], "seed_id long")
    w = random_walks(hg, seeds, walk_length=4, seed=9)
    got = w.collect()
    # one row per (seed, step), steps 0..4, starting at the seed
    per = {(r["seed_id"], r["step"]): r["vertex_id"] for r in got}
    assert len(per) == len(got) == 10
    assert per[(0, 0)] == 0 and per[(17, 0)] == 17
    # consecutive vertices share a hyperedge (a legal walk)
    by_edge = {}
    for e, v in rows:
        by_edge.setdefault(v, set()).add(e)
    for s in (0, 17):
        for k in range(4):
            a, b = per[(s, k)], per[(s, k + 1)]
            assert by_edge[a] & by_edge[b], (s, k, a, b)
    # deterministic
    again = sorted(map(tuple, random_walks(hg, seeds, walk_length=4, seed=9).collect()))
    assert sorted(map(tuple, got)) == again
    hg.unpersist()


def test_neighborhood_sampling_exact_python_parity(spark):
    """The hash-ranked choices replicate EXACTLY in pure python
    (h60 = int(md5(s)[:15], 16)), so the whole sample is verifiable
    choice-by-choice, not just structurally."""
    import hashlib

    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.sampling_graph import (
        sample_neighborhood,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = sorted({(e, (5 * e + v) % 30) for e in range(40) for v in range(5)})
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    seeds = [2, 11, 29]
    fanouts, seed = [(2, 2), (2, 2)], 13

    # pure-python replica of sample_neighborhood
    by_vertex, by_edge = {}, {}
    for e, v in rows:
        by_vertex.setdefault(v, []).append(e)
        by_edge.setdefault(e, []).append(v)
    expected = set()
    frontier = {s: {s} for s in seeds}
    for hop, (f_e, f_v) in enumerate(fanouts, start=1):
        pre = f"{seed}:{hop}"
        nxt = {s: set() for s in seeds}
        for s, verts in frontier.items():
            picked_edges = set()
            for v in verts:
                cand = sorted(
                    by_vertex.get(v, []),
                    key=lambda e: (h60(f"{pre}:e:{s}:{v}:{e}"), e),
                )[:f_e]
                picked_edges.update(cand)
            for e in picked_edges:
                members = sorted(
                    by_edge[e], key=lambda v: (h60(f"{pre}:v:{s}:{e}:{v}"), v)
                )[:f_v]
                for v in members:
                    expected.add((s, hop, e, v))
                    nxt[s].add(v)
        frontier = nxt

    seeds_df = spark.createDataFrame([(s,) for s in seeds], "seed_id long")
    got = set(map(tuple, sample_neighborhood(hg, seeds_df, fanouts, seed).collect()))
    assert got == expected
    hg.unpersist()


def test_random_walks_exact_python_parity(spark):
    import hashlib

    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.sampling_graph import (
        random_walks,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = sorted({(e, (5 * e + v) % 30) for e in range(40) for v in range(5)})
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    by_vertex, by_edge = {}, {}
    for e, v in rows:
        by_vertex.setdefault(v, []).append(e)
        by_edge.setdefault(e, []).append(v)

    seeds, L, sd = [0, 9, 23], 5, 4
    expected = {(s, 0, s) for s in seeds}
    cur = {s: s for s in seeds}
    for step in range(1, L + 1):
        pre = f"{sd}:w{step}"
        for s, v in list(cur.items()):
            edges = by_vertex.get(v, [])
            if not edges:
                del cur[s]
                continue
            e = min(edges, key=lambda e: (h60(f"{pre}:e:{s}:{e}"), e))
            nv = min(by_edge[e], key=lambda v2: (h60(f"{pre}:v:{s}:{v2}"), v2))
            expected.add((s, step, nv))
            cur[s] = nv

    seeds_df = spark.createDataFrame([(s,) for s in seeds], "seed_id long")
    got = set(map(tuple, random_walks(hg, seeds_df, L, seed=sd).collect()))
    assert got == expected
    hg.unpersist()


def test_ranked_top_hot_key_cap_is_exact(spark):
    """The rank-hash pre-filter in _ranked_top (r04 verdict #5) is an
    exactness-preserving optimization: on a skewed graph (one vertex in
    ~every edge) the capped path with an aggressive alpha=1 (maximally
    exercising BOTH the filter and the shortfall fallback) returns
    byte-identical samples to the unfiltered full-window reference."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.dedup import h60
    from hypergraph_gpu_label_propagation_spark.operators.sampling_graph import (
        _ranked_top,
        sample_neighborhood,
    )

    # hub vertex 0 sits in every edge; plus a sprinkle of normal rows
    rows = sorted(
        {(e, 0) for e in range(400)}
        | {(e, 1 + (3 * e + v) % 25) for e in range(400) for v in range(3)}
    )
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    seeds = spark.createDataFrame([(0,), (5,), (13,)], "seed_id long")

    def plain_top(df, part_cols, rank_expr, k, tie_col):
        w = Window.partitionBy(*part_cols).orderBy(
            rank_expr.asc(), F.col(tie_col).asc()
        )
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
        )

    cand = hg.incidence_by_vertex.join(
        seeds.select(F.col("seed_id"), F.col("seed_id").alias("vertex_id")),
        "vertex_id",
    ).select("seed_id", "vertex_id", "edge_id")
    rank = h60(F.concat_ws(":", F.lit("t:e"), "seed_id", "vertex_id", "edge_id"))
    for k in (1, 3, 7):
        for alpha in (1, 8):
            capped = set(map(tuple, _ranked_top(
                cand, ["seed_id", "vertex_id"], rank, k, "edge_id", alpha=alpha
            ).select("seed_id", "vertex_id", "edge_id").collect()))
            ref = set(map(tuple, plain_top(
                cand, ["seed_id", "vertex_id"], rank, k, "edge_id"
            ).select("seed_id", "vertex_id", "edge_id").collect()))
            assert capped == ref, (k, alpha)
    # end-to-end through the operator on the hub-heavy graph
    out = sample_neighborhood(hg, seeds, fanouts=[(3, 4), (2, 2)], seed=3)
    assert out.count() > 0
    assert (
        out.select("edge_id", "vertex_id").distinct()
        .join(inc, ["edge_id", "vertex_id"], "left_anti").count() == 0
    )
    hg.unpersist()


def test_coreness_fused_steps_equivalent(spark):
    """fused_steps applies K h-index steps per materialized round; the
    fixed point (and therefore every coreness value) must be identical
    to the step-per-round run — monotone non-increasing values make the
    round-boundary stop rule sound at any K."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    import math

    rows = sorted({(e, (7 * e + v) % 50) for e in range(80) for v in range(4)})
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    base_run = coreness(hg, fused_steps=1)
    base = sorted(map(tuple, base_run.coreness.collect()))
    for k in (2, 3):
        fused = coreness(hg, fused_steps=k)
        assert sorted(map(tuple, fused.coreness.collect())) == base, k
        # K steps per round -> at most ceil(base_rounds/K)+1 materialized
        # rounds (the +1 is the final zero-change confirmation round)
        assert fused.iterations <= math.ceil(base_run.iterations / k) + 1, (
            k, fused.iterations, base_run.iterations,
        )
    hg.unpersist()


def _jacobi_changes(edges, nv):
    """Change count of every Jacobi h-index sweep from the capped start
    c0 = min(deg, H_g), ending with the zero-change sweep — the
    sequence a one-sweep-per-round run must report."""
    nbrs = [set() for _ in range(nv)]
    for ms in edges:
        for a in ms:
            nbrs[a].update(b for b in ms if b != a)
    live = [v for v in range(nv) if nbrs[v]]
    degs = sorted((len(nbrs[v]) for v in live), reverse=True)
    h_g = sum(1 for i, d in enumerate(degs) if d >= i + 1)
    c = {v: min(len(nbrs[v]), h_g) for v in live}
    out = []
    while True:
        nxt = {}
        for v in live:
            vals = sorted((c[u] for u in nbrs[v]), reverse=True)
            nxt[v] = sum(1 for i, x in enumerate(vals) if x >= i + 1)
        out.append(sum(nxt[v] != c[v] for v in live))
        c = nxt
        if out[-1] == 0:
            return out


def test_coreness_sweep_modes_identical(spark):
    """The one sweep shape at fused_steps 1 and 2 reaches the exact
    coreness of the textbook peel; at fused_steps=1 every round is one
    Jacobi sweep, so the change counts are the sweep-by-sweep ones."""
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    rows = sorted(
        {(e, (11 * e + 3 * v) % 90) for e in range(160) for v in range(5)}
        | {(200 + e, (e + v) % 12) for e in range(30) for v in range(4)}
    )
    members: dict[int, list[int]] = {}
    for e, v in rows:
        members.setdefault(e, []).append(v)
    edges = list(members.values())
    nv = 90
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc, num_vertices=nv)
    want = _peel_coreness(edges, nv)
    runs = {k: coreness(hg, fused_steps=k) for k in (1, 2)}
    for k, r in runs.items():
        got = [0] * nv
        for row in r.coreness.collect():
            got[row["vertex_id"]] = row["coreness"]
        assert got == want, k
    assert runs[1].changes_per_iter == _jacobi_changes(edges, nv)
    hg.unpersist()
    # the fixture settles in one sweep; a path settles one vertex pair
    # per sweep from both ends, so its sequence pins the schedule
    path = [[i, i + 1] for i in range(12)]
    hg = _freeze(spark, path, 13)
    assert coreness(hg, fused_steps=1).changes_per_iter == _jacobi_changes(path, 13)
    hg.unpersist()


def test_coreness_singleton_edges_no_rounds(spark):
    """Edges that are all singletons expand to no co-occurrence pairs:
    every vertex has coreness 0 and no round runs."""
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    hg = _freeze(spark, [[0], [1], [2], [3]], 4)
    res = coreness(hg)
    assert sorted(map(tuple, res.coreness.collect())) == [(v, 0) for v in range(4)]
    assert res.iterations == 0
    assert res.changes_per_iter == []
    with pytest.raises(ValueError, match="fused_steps"):
        coreness(hg, fused_steps=0)  # no sweep would read as converged
    hg.unpersist()
