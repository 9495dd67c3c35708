"""Vectorised NumPy twins of ``oracle/numpy_ref.py`` and networkx
answers, used to check every call's result outside the timed window.

The repo oracles loop in Python per member; these compute the same
definitions with ``bincount``/``minimum.at`` so they finish in well
under a second on the benchmark inputs.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from perfbench.inputs import Incidence


def _compact_edges(inc: Incidence) -> tuple[np.ndarray, int]:
    """Edge index in [0, ne) for every incidence row (rows are sorted by
    edge_id, so this is a running count of edge starts)."""
    starts = np.r_[True, inc.edge_id[1:] != inc.edge_id[:-1]]
    return np.cumsum(starts) - 1, int(starts.sum())


def lp_labels(inc: Incidence, init: np.ndarray, supersteps: int,
              max_labels: int = 10) -> np.ndarray:
    """Labels after ``supersteps`` reference LP supersteps from ``init``
    (numpy_ref.oracle_superstep: unit votes, labels outside
    [0, max_labels) ignored, smallest label wins ties, all-zero counts
    give label 0)."""
    e, ne = _compact_edges(inc)
    v = inc.vertex_id
    nv = init.size
    labels = np.asarray(init, dtype=np.int64)
    for _ in range(supersteps):
        lv = labels[v]
        ok = (lv >= 0) & (lv < max_labels)
        counts = np.bincount(e[ok] * max_labels + lv[ok], minlength=ne * max_labels)
        edge_labels = counts.reshape(ne, max_labels).argmax(axis=1)
        counts = np.bincount(v * max_labels + edge_labels[e], minlength=nv * max_labels)
        labels = counts.reshape(nv, max_labels).argmax(axis=1)
    return labels


def pagerank(inc: Incidence, damping: float = 0.85, tol: float = 1e-12,
             max_iterations: int = 1000) -> np.ndarray:
    """numpy_ref.oracle_hypergraph_pagerank: the vertex -> edge -> vertex
    walk with uniform choices and dangling mass spread uniformly."""
    e, ne = _compact_edges(inc)
    v = inc.vertex_id
    nv = inc.num_vertices
    degree = np.bincount(v, minlength=nv).astype(np.float64)
    size = np.bincount(e, minlength=ne).astype(np.float64)
    inv_degree = np.divide(1.0, degree, out=np.zeros(nv), where=degree > 0)
    rank = np.full(nv, 1.0 / nv)
    for _ in range(max_iterations):
        mass = np.bincount(e, weights=(rank * inv_degree)[v], minlength=ne) / size
        new = np.bincount(v, weights=mass[e], minlength=nv)
        new += rank[degree == 0].sum() / nv
        new = (1.0 - damping) / nv + damping * new
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < tol:
            break
    return rank


def components(inc: Incidence) -> np.ndarray:
    """numpy_ref.oracle_connected_components: component id = smallest
    vertex id in the component; degree-0 vertices are their own."""
    e, ne = _compact_edges(inc)
    v = inc.vertex_id
    comp = np.arange(inc.num_vertices, dtype=np.int64)
    while True:
        edge_min = np.full(ne, np.iinfo(np.int64).max)
        np.minimum.at(edge_min, e, comp[v])
        new = comp.copy()
        np.minimum.at(new, v, edge_min[e])
        new = new[new]  # pointer jumping
        if np.array_equal(new, comp):
            return comp
        comp = new


def clique_graph(inc: Incidence):
    """networkx graph of the clique expansion: {u, v} iff u != v share a
    hyperedge."""
    import networkx as nx

    e, _ = _compact_edges(inc)
    v = inc.vertex_id
    bounds = np.flatnonzero(np.r_[True, e[1:] != e[:-1], True])
    g = nx.Graph()
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        members = v[lo:hi].tolist()
        g.add_edges_from(
            (a, b) for i, a in enumerate(members) for b in members[i + 1:]
        )
    return g


def cooccur_answers(inc: Incidence, k: int) -> dict:
    """Seed-free answers of the co-occurrence family: pair count,
    triangle count, coreness histogram over all vertices (isolated ones
    have coreness 0) and the k-truss edge count."""
    import networkx as nx

    g = clique_graph(inc)
    core = nx.core_number(g)
    hist = Counter(core.values())
    hist[0] += inc.num_vertices - g.number_of_nodes()
    return {
        "pairs": g.number_of_edges(),
        "triangles": sum(nx.triangles(g).values()) // 3,
        "coreness_hist": {str(c): n for c, n in sorted(hist.items()) if n},
        "ktruss_edges": nx.k_truss(g, k).number_of_edges(),
    }
