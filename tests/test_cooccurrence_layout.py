"""One co-occurrence layout per hypergraph
(operators/triangles.py::cooccurrence).

Triangles, coreness, k-core, k-truss and modularity all read the same
memoized layout: after each call ``cooccurrence(hg)`` is the same
object and the cache manager holds exactly one persisted symmetric
relation, and ``hg.unpersist()`` releases it.
"""

from __future__ import annotations

import networkx as nx
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness, k_core
from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
from hypergraph_gpu_label_propagation_spark.operators.triangles import (
    cooccurrence,
    modularity,
    per_vertex_triangle_count,
    triangle_count,
)
from tests.test_broadcast_rule import hg_small  # noqa: F401  (fixture)


def _symmetric_cached(spark) -> int:
    """Cache-manager entries whose plan unions the pair set with its
    swap (the layout's ``sym``; the fixture's incidence has no Union)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    cached = field.get(cm)
    return sum("Union" in cached.apply(i).plan().toString() for i in range(cached.size()))


def _run_family(hg) -> dict:
    """Each operator without ``adj``; the layout is checked after each."""
    base = _symmetric_cached(hg.spark)
    out, layouts = {}, []

    def check(name, value):
        out[name] = value
        layouts.append(cooccurrence(hg))
        assert layouts[-1] is layouts[0], name
        assert _symmetric_cached(hg.spark) - base == 1, name

    check("triangles", triangle_count(hg).collect()[0][0])
    check("per_vertex", per_vertex_triangle_count(hg).agg(F.sum("n_triangles")).collect()[0][0])
    labels = hg.vertices().select(
        "vertex_id", F.pmod("vertex_id", F.lit(10)).cast("int").alias("label")
    )
    check("modularity", modularity(hg, labels).collect()[0][0])
    core = coreness(hg)
    check("coreness", sorted(map(tuple, core.coreness.collect())))
    check("k_core", k_core(hg, 30).core_size)
    kt = k_truss(hg, 24)
    check("k_truss", kt.truss_size)
    hg.unpersist()
    assert _symmetric_cached(hg.spark) == base
    # the membership joins the layout's pairs, which outlive the release
    out["k_truss_kept"] = kt.membership.agg(F.sum("in_truss")).collect()[0][0]
    return out


def test_family_shares_one_layout(spark, hg_small):
    out = _run_family(hg_small)
    # networkx pins (tests/test_broadcast_rule.py fixture)
    assert out["triangles"] == 96_474
    assert out["per_vertex"] == 3 * 96_474
    assert out["k_core"] == 144
    assert out["k_truss"] == out["k_truss_kept"] == 4523
    assert max(c for _, c in out["coreness"]) >= 30
    # Newman Q of the vertex_id % 10 labelling, recomputed by networkx
    # on the same pairs
    g = nx.Graph()
    g.add_edges_from(map(tuple, cooccurrence(hg_small).pairs.collect()))
    parts = [{v for v in g if v % 10 == c} for c in range(10)]
    want = nx.community.modularity(g, [p for p in parts if p])
    assert abs(out["modularity"] - want) <= 1e-6, (out["modularity"], want)


def test_zero_pair_hypergraph(spark):
    """Singleton edges only: an empty layout through all five operators."""
    inc = spark.createDataFrame([(e, e) for e in range(6)], "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    out = _run_family(hg)
    assert cooccurrence(hg).n_pairs == 0
    hg.unpersist()
    assert out["triangles"] == 0
    assert out["per_vertex"] == 0
    assert out["modularity"] is None  # no pairs, no degrees: an empty sum
    assert out["coreness"] == [(v, 0) for v in range(6)]
    assert out["k_core"] == 0
    assert out["k_truss"] == 0 and out["k_truss_kept"] is None
