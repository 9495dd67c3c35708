"""The one broadcast-or-shuffle rule (plans/tuning.py::fits_broadcast).

``spark.sql.autoBroadcastJoinThreshold=-1`` must force every operator
onto its shuffle fallback: no executed plan may then contain a
BroadcastHashJoin (a one-row crossJoin scalar plans as a nested-loop
join and is allowed), and every result must equal the default run's —
exactly, except PageRank, whose float sums merge in a different order
on the two paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.plans.tuning import fits_broadcast

DEFAULT_THRESHOLD = str(64 * 1024 * 1024)


@pytest.fixture
def hg_small(spark):
    """An sf0.001-sized order x part graph: 6000 incidence rows hashed
    onto ~1500 edges and ~200 vertices, vertex ids skewed low (a product
    of two uniform draws) so coreness, k-core and k-truss peel in
    several rounds: 6040 co-occurrence pairs, 96,474 triangles."""

    def h(seed, n):
        return F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n))

    inc = spark.range(6000).select(
        h(1, 1500).alias("edge_id"),
        (h(2, 200) * h(3, 200) / 200).cast("long").alias("vertex_id"),
    ).distinct()
    hg = Hypergraph.freeze(spark, inc)
    yield hg
    hg.unpersist()


def _plans(spark) -> dict[int, str]:
    """Physical plan of every SQL execution the status store holds."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
    }


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _run_all(spark, hg):
    """Every operator's result, and the plans of the executions it ran."""
    from hypergraph_gpu_label_propagation_spark.operators.components import (
        connected_components,
    )
    from hypergraph_gpu_label_propagation_spark.operators.digraph import (
        triangle_count_edges,
    )
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness, k_core
    from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        label_propagation,
    )
    from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
        hypergraph_pagerank,
    )
    from hypergraph_gpu_label_propagation_spark.operators.triangles import (
        cooccurrence,
        modularity,
        per_vertex_triangle_count,
        triangle_count,
    )

    before = set(_plans(spark))
    init = spark.range(hg.num_vertices).select(
        F.col("id").alias("vertex_id"), F.pmod("id", F.lit(10)).cast("int").alias("label")
    )
    lp = label_propagation(hg, init)
    cc = connected_components(hg)
    core = coreness(hg)
    kc = k_core(hg, 30)  # 144 of 198 vertices in the 30-core
    kt = k_truss(hg, 24)  # 4523 of 6040 pairs kept
    out = {
        "lp": (lp.iterations, _rows(lp.labels)),
        "cc": (cc.iterations, _rows(cc.components)),
        "coreness": (core.iterations, _rows(core.coreness)),
        "k_core": (kc.core_size, kc.removed_per_iter, _rows(kc.membership)),
        "triangles": triangle_count(hg).collect()[0][0],
        "triangles_per_vertex": _rows(per_vertex_triangle_count(hg)),
        "modularity": modularity(hg, lp.labels).collect()[0][0],
        "k_truss": (kt.truss_size, kt.removed_per_iter, _rows(kt.membership)),
    }
    # the same pairs as a plain edge table, given in both directions
    pairs = cooccurrence(hg).pairs
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    out["triangles_edges"] = triangle_count_edges(edges).collect()[0][0]
    ranks = {
        r["vertex_id"]: r["rank"]
        for r in hypergraph_pagerank(hg, tol=1e-9).ranks.collect()
    }
    plans = [p for i, p in _plans(spark).items() if i not in before]
    return out, ranks, plans


def test_fits_broadcast_budget_and_switch(spark):
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    budget = min(8 << 30, heap // 32)
    assert fits_broadcast(spark, budget // 24 - 1, 24)
    assert not fits_broadcast(spark, budget // 24 + 1, 24)
    assert not fits_broadcast(spark, 2**31, 8)  # 16 GiB: over Spark's cap
    try:
        for off in ("-1", "0"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", off)
            assert not fits_broadcast(spark, 1, 16)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", DEFAULT_THRESHOLD)


def test_threshold_off_forces_every_shuffle_fallback(spark, hg_small):
    out_b, ranks_b, plans_b = _run_all(spark, hg_small)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_s, ranks_s, plans_s = _run_all(spark, hg_small)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", DEFAULT_THRESHOLD)

    # the default run broadcasts, so the plans read here are the real ones
    assert any("BroadcastHashJoin" in p for p in plans_b)
    assert plans_s
    hashed = [p for p in plans_s if "BroadcastHashJoin" in p]
    assert not hashed, hashed[0][:3000]
    # the fixture is not degenerate (counts checked with networkx)
    assert out_b["lp"][0] > 1 and out_b["coreness"][0] >= 1
    assert out_b["triangles"] == out_b["triangles_edges"] == 96_474
    assert out_b["k_core"][0] == 144 and out_b["k_truss"][0] == 4523
    for name in out_b:
        assert out_b[name] == out_s[name], name
    assert set(ranks_b) == set(ranks_s)
    for v in ranks_b:
        assert ranks_b[v] == pytest.approx(ranks_s[v], abs=1e-12), v
