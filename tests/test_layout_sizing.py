"""The durable bucketed layout is sized by the loop partition rule, like
``Hypergraph.freeze``; plus the guards of the packed closing key, the
null-edge-id count and freeze's negative-id check."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.components import connected_components
from hypergraph_gpu_label_propagation_spark.operators.label_propagation import label_propagation
from hypergraph_gpu_label_propagation_spark.operators.pagerank import hypergraph_pagerank
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_partitions
from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
    _manifest_path,
    freeze_from_bucketed,
    write_bucketed,
)
from tests.test_plans import SF

LAYOUT = "t_sized_layout"


def _group_stages(spark, group: str) -> list:
    """Non-skipped stages of every job run under job group ``group``,
    read from the in-process status store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    ids: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobGroup().isDefined() and j.jobGroup().get() == group:
            s = j.stageIds()
            ids.update(s.apply(k) for k in range(s.size()))
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0), None)
    out = []
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() in ids and st.status().toString() != "SKIPPED":
            out.append(st)
    return out


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture(scope="module")
def layouts(spark):
    import __spark_entry__ as entrymod

    inc = entrymod._incidence(spark, SF)  # order x part, the flagship graph
    write_bucketed(inc, LAYOUT)  # no buckets=: the loop partition rule sizes it
    hg_b = freeze_from_bucketed(spark, LAYOUT, persist=True)
    hg_m = Hypergraph.freeze(spark, inc)
    yield hg_b, hg_m
    hg_b.unpersist()
    hg_m.unpersist()


def test_default_buckets_follow_loop_partition_rule(spark, layouts):
    hg_b, hg_m = layouts
    with open(_manifest_path(spark, LAYOUT)) as f:
        meta = json.load(f)
    rows = meta["incidence_rows"]
    assert rows == hg_m.incidence_rows
    want = loop_partitions(rows, spark.sparkContext.defaultParallelism)
    assert meta["buckets"] == want
    assert hg_b.num_partitions == want == hg_m.num_partitions
    # the row count rides the manifest: no Spark job to size a loop
    assert _in_group(spark, "t_sized_count", hg_b.count_incidence) == rows
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(spark.sparkContext.statusTracker().getJobIdsForGroup("t_sized_count")) == []


def test_default_sized_layout_matches_freeze(spark, layouts):
    hg_b, hg_m = layouts
    init = spark.range(hg_m.num_vertices).select(
        F.col("id").alias("vertex_id"), (F.col("id") % 10).cast("int").alias("label")
    )
    lp_b = label_propagation(hg_b, init, max_labels=10)
    lp_m = label_propagation(hg_m, init, max_labels=10)
    assert lp_b.iterations == lp_m.iterations
    assert sorted(map(tuple, lp_b.labels.collect())) == sorted(map(tuple, lp_m.labels.collect()))

    cc_b = sorted(map(tuple, connected_components(hg_b).components.collect()))
    cc_m = sorted(map(tuple, connected_components(hg_m).components.collect()))
    assert cc_b == cc_m

    pr_b = dict(map(tuple, hypergraph_pagerank(hg_b).ranks.select("vertex_id", "rank").collect()))
    pr_m = dict(map(tuple, hypergraph_pagerank(hg_m).ranks.select("vertex_id", "rank").collect()))
    assert pr_b.keys() == pr_m.keys()
    keys = sorted(pr_m)
    np.testing.assert_allclose(
        [pr_b[k] for k in keys], [pr_m[k] for k in keys], rtol=0, atol=1e-9
    )


def test_pagerank_stages_run_at_most_num_partitions_tasks(spark, layouts):
    """Runtime check of the tentpole: on the rule-sized layout no
    PageRank stage runs more tasks than the loop's partition count,
    which is the layout's bucket count (the fixed 32-bucket layout ran
    32-task gather and checkpoint stages under an 8-partition loop)."""
    hg_b, _ = layouts
    bound = loop_partitions(hg_b.count_incidence(), spark.sparkContext.defaultParallelism)
    assert hg_b.num_partitions == bound
    _in_group(
        spark, "t_sized_pr",
        lambda: hypergraph_pagerank(hg_b, max_iterations=3, tol=0.0).ranks.collect(),
    )
    stages = _group_stages(spark, "t_sized_pr")
    assert stages
    wide = [(st.stageId(), st.name(), st.numTasks()) for st in stages
            if st.numTasks() > bound]
    assert wide == [], wide


def test_packed_closing_key_on_int_adjacency(spark):
    """``shiftleft`` on an int column masks the shift to 5 bits; the
    packed (u << 32) + w key must widen to long first, so an int-typed
    adjacency counts the same triangles and truss as a long one."""
    from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
    from hypergraph_gpu_label_propagation_spark.operators.triangles import (
        clique_expansion,
        triangle_count,
    )

    rng = np.random.default_rng(11)
    nv = 60
    rows = [(e, int(v)) for e in range(90)
            for v in rng.choice(nv, size=4, replace=False)]
    inc = spark.createDataFrame(rows, "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc, num_vertices=nv, num_edges=90, num_partitions=8)
    try:
        adj_long = clique_expansion(hg).persist()
        adj_int = adj_long.select(F.col("u").cast("int"), F.col("v").cast("int")).persist()
        assert dict(adj_int.dtypes) == {"u": "int", "v": "int"}
        n_long = triangle_count(hg, adj=adj_long).collect()[0][0]
        n_int = triangle_count(hg, adj=adj_int).collect()[0][0]
        assert n_long > 0
        assert n_int == n_long
        kt_long = k_truss(hg, 4, adj=adj_long)
        kt_int = k_truss(hg, 4, adj=adj_int)
        assert kt_long.truss_size > 0
        assert kt_int.truss_size == kt_long.truss_size
        member = lambda r: sorted((int(x["u"]), int(x["v"]), x["in_truss"])  # noqa: E731
                                  for x in r.membership.collect())
        assert member(kt_int) == member(kt_long)
        adj_int.unpersist()
        adj_long.unpersist()
    finally:
        hg.unpersist()


def test_null_edge_id_is_not_an_edge(spark):
    """Without ANSI casts a non-numeric edge id casts to NULL; neither
    freeze nor the bucketed manifest counts that NULL as an edge."""
    rows = [("0", 0), ("0", 1), ("1", 1), ("1", 2), ("x", 2), ("x", 3)]
    raw = spark.createDataFrame(rows, "edge_id string, vertex_id long")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        hg = Hypergraph.freeze(spark, raw)
        assert hg.incidence_rows == 6
        assert hg.num_edges == 2
        assert hg.num_vertices == 4
        hg.unpersist()
        inc = raw.select(F.col("edge_id").cast("long").alias("edge_id"), "vertex_id")
        write_bucketed(inc, "t_null_edge")
        assert freeze_from_bucketed(spark, "t_null_edge").num_edges == 2
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


@pytest.mark.parametrize("low", [-1, -(2**31) - 5])
def test_freeze_rejects_negative_vertex_id(spark, low):
    """The int-narrowed and packed-key fast paths assume ids >= 0: with
    one hyperedge {low, 1, 2}, triangle_count would report 1 and the
    per-vertex counts and coreness would drop ``low`` for a vertex 0
    that is not in the graph, so freeze must refuse the incidence."""
    inc = spark.createDataFrame([(0, low), (0, 1), (0, 2)], "edge_id long, vertex_id long")
    with pytest.raises(ValueError, match="negative"):
        Hypergraph.freeze(spark, inc)
    # ids >= 0 still freeze, with the counts unchanged
    hg = Hypergraph.freeze(spark, inc.where(F.col("vertex_id") >= 0))
    assert (hg.num_vertices, hg.num_edges, hg.incidence_rows) == (3, 1, 2)
    hg.unpersist()
