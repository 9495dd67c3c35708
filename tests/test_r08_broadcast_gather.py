"""r08 optimization pins: broadcast-gather vs shuffle-path parity for
every iterative operator, the freeze scalar counts, and the
bucketed-manifest counts + kind guard.

The broadcast path is a PLAN choice, never a semantics choice — these
tests turn broadcast joins off with `spark.sql.autoBroadcastJoinThreshold`
(the one switch plans/tuning.py::fits_broadcast obeys) and assert
identical results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph


@pytest.fixture
def hgx(spark):
    inc = spark.range(4000).select(
        (F.col("id") % 437).alias("edge_id"), (F.col("id") % 253).alias("vertex_id")
    ).distinct()
    hg = Hypergraph.freeze(spark, inc)
    yield hg
    hg.unpersist()


def _with_broadcast(spark, on):
    threshold = str(64 * 1024 * 1024) if on else "-1"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_lp_superstep_broadcast_equals_shuffle(spark, hgx):
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        lp_superstep,
    )

    labels = spark.range(hgx.num_vertices).select(
        F.col("id").alias("vertex_id"), (F.col("id") % 7).cast("int").alias("label")
    )
    try:
        _with_broadcast(spark, True)
        a = sorted(map(tuple, lp_superstep(hgx, labels, 7).collect()))
        _with_broadcast(spark, False)
        b = sorted(map(tuple, lp_superstep(hgx, labels, 7).collect()))
    finally:
        _with_broadcast(spark, True)
    assert a == b


def test_cc_and_pagerank_broadcast_equals_shuffle(spark, hgx):
    from hypergraph_gpu_label_propagation_spark.operators.components import (
        connected_components,
    )
    from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
        hypergraph_pagerank,
    )

    try:
        _with_broadcast(spark, True)
        cc_a = sorted(map(tuple, connected_components(hgx).components.collect()))
        pr_a = {
            r["vertex_id"]: round(r["rank"], 9)
            for r in hypergraph_pagerank(hgx, tol=1e-9).ranks.collect()
        }
        _with_broadcast(spark, False)
        cc_b = sorted(map(tuple, connected_components(hgx).components.collect()))
        pr_b = {
            r["vertex_id"]: round(r["rank"], 9)
            for r in hypergraph_pagerank(hgx, tol=1e-9).ranks.collect()
        }
    finally:
        _with_broadcast(spark, True)
    assert cc_a == cc_b
    assert set(pr_a) == set(pr_b)
    for k in pr_a:
        assert pr_a[k] == pytest.approx(pr_b[k], abs=1e-12), k


def test_coreness_broadcast_equals_shuffle(spark, hgx):
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

    try:
        _with_broadcast(spark, True)
        bcast = sorted(map(tuple, coreness(hgx).coreness.collect()))
        _with_broadcast(spark, False)
        shuf = sorted(map(tuple, coreness(hgx).coreness.collect()))
    finally:
        _with_broadcast(spark, True)
    assert bcast == shuf


def test_triangles_broadcast_equals_shuffle(spark, hgx):
    from hypergraph_gpu_label_propagation_spark.operators.triangles import (
        per_vertex_triangle_count,
        triangle_count,
    )

    try:
        _with_broadcast(spark, True)
        n_a = triangle_count(hgx).collect()[0][0]
        pv_a = sorted(map(tuple, per_vertex_triangle_count(hgx).collect()))
        _with_broadcast(spark, False)
        n_b = triangle_count(hgx).collect()[0][0]
        pv_b = sorted(map(tuple, per_vertex_triangle_count(hgx).collect()))
    finally:
        _with_broadcast(spark, True)
    assert n_a == n_b
    assert pv_a == pv_b


def test_freeze_scalar_counts_unchanged(spark):
    inc = spark.range(999).select(
        (F.col("id") % 91).alias("edge_id"), (F.col("id") % 77).alias("vertex_id")
    )
    hg = Hypergraph.freeze(spark, inc)
    try:
        # nv = max vertex id + 1 over the incidence; ne = distinct edges
        assert hg.num_vertices == 77
        assert hg.num_edges == 91
        assert hg.incidence_rows == inc.distinct().count() or hg.incidence_rows == 999
        assert hg.incidence_by_vertex.count() == hg.incidence_by_edge.count()
    finally:
        hg.unpersist()


def test_signlsh_band_buckets_arrow_bit_identical(spark):
    """The Arrow/numpy band-bucket evaluation must produce EXACTLY the
    expression form's rows (order-preserving accumulation keeps every
    sign bit identical) — this is what lets embedding_near_dup_pairs
    swap implementations without touching its oracle."""
    import numpy as np

    from hypergraph_gpu_label_propagation_spark.operators.similarity import (
        signlsh_band_buckets,
        signlsh_band_buckets_arrow,
    )

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=24)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {tuple(r) for r in signlsh_band_buckets(df, "vec_id", "embedding", 24, 4, 6).collect()}
    b = {tuple(r) for r in signlsh_band_buckets_arrow(df, "vec_id", "embedding", 24, 4, 6).collect()}
    assert a == b and len(a) == 1200


def test_bucketed_manifest_counts_and_kind_guard(spark, tmp_path):
    from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
        _manifest_path,
        _write_manifest,
        freeze_from_bucketed,
        write_bucketed,
    )

    inc = spark.range(1200).select(
        (F.col("id") % 63).alias("edge_id"), (F.col("id") % 41).alias("vertex_id")
    ).distinct()
    write_bucketed(inc, "t_r08_manifest", buckets=4)
    # counts come from the manifest (no table aggregation per freeze)
    import json
    import os

    with open(_manifest_path(spark, "t_r08_manifest")) as f:
        meta = json.load(f)
    assert meta["kind"] == "bucketed_dual"
    assert meta["num_vertices"] == 41
    assert meta["num_edges"] == 63
    hg = freeze_from_bucketed(spark, "t_r08_manifest")
    assert (hg.num_vertices, hg.num_edges) == (41, 63)
    # a foreign-kind manifest under the same name must be refused
    _write_manifest(spark, "t_r08_manifest", {**meta, "kind": "ivf"})
    with pytest.raises(ValueError, match="not a bucketed"):
        freeze_from_bucketed(spark, "t_r08_manifest")
    os.remove(_manifest_path(spark, "t_r08_manifest"))
