"""Spark LP engine vs the NumPy oracle: exact per-vertex label parity
(SURVEY.md section 5.2) plus Spark-specific invariants (partition-count
independence, fixed-point property)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import incidence_from_edges, labels_df

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
    label_propagation,
    lp_superstep,
)
from hypergraph_gpu_label_propagation_spark.oracle import (
    oracle_label_propagation,
    oracle_superstep,
)


def _rng_hypergraph(seed, nv=60, ne=120, kmin=2, kmax=5):
    rng = np.random.default_rng(seed)
    edges = []
    for _ in range(ne):
        k = int(rng.integers(kmin, kmax + 1))
        edges.append(sorted(rng.choice(nv, size=min(k, nv), replace=False).tolist()))
    return edges


def _freeze(spark, edges, nv, parts=8):
    inc = incidence_from_edges(spark, edges)
    return Hypergraph.freeze(spark, inc, num_vertices=nv, num_edges=len(edges), num_partitions=parts)


def _collect_labels(df, nv):
    rows = df.collect()
    out = np.zeros(nv, dtype=np.int32)
    for r in rows:
        out[r["vertex_id"]] = r["label"]
    assert len(rows) == nv, "labels frame must have exactly one row per vertex"
    return out


@pytest.mark.parametrize(
    "edges,labels,nv",
    [
        ([[0, 1], [1, 2], [2, 3]], [0, 1, 1, 0], 4),                 # tiny_path
        ([[0, 1, 2, 3]], [2, 2, 1, 1], 4),                           # tiny_tie
        ([[0, 1], [1, 2]], [-1, -1, 3, 5], 4),                       # unlabeled + isolated v3
        ([[0, 1, 2], [2, 3], [3, 4, 5], [5, 0]], [5, 4, 3, 2, 1, 0], 6),
    ],
)
def test_superstep_parity_micro(spark, edges, labels, nv):
    hg = _freeze(spark, edges, nv)
    init = labels_df(spark, labels)
    got = lp_superstep(hg, init)
    want, want_changes = oracle_superstep(edges, np.array(labels, dtype=np.int32), nv)
    got_labels = _collect_labels(got.select("vertex_id", "label"), nv)
    assert got_labels.tolist() == want.tolist()
    got_changes = got.agg({"changed": "sum"}).collect()[0][0]
    assert got_changes == want_changes
    hg.unpersist()


@pytest.mark.parametrize("seed", [1, 7])
def test_full_lp_parity_random(spark, seed):
    nv = 60
    edges = _rng_hypergraph(seed, nv=nv, ne=120)
    rng = np.random.default_rng(seed + 1000)
    init = rng.integers(0, 6, size=nv).astype(np.int32)
    # sprinkle unlabeled sentinels
    init[rng.choice(nv, size=5, replace=False)] = -1

    hg = _freeze(spark, edges, nv)
    res = label_propagation(hg, labels_df(spark, init.tolist()), max_labels=6, max_iterations=100)
    want = oracle_label_propagation(edges, init, nv, max_labels=6, max_iterations=100)
    got = _collect_labels(res.labels, nv)
    assert got.tolist() == want.labels.tolist()
    assert res.iterations == want.iterations
    assert res.converged == want.converged
    assert [m.changes for m in res.metrics] == want.changes_per_iter
    hg.unpersist()


def test_narrow_strategy_all_unlabeled_edge(spark):
    """An edge whose every member is unlabeled must still vote label 0
    (all-zero counts rule) — the narrow vote's universe-coalesce path."""
    edges = [[0, 1], [2, 3]]
    labels = [-1, -1, 4, 4]  # edge 0 fully unlabeled
    nv = 4
    hg = _freeze(spark, edges, nv)
    init = labels_df(spark, labels)
    want, _ = oracle_superstep(edges, np.array(labels, dtype=np.int32), nv)
    got = lp_superstep(hg, init, 10)
    assert _collect_labels(got.select("vertex_id", "label"), nv).tolist() == want.tolist()
    hg.unpersist()


def test_partition_count_independence(spark):
    """The critical Spark-specific property: result identical at any
    parallelism (the C++ code gets this for free; we must assert it)."""
    nv = 50
    edges = _rng_hypergraph(99, nv=nv, ne=100)
    init = (np.arange(nv) % 7).astype(np.int32)
    results = []
    for parts in (1, 4, 16):
        hg = _freeze(spark, edges, nv, parts=parts)
        res = label_propagation(hg, labels_df(spark, init.tolist()), max_labels=7)
        results.append((_collect_labels(res.labels, nv).tolist(), res.iterations))
        hg.unpersist()
    assert results[0] == results[1] == results[2]


def test_converged_state_is_fixed_point(spark):
    nv = 40
    edges = _rng_hypergraph(3, nv=nv, ne=80)
    hg = _freeze(spark, edges, nv)
    init = labels_df(spark, (np.arange(nv) % 5).tolist())
    res = label_propagation(hg, init, max_labels=5)
    if res.converged:
        again = lp_superstep(hg, res.labels)
        assert (again.agg({"changed": "sum"}).collect()[0][0] or 0) == 0
    hg.unpersist()


def test_checkpoint_resume(spark, tmp_path):
    """Kill-after-k / resume-from-checkpoint parity (SURVEY.md section 5.5)."""
    nv = 60
    edges = _rng_hypergraph(11, nv=nv, ne=150)
    init = (np.arange(nv) % 6).astype(np.int32)

    full = label_propagation(
        _freeze(spark, edges, nv), labels_df(spark, init.tolist()), max_labels=6
    )
    full_labels = _collect_labels(full.labels, nv)

    ckpt = str(tmp_path / "ckpt")
    hg = _freeze(spark, edges, nv)
    label_propagation(
        hg, labels_df(spark, init.tolist()), max_labels=6,
        max_iterations=1, checkpoint_dir=ckpt,
    )
    resumed = label_propagation(
        hg, labels_df(spark, init.tolist()), max_labels=6,
        checkpoint_dir=ckpt, resume=True,
    )
    assert _collect_labels(resumed.labels, nv).tolist() == full_labels.tolist()
    assert resumed.iterations == full.iterations
    hg.unpersist()


def test_empty_hypergraph_returns_zero_iterations(spark):
    """Reference guard (label_propagation_openmp.cpp:23-29): an empty
    hypergraph converges trivially — no ZeroDivisionError on changes/nv."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph

    inc = spark.createDataFrame([], "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc, num_vertices=0, num_edges=0, num_partitions=2)
    res = label_propagation(hg, labels_df(spark, []))
    assert res.iterations == 0
    assert res.converged
    assert res.labels.count() == 0
    hg.unpersist()


def test_weighted_vote_flips_outcome_vs_unit(spark):
    """README.md:153 weighted variant: a small edge (weight 1/2) outvotes
    two large edges (1/6 each) that win under unit weights."""
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        lp_superstep,
    )

    # vertex 0 sits in edge 0 (size 2) and edges 1, 2 (size 6 each)
    edges = [
        [0, 1],                    # edge 0 -> majority label of {v0, v1}
        [0, 2, 3, 4, 5, 6],        # edge 1
        [0, 7, 8, 9, 10, 11],      # edge 2
    ]
    inc = incidence_from_edges(spark, edges)
    hg = Hypergraph.freeze(spark, inc, num_vertices=12, num_edges=3, num_partitions=2)
    # v1 labels 1 -> edge 0 majority = min(label of v0=2, v1=1) tie 1 each -> 1
    # edges 1,2: members labeled 2 -> majority 2
    init = [2, 1] + [2] * 10
    labels = labels_df(spark, init)

    unit = {r["vertex_id"]: r["label"] for r in lp_superstep(hg, labels, 10).collect()}
    wtd = {
        r["vertex_id"]: r["label"]
        for r in lp_superstep(hg, labels, 10, weighted=True).collect()
    }
    # unit: v0 sees edge votes {1, 2, 2} -> 2 wins 2:1
    assert unit[0] == 2
    # weighted: 1 gets 1/2, 2 gets 1/6 + 1/6 = 1/3 -> 1 wins
    assert wtd[0] == 1
    # weighted LP still runs to convergence through the driver loop
    res = label_propagation(hg, labels_df(spark, init), max_labels=10, weighted=True)
    assert res.converged
    hg.unpersist()


def test_weighted_superstep_matches_numpy_oracle(spark):
    """Weighted phase-2 parity vs the NumPy oracle on seeded random
    hypergraphs (3 seeds x 60 vertices)."""
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        lp_superstep,
    )
    from hypergraph_gpu_label_propagation_spark.oracle.numpy_ref import (
        oracle_edge_majority,
        oracle_weighted_vertex_majority,
    )

    for seed in (3, 17, 51):
        nv = 60
        edges = _rng_hypergraph(seed, nv=nv, ne=120)
        rng = np.random.default_rng(seed + 1)
        init = rng.integers(0, 10, size=nv).astype(np.int32)
        hg = _freeze(spark, edges, nv)
        got = _collect_labels(
            lp_superstep(hg, labels_df(spark, init.tolist()), 10, weighted=True)
            .select("vertex_id", "label"),
            nv,
        )
        emaj = oracle_edge_majority(edges, init, 10)
        want = oracle_weighted_vertex_majority(edges, emaj, nv, 10)
        assert got.tolist() == want.tolist(), f"seed {seed}"
        hg.unpersist()


def test_salted_superstep_exactness(spark):
    """freeze(salt=N) adds (key, _salt) layouts and the narrow superstep
    joins salt-replicated label frames against them — results must be
    BIT-IDENTICAL to the unsalted path at every superstep (the majority
    aggregation is algebraic, so two-level spreading changes nothing)."""
    from pyspark.sql import functions as F

    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        label_propagation,
    )

    # skewed fixture: one 60-member hyperedge + one vertex in 40 edges
    rows = [(0, v) for v in range(60)]
    rows += [(1 + e, (7 * e) % 60) for e in range(25)]
    rows += [(30 + e, 59) for e in range(40)]
    inc = spark.createDataFrame(sorted(set(rows)), "edge_id long, vertex_id long")
    init = spark.range(60).select(
        F.col("id").alias("vertex_id"), (F.col("id") % 10).cast("int").alias("label")
    )
    hg_plain = Hypergraph.freeze(spark, inc)
    hg_salted = Hypergraph.freeze(spark, inc, salt=4)
    assert hg_salted.salted_by_vertex is not None
    r_plain = label_propagation(hg_plain, init)
    r_salted = label_propagation(hg_salted, init)
    assert sorted(map(tuple, r_plain.labels.collect())) == sorted(
        map(tuple, r_salted.labels.collect())
    )
    assert [m.changes for m in r_plain.metrics] == [m.changes for m in r_salted.metrics]
    hg_plain.unpersist(); hg_salted.unpersist()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        Hypergraph.freeze(spark, inc, salt=0)
