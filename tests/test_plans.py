"""Physical-plan shape tests: pushdown, pruning, broadcast, salted join
exactness — the scale properties the engine is designed around."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.plans.inspect import (
    count_exchanges,
    explain_str,
    scan_read_schema,
    uses_broadcast_join,
)
from hypergraph_gpu_label_propagation_spark.plans.skew import salted_join, top_hot_keys

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_extendedprice")
    plan = explain_str(q, "formatted")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    schemas = scan_read_schema(q)
    assert schemas and all(len(s) <= 3 for s in schemas), (
        f"scan must read only the projected+filter columns, got {schemas}"
    )


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    q = li.join(orders, li.l_orderkey == orders.o_orderkey).select("l_orderkey", "o_orderstatus")
    assert uses_broadcast_join(q)


def test_majority_vote_exchanges_per_phase(spark):
    """The grouped majority vote every LP phase runs shuffles twice: the
    narrow (key, label) counts after map-side partial aggregation, then
    the one-row-per-key argmax."""
    from hypergraph_gpu_label_propagation_spark.operators.majority import (
        majority_label_grouped_sql,
    )

    inc = spark.createDataFrame(
        [(e, v) for e in range(10) for v in range(5)], "edge_id long, vertex_id long"
    )
    labels = spark.createDataFrame(
        [(v, v % 3) for v in range(5)], "vertex_id long, label int"
    )
    out = majority_label_grouped_sql(inc.join(labels, "vertex_id"), "edge_id", "label", 10)
    # one exchange per join side + the vote's two
    assert count_exchanges(out) == 4
    plan = explain_str(out, "simple")
    assert plan.count("Exchange hashpartitioning(edge_id#") == 2
    assert "partial_count" in plan


def test_salted_join_exact(spark):
    big = spark.createDataFrame(
        [(k, i) for k in ["hot", "cold"] for i in range({"hot": 500, "cold": 5}[k])],
        "key string, payload long",
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "key string, val int")
    got = salted_join(big, small, "key", salt=8)
    want = big.join(small, "key")
    assert got.count() == want.count() == 505
    assert got.agg(F.sum("val")).collect()[0][0] == want.agg(F.sum("val")).collect()[0][0]
    hot = top_hot_keys(big, "key", 1).collect()[0]
    assert hot["key"] == "hot" and hot["rows"] == 500


def test_lp_superstep_plan_stays_jvm_side(spark):
    """No Python UDFs (BatchEvalPython / ArrowEvalPython) anywhere in
    the LP superstep plan — the hot path is whole-stage codegen."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import lp_superstep

    inc = spark.createDataFrame(
        [(e, (e + d) % 20) for e in range(30) for d in range(3)],
        "edge_id long, vertex_id long",
    )
    hg = Hypergraph.freeze(spark, inc, num_vertices=20, num_edges=30, num_partitions=4)
    labels = spark.createDataFrame([(v, v % 5) for v in range(20)], "vertex_id long, label int")
    stepped = lp_superstep(hg, labels)
    stepped.collect()  # let AQE finalize, then inspect the executed plan
    plan = explain_str(stepped, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WholeStageCodegen" in plan or "isFinalPlan=true" in plan
    hg.unpersist()


def test_salted_join_rejects_outer(spark):
    """salted_join replicates the small side; unmatched small-side rows
    would surface `salt` times under right/full outer — rejected."""
    import pytest as _pytest
    from hypergraph_gpu_label_propagation_spark.plans.skew import salted_join

    big = spark.createDataFrame([(1, "a")], "k long, x string")
    small = spark.createDataFrame([(1, "y")], "k long, y string")
    with _pytest.raises(ValueError, match="inner"):
        salted_join(big, small, "k", salt=4, how="full")
    assert salted_join(big, small, "k", salt=4, how="left").count() == 1


def test_loop_conf_restores_on_error(spark):
    from hypergraph_gpu_label_propagation_spark.plans.tuning import (
        loop_conf,
        loop_partitions,
    )

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(RuntimeError):
        with loop_conf(spark, 3):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old_sp
    assert spark.conf.get("spark.sql.adaptive.enabled") == old_aqe
    # the data-sized formula: floor, rows-proportional, cores cap
    assert loop_partitions(None, 32) == 32
    assert loop_partitions(100, 32) == 8
    assert loop_partitions(20_000_000, 32) == 40
    assert loop_partitions(10**12, 32) == 64  # cap 2x cores (round-4 A/B)


def test_iterative_state_stats_stay_linear(spark):
    """r05 verdict #4: the BigInt-stats planning pathology as a pytest.

    localCheckpoint (LogicalRDD) PRESERVES origin sizeInBytes and
    Catalyst MULTIPLIES join children's estimates as BigInt, so a round
    shape referencing state on both sides of an inner join DOUBLES the
    estimate's bit length per round (940 s planning spin observed before
    the kcore fix).  Because the growth rate is a property of the PLAN
    SHAPE, tiny inputs expose it: run each iterative loop at two round
    budgets and assert the per-round bit growth is a small constant —
    a squaring shape multiplies bits by 2^(extra rounds) and fails
    unmistakably.  Referenced from label_propagation.py / components.py
    / kcore.py / ktruss.py loop comments.
    """
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.components import (
        connected_components,
    )
    from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness
    from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        label_propagation,
    )
    from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
        hypergraph_pagerank,
        personalized_pagerank,
    )
    from hypergraph_gpu_label_propagation_spark.plans.inspect import (
        assert_linear_state_refs,
        stats_size_bits,
    )

    import random

    # long path: deep CC/LP/coreness convergence (>= 15 rounds each)
    rows = [(e, e) for e in range(60)] + [(e, e + 1) for e in range(60)]
    inc = spark.createDataFrame(sorted(set(rows)), "edge_id long, vertex_id long")
    hg = Hypergraph.freeze(spark, inc)
    # seeded random graph with a verified 4-round k=4 peel cascade
    rng = random.Random(11)
    pairs = sorted({tuple(sorted(rng.sample(range(50), 2))) for _ in range(200)})
    inc_t = spark.createDataFrame(
        [(i, x) for i, e in enumerate(pairs) for x in e], "edge_id long, vertex_id long"
    )
    hg_t = Hypergraph.freeze(spark, inc_t)
    # all-distinct labels: LP's smallest-wins tie-break then propagates
    # like min-label CC along the path — deep (>= 15 round) convergence
    labels0 = hg.vertices().select(
        "vertex_id", F.col("vertex_id").cast("int").alias("label")
    )

    def lp(n):
        r = label_propagation(hg, labels0, max_iterations=n)
        return r.labels, r.iterations

    def cc(n):
        r = connected_components(hg, max_iterations=n, pointer_jumping=False)
        return r.components, r.iterations

    def core(n):
        r = coreness(hg, max_iterations=n, init_cap=False, fused_steps=1)
        return r.coreness, r.iterations

    # tol=0.0: the L1 delta never drops below it, so each run does n rounds
    def pr(n):
        r = hypergraph_pagerank(hg, max_iterations=n, tol=0.0)
        return r.ranks, r.iterations

    def ppr(n):
        r = personalized_pagerank(hg, [0], max_iterations=n, tol=0.0)
        return r.ranks, r.iterations

    def truss(n):
        r = k_truss(hg_t, k=4, max_iterations=n)
        return r.membership, r.iterations

    for name, run, lo, hi in (
        ("lp", lp, 2, 6),
        ("cc", cc, 2, 6),
        ("coreness", core, 2, 6),
        ("pagerank", pr, 2, 6),
        ("ppr", ppr, 2, 6),
        # seed-11 graph peels in exactly 3 dropping rounds at k=4
        ("ktruss", truss, 1, 3),
    ):
        df_lo, it_lo = run(lo)
        b_lo = stats_size_bits(df_lo)
        df_hi, it_hi = run(hi)
        b_hi = assert_linear_state_refs(df_hi, context=name)
        # non-vacuity: the hi run must have actually executed hi rounds
        assert it_hi == hi, (name, it_hi)
        # linear: <= ~60 extra bits per extra round (measured ~9-30);
        # squaring: bits multiply by 2^(hi-lo) and blow far past this
        assert b_hi <= b_lo + (hi - lo) * 120, (name, b_lo, b_hi)
    hg.unpersist()
    hg_t.unpersist()
