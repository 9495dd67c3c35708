"""k-core / coreness of the hypergraph's co-occurrence graph.

Definition (standard k-core, cf. Batagelj & Zaversnik 2003): on the
clique-expanded co-occurrence graph (u ~ v iff they share a hyperedge,
operators/triangles.clique_expansion), repeatedly remove vertices with
fewer than k alive neighbors until a fixed point; the survivors are the
k-core.  Output covers every vertex with an ``in_core`` flag so the
result has a stable one-row-per-vertex shape.

:func:`coreness` computes the FULL decomposition (per-vertex core
number) via the iterated neighborhood-h-index fixed point (Lü, Zhou,
Zhang & Stanley, "The H-index of a network node...", Nature Comms
2016): initialize c0(v) = deg(v), then c_{t+1}(v) = H({c_t(u) : u in
N(v)}); the sequence is pointwise non-increasing and converges exactly
to coreness.  One sweep = one join + one groupBy (sorted-array h-index);
O(convergence sweeps) instead of O(max-degree) peel levels,
which is the right shape at 100 TB (rounds ~ tens; peel levels can be
thousands on heavy-tailed graphs).

:func:`k_core` execution shape (both loops run on plans/loop.py::
fixed_point):
- both read the shared co-occurrence layout's symmetric adjacency
  (operators/triangles.py::cooccurrence), partitioned by u;
- per round: one degree aggregation over alive edges + one semi-join —
  both algebraic/narrow, skew absorbed by partial aggregation;
- O(rounds) = O(peeling depth), each round strictly shrinks or stops.

The DuckDB oracle twin replicates the peel as a recursive CTE carrying
the alive set, emitting the next round only while the alive count still
shrinks (same guard pattern as the pagerank_converged twin).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.triangles import (
    Cooccurrence,
    cooccurrence,
)
from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point
from hypergraph_gpu_label_propagation_spark.plans.tuning import fits_broadcast, unsafe_row_bytes


@dataclass
class KCoreResult:
    membership: DataFrame  # (vertex_id, in_core: int)
    iterations: int
    core_size: int
    removed_per_iter: list[int] = field(default_factory=list)


def k_core(
    hg: Hypergraph,
    k: int,
    max_iterations: int = 200,
    adj: DataFrame | None = None,
) -> KCoreResult:
    """Vertices of the k-core of the co-occurrence graph.  ``adj``: as
    in :func:`coreness`."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # symmetric, so degree = neighbor count.  r08: while the alive set
    # passes fits_broadcast it is BROADCAST and the u-partitioned
    # adjacency aggregates each round's degree in place (zero E-sized
    # exchanges per peel round); otherwise the r07 shuffle shape runs.
    lay = cooccurrence(hg, adj)
    adj = lay.sym
    use_bcast = fits_broadcast(hg.spark, hg.num_vertices, unsafe_row_bytes(1))
    _alive_join = F.broadcast if use_bcast else (lambda df: df)

    def peel(alive: DataFrame, _) -> DataFrame:
        deg = (
            adj.join(_alive_join(alive), "u")
            .join(_alive_join(alive.select(F.col("u").alias("v"))), "v")
            .groupBy("u")
            .agg(F.count("*").alias("_d"))
        )
        return alive.join(deg.filter(F.col("_d") >= k).select("u"), "u", "left_semi")

    n = F.count(F.lit(1))
    res = fixed_point(
        "k_core", adj.select("u").distinct(), peel,
        lambda row: [n.alias("alive"), (F.lit(row["alive"]) - n).alias("removed")],
        # stable or empty; the init row has no removal, so a run peels
        # at least one round
        lambda row: "removed" in row and (row["removed"] == 0 or row["alive"] == 0),
        partitions=lay.partitions, max_iterations=max_iterations,
        init_observe=[n.alias("alive")],
    )
    membership = (
        hg.vertices()
        .join(res.state.select(F.col("u").alias("vertex_id"), F.lit(1).alias("_in")),
              "vertex_id", "left")
        .select("vertex_id", F.coalesce("_in", F.lit(0)).cast("int").alias("in_core"))
    )
    return KCoreResult(
        membership=membership,
        iterations=res.iterations,
        core_size=res.row["alive"],
        removed_per_iter=[r["removed"] for r in res.records],
    )


# h-index sweeps per materialized coreness round.  r08 measurement —
# under broadcast gather a sweep pays no E-sized exchange, so deeper
# fusing buys fewer round boundaries; sf0.1: fused4 14.1 s / 11 rounds,
# fused8 10.4 s / 6, fused12 12.3 s.
FUSED_STEPS = 8


@dataclass
class CorenessResult:
    coreness: DataFrame  # (vertex_id, coreness: int), one row per vertex
    iterations: int
    changes_per_iter: list[int] = field(default_factory=list)


def coreness_adjacency(hg: Hypergraph, lay: Cooccurrence) -> tuple[DataFrame, bool]:
    """The sweep's adjacency, read off the co-occurrence layout.

    Returns ``(adj, use_bcast)``.  Broadcast/shuffle rule (r08): while
    the vertex-sized per-sweep values frame ``(v, c)`` passes
    plans/tuning.py::fits_broadcast, ``adj`` is the layout's ``sym``,
    partitioned by the AGGREGATION key ``u``, and the values are
    broadcast on ``v`` — every sweep's groupBy(u) runs in place, zero
    E-sized exchanges per sweep.  Otherwise (the scale fallback) it is
    a copy of ``sym`` partitioned by the JOIN key ``v`` and persisted,
    which the caller unpersists: only the values frame exchanges
    (shuffle_hash probes the adjacency in place).
    """
    if fits_broadcast(hg.spark, hg.num_vertices, unsafe_row_bytes(2)):
        return lay.sym, True
    return lay.sym.repartition(lay.partitions, "v").persist(StorageLevel.MEMORY_AND_DISK), False


def _h_sweep(adj: DataFrame, values: DataFrame, use_bcast: bool) -> DataFrame:
    """One Jacobi h-index application: (u, c) for every u in ``adj``.

    One groupBy(u) with sort_array(collect_list) and the h-index inline
    over the desc-sorted array (h = #{i: a_i >= i}, 1-based)."""
    vals = values.select(F.col("u").alias("v"), "c")
    vals = F.broadcast(vals) if use_bcast else vals.hint("shuffle_hash")
    arr = (
        adj.join(vals, "v")
        .groupBy("u")
        .agg(F.sort_array(F.collect_list("c"), asc=False).alias("_a"))
    )
    return arr.select(
        "u", F.size(F.filter("_a", lambda x, i: x >= i + F.lit(1))).cast("int").alias("c")
    )


def coreness_round(
    adj: DataFrame, state: DataFrame, fused_steps: int, use_bcast: bool
) -> DataFrame:
    """One materialized round's pre-observe frame ``(u, c, _c0, _ch)``:
    ``fused_steps`` full Jacobi sweeps from ``state``, compared with the
    round-start value.

    Stats discipline (r05 gotcha): a localCheckpoint keeps its origin
    sizeInBytes and Catalyst multiplies join-children sizes as BigInt,
    so a round shape that references state on both sides of a join
    doubles the estimate's bit length every round (a 940 s planning
    spin in BigInteger.multiply).  The last sweep ends in a groupBy,
    which caps its branch, so the compare join below stays linear in
    state references; guarded by tests/test_plans.py::
    test_iterative_state_stats_stay_linear.  The join is inner: a full
    sweep covers every state vertex (state's universe is adj's u).
    """
    cur = state
    for _ in range(fused_steps):
        cur = _h_sweep(adj, cur, use_bcast)
    return (
        state.select("u", F.col("c").alias("_c0"))
        .join(cur.hint("shuffle_hash"), "u")
        .select(
            "u", "c", "_c0",
            (F.col("c") != F.col("_c0")).cast("int").alias("_ch"),
        )
    )


def coreness(
    hg: Hypergraph,
    max_iterations: int = 500,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    adj: DataFrame | None = None,
    init_cap: bool = True,
    fused_steps: int = FUSED_STEPS,
) -> CorenessResult:
    """Per-vertex core number of the co-occurrence graph (full k-core
    decomposition) by the iterated h-index fixed point (module doc).

    Each round applies ``fused_steps`` h-index sweeps and materializes
    the state once, with the change count observed on the checkpoint
    job; it stops at the first round with zero changes (the fixed point
    IS coreness).  Vertices with no co-occurrence neighbor get 0 via
    the universe left-join.  ``adj``: optional materialized clique
    expansion, the source of the co-occurrence layout (see
    triangle_count).

    Fusing is sound because the value sequence is pointwise
    non-increasing: a value that drops in an inner sweep never
    rebounds, so the round-boundary change count is zero iff no inner
    sweep changed anything.  Final values are identical at any
    ``fused_steps``; only the round count differs.

    ``init_cap`` starts from c0 = min(deg(v), H_g), H_g the global
    h-index of the degree sequence.  Exact: coreness <= degeneracy <=
    H_g pointwise, the h-index operator is monotone, and any start
    between coreness and deg converges to the same fixed point — but
    heavy-tail vertices collapse in round 0.

    Measured and deleted alternates, each with its BENCH_SCALING.md
    section: Gauss-Seidel half-sweeps, frontier-scoped inner steps and
    extra pruned-round steps ("coreness round-count attack", round 6);
    frontier pruning, the histogram+window sweep and incremental
    histogram maintenance ("Round 7: coreness — change the sweep"); the
    count-vector sweep (round 8); summary in "Coreness collapsed to one
    shape".
    """
    if fused_steps < 1:
        raise ValueError("fused_steps must be >= 1")
    lay = cooccurrence(hg, adj)
    adj, use_bcast = coreness_adjacency(hg, lay)

    # int state: c <= max expansion degree < 2^31; counts over
    # vertices (the H_g histogram) stay long
    deg = adj.groupBy("u").agg(F.count("*").cast("int").alias("c"))
    if init_cap:
        hist = deg.groupBy("c").agg(F.count("*").alias("_n"))
        cum = (
            hist.alias("a")
            .join(hist.alias("b"), F.col("b.c") >= F.col("a.c"))
            .groupBy(F.col("a.c").alias("c"))
            .agg(F.sum("b._n").alias("_cum"))
        )
        # _cum stays long inside the least: an int cast would wrap
        # past 2^31 vertices and cap c0 below the true coreness
        hglob = cum.agg(
            F.max(F.least(F.col("c").cast("long"), F.col("_cum")))
            .cast("int")
            .alias("_hg")
        )
        deg = deg.crossJoin(F.broadcast(hglob)).select(
            "u", F.least("c", "_hg").cast("int").alias("c")
        )
    res = fixed_point(
        "coreness", deg,
        lambda state, _: coreness_round(adj, state, fused_steps, use_bcast),
        [F.sum("_ch").alias("changes")], lambda row: row["changes"] == 0,
        partitions=lay.partitions,
        # a fresh run has work iff the graph has pairs
        max_iterations=max_iterations if lay.n_pairs else 0,
        checkpoint_dir=checkpoint_dir, resume=resume,
    )
    out = (
        hg.vertices()
        .join(res.state.select(F.col("u").alias("vertex_id"), "c"), "vertex_id", "left")
        .select("vertex_id", F.coalesce("c", F.lit(0)).cast("int").alias("coreness"))
    )
    if not use_bcast:
        adj.unpersist()  # loop-local copy (state is checkpointed, not derived from it)
    return CorenessResult(
        coreness=out, iterations=res.iterations,
        changes_per_iter=[r["changes"] for r in res.records],
    )
