"""Hypergraph PageRank as the same two-phase gather-scatter the LP kernel
uses (north rule sibling algorithm; spec: Page et al. 1999 + the standard
two-step hypergraph random walk).

Walk semantics (matching oracle_hypergraph_pagerank): from vertex v pick
an incident hyperedge uniformly (1/degree), then a member uniformly
(1/edge_size).  Dangling (degree-0) vertices redistribute their mass
uniformly.  Scores sum to 1; convergence on L1 delta.

Scale/iteration design (the loop itself is plans/loop.py::fixed_point):
- the state frame carries (vertex_id, rank, inv_degree) — inv_degree
  is joined ONCE at init and rides along, null marking dangling
  vertices, so no per-iteration degree join or anti-join;
- one observe() per iteration returns BOTH the L1 delta and the next
  iteration's dangling mass on the checkpoint job;
- the two gathers hit the frozen incidence layouts; sum is algebraic so
  map-side partial aggregation absorbs hyperedge skew.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_partitions


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vertex_id, rank)
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)


def pagerank_state_init(hg: Hypergraph) -> DataFrame:
    """(vertex_id, rank=1/n, inv_degree|null) for every vertex."""
    inv_degree = hg.incidence_by_vertex.groupBy("vertex_id").agg(
        (F.lit(1.0) / F.count("*")).alias("inv_degree")
    )
    return hg.vertices().join(inv_degree, "vertex_id", "left").select(
        "vertex_id",
        F.lit(1.0 / hg.num_vertices).cast("double").alias("rank"),
        "inv_degree",
    )


def _walk_gather(hg: Hypergraph, state: DataFrame) -> DataFrame:
    """The shared two-phase hypergraph walk: (vertex_id, gathered) =
    sum over incident edges of the edge's averaged member contribution."""
    contrib = state.filter(F.col("inv_degree").isNotNull()).select(
        "vertex_id", (F.col("rank") * F.col("inv_degree")).alias("contrib")
    )
    # phase 1: edge mass m_e = (sum_{v in e} contrib_v) / |e|
    # gather_to_* (r08, guide §2.4): small one-row-per-id frames are
    # broadcast against the layout partitioned by the aggregation key,
    # so both gathers run with ZERO E-sized exchanges per iteration;
    # big frames (or salted layouts) fall back to the co-partitioned
    # shuffle path — equal in exact arithmetic, sum/count are
    # algebraic.  In floating point they are not bit-identical: the
    # broadcast path sums a whole group inside one partition while the
    # shuffle path merges per-partition partials, and the partial
    # boundaries also move with the partition count.  Ranks therefore
    # agree to within the last few ULPs, and the iteration at which
    # `tol` is met can flip when a delta lands right at it; every board
    # row rounds to 6 decimals, far above that difference.
    edge_mass = (
        hg.gather_to_edge(contrib)
        .groupBy("edge_id")
        .agg((F.sum("contrib") / F.count("*")).alias("mass"))
    )
    # phase 2: gather r'_v = sum_{e incident to v} m_e
    return (
        hg.gather_to_vertex(edge_mass)
        .groupBy("vertex_id")
        .agg(F.sum("mass").alias("gathered"))
    )


def pagerank_step(
    hg: Hypergraph,
    state: DataFrame,
    dangling_mass: float,
    damping: float,
) -> DataFrame:
    """One power iteration.  Returns (vertex_id, rank, inv_degree, _old)
    for every vertex; caller supplies the current dangling mass (sum of
    rank over degree-0 vertices) as a scalar."""
    n = hg.num_vertices
    gathered = _walk_gather(hg, state)
    base = (1.0 - damping) / n + damping * dangling_mass / n
    return state.join(gathered, "vertex_id", "left").select(
        "vertex_id",
        (F.lit(base) + F.lit(damping) * F.coalesce("gathered", F.lit(0.0))).alias("rank"),
        "inv_degree",
        F.col("rank").alias("_old"),
    )


def hypergraph_pagerank(
    hg: Hypergraph,
    damping: float = 0.85,
    max_iterations: int = 100,
    tol: float = 1e-9,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Power-iterate to L1 delta < tol.  The default tol=1e-9 bounds the
    per-vertex error well under the north rule's allclose(1e-6) bar
    (per-vertex |err| <= L1 delta / (1 - damping) at convergence).

    ``initial_ranks`` (vertex_id, rank) warm-starts the iteration —
    e.g. the previous run's ranks after the graph grew.  Sound because
    the PageRank map is an L1 contraction with factor ``damping`` to a
    UNIQUE fixed point, so ANY start converges to the same ranks; the
    initial delta then equals the perturbation's size rather than the
    uniform start's full distance (iteration savings are spectral, not
    guaranteed — see streaming.lp_stream.run_incremental_pagerank).
    Vertices missing from ``initial_ranks`` start at 1/n and the vector
    is renormalized to sum 1 (the L1 contraction also tolerates an
    unnormalized start, but a probability vector keeps the delta-vs-tol
    semantics identical to a cold run's)."""
    state = pagerank_state_init(hg)
    if initial_ranks is not None:
        state = state.alias("s").join(
            initial_ranks.select(
                "vertex_id", F.col("rank").alias("_warm")
            ).alias("w"),
            "vertex_id",
            "left",
        ).select(
            "vertex_id",
            F.coalesce("_warm", F.col("s.rank")).alias("rank"),
            "inv_degree",
        )
    # a resume reads the dangling mass from the snapshot's record; the
    # rank total shows whether a warm start needs renormalizing
    return _power_iterate(
        hg, "pagerank", state, pagerank_step, damping, max_iterations, tol,
        [_dangling_mass(), F.sum("rank").alias("total")], checkpoint_dir, resume,
    )


def _dangling_mass() -> Column:
    return F.sum(F.when(F.col("inv_degree").isNull(), F.col("rank"))).alias("dang")


def _power_iterate(
    hg: Hypergraph,
    name: str,
    state0: DataFrame,
    step_fn,
    damping: float,
    max_iterations: int,
    tol: float,
    init_observe: list[Column],
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> PageRankResult:
    """The PageRank/PPR loop: ``step_fn(hg, state, dangling, damping)``
    per iteration until the L1 delta drops below ``tol``."""

    def step(state: DataFrame, row: dict) -> DataFrame:
        dangling = float(row["dang"])
        total = row.get("total", 1.0)
        if abs(total - 1.0) > 1e-12:
            # renormalize a warm start over a grown vertex set to a
            # probability vector; lazy — materialized by iteration 1's
            # checkpoint, no extra action (dangling scales with it)
            state = state.withColumn("rank", F.col("rank") / F.lit(total))
            dangling /= total
        return step_fn(hg, state, dangling, damping)

    cores = hg.spark.sparkContext.defaultParallelism
    res = fixed_point(
        name, state0, step,
        [F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("delta"), _dangling_mass()],
        # the init row carries no delta
        lambda row: "delta" in row and row["delta"] < tol,
        partitions=loop_partitions(hg.count_incidence(), cores),
        max_iterations=max_iterations, init_observe=init_observe,
        checkpoint_dir=checkpoint_dir, resume=resume,
    )
    return PageRankResult(
        ranks=res.state.select("vertex_id", "rank"),
        iterations=res.iterations,
        converged=res.converged,
        deltas=[float(r["delta"]) for r in res.records],
    )


def ppr_state_init(hg: Hypergraph, seeds: list[int]) -> DataFrame:
    """(vertex_id, rank=s, inv_degree|null, s) where s is the restart
    vector: 1/|seeds| on seed vertices, 0 elsewhere.  The restart weight
    RIDES THE STATE (baked in once as a literal isin) so no per-iteration
    seed join or broadcast is needed."""
    if not seeds:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    inv_degree = hg.incidence_by_vertex.groupBy("vertex_id").agg(
        (F.lit(1.0) / F.count("*")).alias("inv_degree")
    )
    s = (
        F.when(F.col("vertex_id").isin([int(x) for x in seeds]), 1.0 / len(seeds))
        .otherwise(0.0)
        .cast("double")
    )
    return hg.vertices().join(inv_degree, "vertex_id", "left").select(
        "vertex_id", s.alias("rank"), "inv_degree", s.alias("s")
    )


def ppr_step(
    hg: Hypergraph, state: DataFrame, dangling_mass: float, damping: float
) -> DataFrame:
    """One personalized power iteration: rank'(v) =
    (1-d + d*dangling_mass) * s(v) + d * gathered(v) — restart AND
    dangling mass both return to the seed distribution (standard PPR
    with dangling-to-restart semantics)."""
    gathered = _walk_gather(hg, state)
    coef = (1.0 - damping) + damping * dangling_mass
    return state.join(gathered, "vertex_id", "left").select(
        "vertex_id",
        (F.lit(coef) * F.col("s")
         + F.lit(damping) * F.coalesce("gathered", F.lit(0.0))).alias("rank"),
        "inv_degree",
        "s",
        F.col("rank").alias("_old"),
    )


def personalized_pagerank(
    hg: Hypergraph,
    seeds: list[int],
    damping: float = 0.85,
    max_iterations: int = 100,
    tol: float = 1e-9,
) -> PageRankResult:
    """PPR to L1 delta < tol (same loop as hypergraph_pagerank)."""
    return _power_iterate(
        hg, "ppr", ppr_state_init(hg, seeds), ppr_step, damping, max_iterations, tol,
        [_dangling_mass()],
    )
