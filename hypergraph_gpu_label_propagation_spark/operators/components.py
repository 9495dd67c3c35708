"""Connected components via iterative min-label propagation over the
bipartite incidence relation (north rule sibling algorithm).

Two vertices are connected iff they share a hyperedge.  Component id =
min vertex id in the component.  Each superstep:

  edge_min[e]   = min over members of comp[v]
  comp'[v]      = min(comp[v], min over incident edges of edge_min[e])

i.e. one round of min-aggregation through the bipartite graph — the same
join/agg shuffle shape as an LP superstep with ``min`` instead of the
majority vote.  ``min`` is algebraic, so partial aggregation absorbs
skew.  Converges in O(hypergraph diameter) supersteps, iterated by
plans/loop.py::fixed_point.

Round-shape rule (see plans/inspect.py::stats_size_bits and
tests/test_plans.py::test_iterative_state_stats_stay_linear): the
min-propagation rounds reference state once per stats-multiplied join
(the incidence side is the frozen layout).  The pointer-jumping hop IS
a state x state self-join — its size estimate doubles its bit length
each round — but pointer jumping also bounds rounds at O(log diameter)
(measured <= 8 everywhere), so the estimate stays ~thousands of bits,
far below the BigInt planning pathology's onset (~20+ doublings).
Disable ``pointer_jumping`` before raising ``max_iterations`` past ~30.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_partitions


@dataclass
class CCResult:
    components: DataFrame  # (vertex_id, component)
    iterations: int
    converged: bool
    changes_per_iter: list[int] = field(default_factory=list)


def cc_superstep(hg: Hypergraph, comp: DataFrame, pointer_jumping: bool = True) -> DataFrame:
    """One min-propagation round; returns (vertex_id, component, changed).

    With ``pointer_jumping`` each round finishes with one path-compression
    hop, comp'' [v] = comp'[comp'[v]] (valid because component labels ARE
    vertex ids and comp[u] <= u always, so the hop stays in-component and
    is monotone) — the large-star move of Kiveris et al.'s alternating
    algorithm, adapted to the bipartite layout.  Rounds drop from
    O(diameter) to O(log diameter) on path-like graphs for the cost of
    one extra one-row-per-vertex self-join; hub-edge hypergraphs (the
    common case here) see negligible overhead.
    """
    # gather_to_* (r08, guide §2.4): small one-row-per-id frames are
    # broadcast against the layout partitioned by the aggregation key,
    # so both min-gathers below run with ZERO E-sized exchanges; big
    # frames (or salted layouts) fall back to the co-partitioned
    # shuffle path — exact either way (min is algebraic)
    edge_min = (
        hg.gather_to_edge(comp)
        .groupBy("edge_id")
        .agg(F.min("component").alias("edge_min"))
    )
    gathered = (
        hg.gather_to_vertex(edge_min)
        .groupBy("vertex_id")
        .agg(F.min("edge_min").alias("gather_min"))
    )
    prop = comp.join(gathered, "vertex_id", "left").select(
        "vertex_id",
        F.least("component", F.coalesce("gather_min", "component")).alias("component"),
        F.col("component").alias("_old"),
    )
    if pointer_jumping:
        hop = prop.select(
            F.col("vertex_id").alias("component"), F.col("component").alias("_hop")
        )
        prop = prop.join(hop, "component", "left").select(
            "vertex_id",
            F.coalesce("_hop", "component").alias("component"),
            "_old",
        )
    return prop.select(
        "vertex_id",
        "component",
        (F.col("component") != F.col("_old")).cast("int").alias("changed"),
    )


def connected_components(
    hg: Hypergraph,
    max_iterations: int = 200,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    pointer_jumping: bool = True,
    initial: DataFrame | None = None,
) -> CCResult:
    """``initial``: optional (vertex_id, component) warm start — must
    satisfy the invariant component[v] <= v with each component value a
    vertex id of the same component (previous-run minima qualify; the
    incremental-CC streamer uses this).  Because min-propagation's fixed
    point is unique and labels only decrease, any valid warm start
    converges to the same answer as the cold run, just faster."""
    if initial is not None:
        comp = initial.select(
            F.col("vertex_id").cast("long"), F.col("component").cast("long")
        )
    else:
        comp = hg.vertices().select("vertex_id", F.col("vertex_id").alias("component"))
    cores = hg.spark.sparkContext.defaultParallelism
    res = fixed_point(
        "cc", comp, lambda state, _: cc_superstep(hg, state, pointer_jumping),
        [F.sum("changed").alias("changes")], lambda row: row["changes"] == 0,
        partitions=loop_partitions(hg.count_incidence(), cores),
        max_iterations=max_iterations, checkpoint_dir=checkpoint_dir, resume=resume,
    )
    return CCResult(components=res.state, iterations=res.iterations, converged=res.converged,
                    changes_per_iter=[r["changes"] for r in res.records])
