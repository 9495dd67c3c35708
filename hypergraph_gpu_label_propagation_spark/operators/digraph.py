"""Plain-graph algorithms over a simple edge table (src, dst).

The hypergraph operators cover the reference's data model; this module
covers the ordinary link-graph case (north rule: "a link-graph
analytics engine ... over an edge table") for users whose input is
already a pairwise edge list — web graphs, citation graphs, the
clique-expanded projection.  Everything reuses the same design rules:
co-partitioned cached layouts, algebraic partial aggregation, and the
plans/loop.py::fixed_point loop.

Semantics:
- pagerank_edges: standard directed PageRank (Page et al. 1999),
  contributions r/outdeg along edges, dangling mass redistributed
  uniformly, teleport (1-d)/n; converges on L1 delta.
- connected_components_edges: UNDIRECTED connectivity via iterative
  min-label exchange over the symmetrized edge list.
- triangle_count_edges: triangles of the undirected simple graph
  (each edge {u,v} counted once with u<v ordering), by the same
  counting kernel as the hypergraph triangle_count.
- hits_edges: HITS hubs/authorities, a fixed number of L1-normalized
  rounds.
- lp_edges: the reference's majority-vote LP run on a pairwise graph —
  equivalent to hypergraph LP where every hyperedge has size 2.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hypergraph_gpu_label_propagation_spark.operators.triangles import count_triangles
from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected simple adjacency: both directions, no self loops, dedup."""
    fwd = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    rev = edges.select(
        F.col("dst").cast("long").alias("src"), F.col("src").cast("long").alias("dst")
    )
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def vertex_universe(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vertex_id"))
        .unionByName(edges.select(F.col("dst").alias("vertex_id")))
        .distinct()
    )


@dataclass
class EdgePageRankResult:
    ranks: DataFrame
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)


def pagerank_edges(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int = 100,
    tol: float = 1e-7,
    num_partitions: int | None = None,
) -> EdgePageRankResult:
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .repartition(num_partitions, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = vertex_universe(e).persist(StorageLevel.MEMORY_AND_DISK)
    n = uni.count()
    if n == 0:
        raise ValueError("pagerank_edges: empty edge table (no vertices)")
    inv_out = e.groupBy("src").agg((F.lit(1.0) / F.count("*")).alias("inv_out"))
    state0 = uni.join(
        inv_out, uni.vertex_id == inv_out.src, "left"
    ).select("vertex_id", F.lit(1.0 / n).alias("rank"), "inv_out")

    def step(state: DataFrame, row: dict) -> DataFrame:
        contrib = state.filter(F.col("inv_out").isNotNull()).select(
            F.col("vertex_id").alias("src"), (F.col("rank") * F.col("inv_out")).alias("c")
        )
        gathered = (
            e.join(contrib, "src")
            .groupBy(F.col("dst").alias("vertex_id"))
            .agg(F.sum("c").alias("g"))
        )
        base = (1.0 - damping) / n + damping * float(row["dang"]) / n
        return state.join(gathered, "vertex_id", "left").select(
            "vertex_id",
            (F.lit(base) + F.lit(damping) * F.coalesce("g", F.lit(0.0))).alias("rank"),
            "inv_out",
            F.col("rank").alias("_old"),
        )

    dangling = F.col("inv_out").isNull()
    res = fixed_point(
        "pagerank_edges", state0, step,
        [F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("delta"),
         F.sum(F.when(dangling, F.col("rank"))).alias("dang")],
        # the init row carries no delta
        lambda row: "delta" in row and row["delta"] < tol,
        partitions=int(spark.conf.get("spark.sql.shuffle.partitions")), adaptive=True,
        max_iterations=max_iterations,
        # uniform start: dangling mass = dangling count / n
        init_observe=[(F.count(F.when(dangling, 1)) / F.lit(float(n))).alias("dang")],
    )
    e.unpersist()
    uni.unpersist()
    return EdgePageRankResult(
        res.state.select("vertex_id", "rank"), res.iterations, res.converged,
        [float(r["delta"]) for r in res.records],
    )


@dataclass
class EdgeCCResult:
    components: DataFrame
    iterations: int
    converged: bool


def connected_components_edges(edges: DataFrame, max_iterations: int = 200) -> EdgeCCResult:
    """Min-label propagation over the symmetrized adjacency, one hop per
    round.  Kept beside the hypergraph CC on purpose: through
    ``Hypergraph.freeze`` + ``connected_components`` the same components
    take a round fewer (pointer jumping), but freeze builds two
    incidence layouts first and the whole ran slower at sf0.1
    (BENCH_SCALING.md "One copy of each graph kernel")."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    adj = _symmetrize(edges).repartition(parts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    # universe from the ORIGINAL edges: vertices whose only edges are
    # self-loops disappear from the symmetrized adjacency but are still
    # vertices (each its own singleton component)
    comp = vertex_universe(edges).select("vertex_id", F.col("vertex_id").alias("component"))

    def step(comp: DataFrame, _) -> DataFrame:
        nbr_min = (
            adj.join(comp, adj.src == comp.vertex_id)
            .groupBy(F.col("dst").alias("vertex_id"))
            .agg(F.min("component").alias("nbr"))
        )
        return comp.join(nbr_min, "vertex_id", "left").select(
            "vertex_id",
            F.least("component", F.coalesce("nbr", "component")).alias("component"),
            (
                F.least("component", F.coalesce("nbr", "component")) != F.col("component")
            ).cast("int").alias("changed"),
        )

    res = fixed_point(
        "cc_edges", comp, step, [F.sum("changed").alias("changes")],
        lambda row: row["changes"] == 0,
        partitions=parts, adaptive=True, max_iterations=max_iterations,
    )
    adj.unpersist()
    return EdgeCCResult(res.state, res.iterations, res.converged)


def triangle_count_edges(edges: DataFrame) -> DataFrame:
    """Single-row (n_triangles) over the undirected simple graph: the
    distinct (least, greatest) pairs, self-loops dropped, counted by
    triangles.py::count_triangles.  Edge-table ids may be negative or
    >= 2^31, so the packed pair key stays off (``max_id=None``)."""
    src, dst = F.col("src").cast("long"), F.col("dst").cast("long")
    obs = Observation("triangle_count_edges_pairs")
    pairs = (
        edges.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return count_triangles(pairs, obs.get["n"], max_id=None)


def lp_edges(
    edges: DataFrame,
    init_labels: DataFrame,
    max_labels: int = 10,
    max_iterations: int = 100,
    tolerance: float = 1e-6,
):
    """Reference LP semantics on a pairwise graph: every (src,dst) row
    becomes a size-2 hyperedge.  Returns operators.label_propagation.LPResult."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        label_propagation,
    )

    pairs = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    # Single scan: number the row, then explode BOTH endpoints from that one
    # row.  A unionByName of two branches would re-evaluate
    # monotonically_increasing_id() independently per branch — under a
    # nondeterministic input order (post-shuffle, task retry) the same pair
    # could get two different edge_ids and silently split into singletons.
    incidence = (
        pairs.withColumn("edge_id", F.monotonically_increasing_id())
        .select("edge_id", F.explode(F.array("src", "dst")).alias("vertex_id"))
    )
    hg = Hypergraph.freeze(edges.sparkSession, incidence)
    res = label_propagation(
        hg, init_labels, max_labels=max_labels,
        max_iterations=max_iterations, tolerance=tolerance,
    )
    hg.unpersist()
    return res


def hits_edges(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """HITS (Kleinberg 1999) over the directed edge table, FIXED
    iteration count with L1 normalization each round (L1 instead of the
    classic L2: same fixed-point ranking, and sum-normalization keeps
    the arithmetic exactly reproducible in the SQL twin — no sqrt).

    Per round: auth'(v) = sum over in-edges of hub(u), normalized to
    sum 1; hub'(u) = sum over out-edges of the NEW auth, normalized.
    The normalizing sums ride as one-row frames (crossJoin) so each
    round stays one lazy plan; plans/loop.py::fixed_point runs the
    rounds, observing the hub and auth totals (1 after the L1
    normalization) as each round's record.  Returns (vertex_id, hub,
    auth) rounded to 6.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = vertex_universe(e).persist(StorageLevel.MEMORY_AND_DISK)
    n = uni.count()
    if n == 0:
        raise ValueError("hits_edges: empty edge table (no vertices)")
    state0 = uni.select(
        "vertex_id",
        F.lit(1.0 / n).cast("double").alias("hub"),
        F.lit(1.0 / n).cast("double").alias("auth"),
    )

    def step(state: DataFrame, _) -> DataFrame:
        a_raw = (
            e.join(state.select(F.col("vertex_id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("vertex_id"))
            .agg(F.sum("hub").alias("_ar"))
        )
        a_sum = a_raw.agg(F.sum("_ar").alias("_as"))
        # every edge has a src, and hub mass never fully vanishes from
        # all srcs, so _as > 0 on any non-empty edge set
        auth = (
            uni.join(a_raw, "vertex_id", "left")
            .crossJoin(a_sum)
            .select(
                "vertex_id",
                (F.coalesce("_ar", F.lit(0.0)) / F.col("_as")).alias("auth"),
            )
        )
        h_raw = (
            e.join(auth.select(F.col("vertex_id").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("vertex_id"))
            .agg(F.sum("auth").alias("_hr"))
        )
        h_sum = h_raw.agg(F.sum("_hr").alias("_hs"))
        return (
            uni.join(h_raw, "vertex_id", "left")
            .crossJoin(h_sum)
            .select(
                "vertex_id",
                (F.coalesce("_hr", F.lit(0.0)) / F.col("_hs")).alias("hub"),
            )
            .join(auth, "vertex_id")
        )

    res = fixed_point(
        "hits_edges", state0, step,
        [F.sum("hub").alias("hub_total"), F.sum("auth").alias("auth_total")],
        # a fixed round count: the rule never stops the loop early
        lambda row: False,
        partitions=int(spark.conf.get("spark.sql.shuffle.partitions")), adaptive=True,
        max_iterations=iterations,
    )
    e.unpersist()
    uni.unpersist()
    return res.state.select(
        "vertex_id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )
