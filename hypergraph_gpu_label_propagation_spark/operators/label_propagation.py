"""Hypergraph label propagation: the reference's two-phase superstep as
DataFrame gather-scatter, iterated by a Python driver loop.

Superstep contract (reference semantics, SURVEY.md section 2.4; all four
backends identical — src/openmp/label_propagation_openmp.cpp:58-158):

1. edge gather: edge_label[e] = majority(labels of member vertices)
2. vertex gather: label[v] = majority(labels of incident edges);
   degree-0 vertices get label 0
3. changes = count(new != old); stop iff changes/nv < tolerance
   (strict <, checked after applying the update)

The loop itself (one Spark job per superstep with the change count
observed on it, lineage truncation, snapshots and resume) is
plans/loop.py::fixed_point.

Scale design:
- both joins hit the pre-partitioned incidence layouts (the frozen
  dual-CSR analog) — only the (small, one-row-per-id) label frames
  shuffle each superstep;
- the majority kernel is a narrow (key, label, count) aggregation per
  phase (see operators/majority.py) — map-side partial aggregation
  absorbs hyperedge/vertex skew exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.majority import (
    majority_label_grouped_sql,
    majority_label_narrow,
)
from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_partitions

DEFAULT_MAX_LABELS = 10  # argparse.cpp:277 / cuda.cu:13


def edge_majority_step(
    hg_incidence_by_vertex: DataFrame,
    vertex_labels: DataFrame,
    max_labels: int = DEFAULT_MAX_LABELS,
) -> DataFrame:
    """Phase 1: (edge_id, label) — per-edge majority of member-vertex
    labels, one row per edge of the incidence: the grouped vote and the
    coalesce to 0 that :func:`lp_superstep`'s first superstep runs."""
    gathered = hg_incidence_by_vertex.join(vertex_labels, "vertex_id")
    edge_universe = hg_incidence_by_vertex.select("edge_id").distinct()
    return majority_label_narrow(gathered, "edge_id", edge_universe, "label", max_labels)


def weighted_vertex_majority_step(
    hg: Hypergraph,
    edge_labels: DataFrame,
    vertex_universe: DataFrame,
    max_labels: int = DEFAULT_MAX_LABELS,
) -> DataFrame:
    """Phase 2, WEIGHTED variant (reference README.md:153: "weight
    1/edge_size per neighbor occurrence" — described in the README but
    implemented by no reference backend; unit weights are normative, so
    this is flag-gated and default-off).

    Each incident hyperedge votes its label with weight 1/edge_size;
    winner = smallest label attaining the max weighted count; degree-0
    vertices get label 0.  Weighted sums are quantized to 9 decimals
    before the argmax so mathematically-equal unit-fraction sums (e.g.
    1/3 + 1/6 vs 1/2) compare equal regardless of FP summation order —
    keeps the result deterministic across partitionings and engines.
    """
    w = hg.incidence_by_edge.groupBy("edge_id").agg(
        (F.lit(1.0) / F.count("*")).alias("_w")
    )
    votes = (
        hg.incidence_by_edge.join(edge_labels, "edge_id")
        .join(w, "edge_id")
        .select("vertex_id", "label", "_w")
        .filter((F.col("label") >= 0) & (F.col("label") < max_labels))
    )
    counted = votes.groupBy("vertex_id", "label").agg(
        F.round(F.sum("_w"), 9).alias("_c")
    )
    best = counted.groupBy("vertex_id").agg(
        F.max(F.struct(F.col("_c"), (-F.col("label")).alias("_neg"))).alias("_b")
    )
    maj = best.select("vertex_id", (-F.col("_b._neg")).cast("int").alias("_maj"))
    return vertex_universe.join(maj, "vertex_id", "left").select(
        "vertex_id", F.coalesce("_maj", F.lit(0)).cast("int").alias("label")
    )


def lp_superstep(
    hg: Hypergraph,
    vertex_labels: DataFrame,
    max_labels: int = DEFAULT_MAX_LABELS,
    *,
    labels_in_range: bool = False,
    weighted: bool = False,
) -> DataFrame:
    """One full superstep; returns (vertex_id, label, changed).

    The labels frame always carries every vertex (one row per vertex),
    so a single left join against the phase-2 majority covers both the
    degree-0 -> label 0 rule (coalesce) and the change flag — one
    shuffle fewer than joining a separate vertex universe.

    Both phases vote with narrow (key, label, count) rows — two narrow
    shuffles per phase, ~3x less shuffle volume than the 10-wide
    count-vector vote it replaced on low-degree graphs (2.2-2.3x faster
    on the 20M-row kernel bench).  Exact incl. skew: partial aggregation emits
    <= max_labels rows per hot key per map partition.
    """
    # join strategy note (measured on the 20M-row kernel bench): letting
    # Catalyst broadcast the one-row-per-id frames beats forcing
    # shuffle_hash/merge at every parallelism level tested — the
    # broadcast build cost is lower than the extra exchanges the hints
    # introduce; revisit on a real cluster where driver egress matters
    #
    # edges whose every member is unlabeled drop out of the argmax and
    # are coalesced back to label 0 against the (co-partitioned,
    # shuffle-free) edge universe — reference all-zero-counts rule.
    # gather_to_* (r08, guide §2.4): when the one-row-per-id frame is
    # small enough to broadcast, the gather joins it against the layout
    # partitioned by the AGGREGATION key, so the majority groupBys below
    # run exchange-free — zero E-sized exchanges per superstep; too-big
    # frames (or salted layouts) fall back to the co-partitioned shuffle
    # path (exact either way — the majority aggregation is algebraic)
    gathered_e = hg.gather_to_edge(vertex_labels)
    if labels_in_range:
        # every input label is in [0, max_labels) (true from the second
        # superstep on — phase-2 output is always in range), so no edge
        # can drop out of the argmax: skip the universe-coalesce join
        edge_labels = majority_label_grouped_sql(
            gathered_e, "edge_id", "label", max_labels, "label"
        )
    else:
        edge_universe = hg.incidence_by_edge.select("edge_id").distinct()
        edge_labels = majority_label_narrow(
            gathered_e, "edge_id", edge_universe, "label", max_labels
        )
    if weighted:
        universe = vertex_labels.select("vertex_id")
        new = weighted_vertex_majority_step(hg, edge_labels, universe, max_labels)
        return vertex_labels.select(
            "vertex_id", F.col("label").alias("_old")
        ).join(new, "vertex_id").select(
            "vertex_id",
            "label",
            (F.col("label") != F.col("_old")).cast("int").alias("changed"),
        )
    gathered = hg.gather_to_vertex(edge_labels).select("vertex_id", "label")
    maj = majority_label_grouped_sql(gathered, "vertex_id", "label", max_labels, "_maj")
    new_label = F.coalesce("_maj", F.lit(0)).cast("int")
    return vertex_labels.join(maj, "vertex_id", "left").select(
        "vertex_id",
        new_label.alias("label"),
        (new_label != F.col("label")).cast("int").alias("changed"),
    )


@dataclass
class SuperstepMetrics:
    superstep: int
    changes: int
    change_ratio: float
    wall_ms: float


@dataclass
class LPResult:
    labels: DataFrame  # (vertex_id, label), one row per vertex
    iterations: int
    converged: bool
    metrics: list[SuperstepMetrics] = field(default_factory=list)


def label_propagation(
    hg: Hypergraph,
    init_labels: DataFrame | None = None,
    max_labels: int = DEFAULT_MAX_LABELS,
    max_iterations: int = 100,
    tolerance: float = 1e-6,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    weighted: bool = False,
) -> LPResult:
    """Run LP to convergence (reference loop openmp:58-158, defaults
    argparse.hpp:26-27: iterations=100, tolerance=1e-6).

    Round-shape rule: each superstep references the checkpointed label
    state on only ONE side of any stats-multiplied join (the other side
    is always the frozen incidence layout).

    ``checkpoint_dir`` enables durable per-superstep snapshots (labels
    parquet + metrics jsonl) for mid-run resume; ``resume=True`` picks
    up from the latest snapshot in that directory.  ``weighted`` enables
    the README.md:153 1/edge_size vote weights in phase 2 (default off —
    unit weights are the normative reference semantics).
    """
    labels = init_labels if init_labels is not None else hg.vertex_labels
    labels = labels.select(
        F.col("vertex_id").cast("long").alias("vertex_id"),
        F.col("label").cast("int").alias("label"),
    )
    nv = float(hg.num_vertices)
    if nv == 0:
        # reference guard: an empty hypergraph converges trivially with 0
        # iterations (label_propagation_openmp.cpp:23-29) — also keeps the
        # changes/nv convergence ratio below well-defined
        return LPResult(labels=labels, iterations=0, converged=True, metrics=[])

    def step(state: DataFrame, row: dict) -> DataFrame:
        # phase-2 output is always in [0, max_labels): from the second
        # superstep (or after a resume, whose snapshot is phase-2 output)
        # the sentinel path is dead code
        return lp_superstep(
            hg, state, max_labels,
            labels_in_range=row["superstep"] > 0, weighted=weighted,
        )

    cores = hg.spark.sparkContext.defaultParallelism
    res = fixed_point(
        "lp", labels, step, [F.sum("changed").alias("changes")],
        # strict <, post-update (openmp:148-154)
        lambda row: row["changes"] / nv < tolerance,
        partitions=loop_partitions(hg.count_incidence(), cores),
        max_iterations=max_iterations, checkpoint_dir=checkpoint_dir, resume=resume,
    )
    metrics = [
        SuperstepMetrics(r["superstep"], r["changes"], r["changes"] / nv, r["wall_ms"])
        for r in res.records
    ]
    return LPResult(
        labels=res.state, iterations=res.iterations, converged=res.converged, metrics=metrics
    )
