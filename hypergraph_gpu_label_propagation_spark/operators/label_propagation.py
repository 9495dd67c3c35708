"""Hypergraph label propagation: the reference's two-phase superstep as
DataFrame gather-scatter, iterated by a Python driver loop.

Superstep contract (reference semantics, SURVEY.md section 2.4; all four
backends identical — src/openmp/label_propagation_openmp.cpp:58-158):

1. edge gather: edge_label[e] = majority(labels of member vertices)
2. vertex gather: label[v] = majority(labels of incident edges);
   degree-0 vertices get label 0
3. changes = count(new != old); stop iff changes/nv < tolerance
   (strict <, checked after applying the update)

The driver loop crosses the Python/JVM boundary exactly where the
reference crosses host/device: at superstep launch (one Spark job) and
at the change-count reduction (one collected scalar — the analog of the
reference's device->host ``changes`` copy, cuda.cu:275-277).

Scale design:
- both joins hit the pre-partitioned incidence layouts (the frozen
  dual-CSR analog) — only the (small, one-row-per-id) label frames
  shuffle each superstep;
- the majority kernel is a narrow (key, label, count) aggregation per
  phase (see operators/majority.py) — map-side partial aggregation
  absorbs hyperedge/vertex skew exactly;
- ``localCheckpoint`` per superstep truncates lineage so plan size stays
  O(1) in the iteration count;
- optional durable checkpointing writes the label state + metrics per
  superstep so a killed run resumes mid-iteration (north rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.majority import (
    majority_label,
    majority_label_grouped_sql,
)
from hypergraph_gpu_label_propagation_spark.plans.checkpointing import (
    find_latest_snapshot,
    write_snapshot,
)
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_conf, loop_partitions

DEFAULT_MAX_LABELS = 10  # argparse.cpp:277 / cuda.cu:13


def edge_majority_step(
    hg_incidence_by_vertex: DataFrame,
    vertex_labels: DataFrame,
    max_labels: int = DEFAULT_MAX_LABELS,
) -> DataFrame:
    """Phase 1: (edge_id, label) — per-edge majority of member-vertex labels.

    Edges exist iff they have >= 1 member (empty edges are rejected at
    construction, hypergraph.cpp:17), so an inner join covers every edge.
    """
    gathered = hg_incidence_by_vertex.join(vertex_labels, "vertex_id")
    return majority_label(gathered, "edge_id", "label", max_labels, out_col="label")


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
    shuffles per phase, ~3x less shuffle volume than the bounded
    count-vector form on low-degree graphs (2.2-2.3x faster on the
    20M-row kernel bench).  Exact incl. skew: partial aggregation emits
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
    best_e = majority_label_grouped_sql(gathered_e, "edge_id", "label", max_labels, "_m")
    if labels_in_range:
        # every input label is in [0, max_labels) (true from the second
        # superstep on — phase-2 output is always in range), so no edge
        # can drop out of the argmax: skip the universe-coalesce join
        edge_labels = best_e.select("edge_id", F.col("_m").alias("label"))
    else:
        edge_universe = hg.incidence_by_edge.select("edge_id").distinct()
        edge_labels = edge_universe.join(best_e, "edge_id", "left").select(
            "edge_id", F.coalesce("_m", F.lit(0)).cast("int").alias("label")
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
    checkpoint_every: int = 1,
    resume: bool = False,
    verbose: bool = False,
    weighted: bool = False,
) -> LPResult:
    """Run LP to convergence (reference loop openmp:58-158, defaults
    argparse.hpp:26-27: iterations=100, tolerance=1e-6).

    Round-shape rule: each superstep references the checkpointed label
    state on only ONE side of any stats-multiplied join (the other side
    is always the frozen incidence layout), so Catalyst's sizeInBytes
    estimate grows linearly in supersteps — see
    plans/inspect.py::stats_size_bits and tests/test_plans.py::
    test_iterative_state_stats_stay_linear for the BigInt planning
    pathology a state-squared shape causes.

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
    start_step = 0
    if resume and checkpoint_dir:
        found = find_latest_snapshot(hg.spark, checkpoint_dir, "labels")
        if found is not None:
            labels, start_step = found
            if verbose:
                print(f"[lp] resuming from superstep {start_step}")

    nv = float(hg.num_vertices)
    if nv == 0:
        # reference guard: an empty hypergraph converges trivially with 0
        # iterations (label_propagation_openmp.cpp:23-29) — also keeps the
        # changes/nv convergence ratio below well-defined
        return LPResult(labels=labels, iterations=start_step, converged=True, metrics=[])

    labels = labels.localCheckpoint(eager=True)
    metrics: list[SuperstepMetrics] = []
    converged = False
    iterations = start_step

    # loop-scoped tuning: AQE off (its per-exchange barriers dominate the
    # superstep; the loop's frame shapes are known and stable) and
    # shuffle partitions sized to the incidence data — see plans/tuning.py
    cores = hg.spark.sparkContext.defaultParallelism
    with loop_conf(hg.spark, loop_partitions(hg.count_incidence(), cores)):
        for step in range(start_step, max_iterations):
            t0 = time.monotonic()
            # observe() folds the change-count reduction into the same job
            # that materializes the checkpoint — ONE Spark action per
            # superstep (the reference's single device->host barrier)
            obs = Observation(f"lp_changes_{step}")
            stepped = (
                lp_superstep(
                    hg, labels, max_labels,
                    # phase-2 output is always in [0, max_labels): from the
                    # second superstep (or after a resume, whose snapshot is
                    # phase-2 output) the sentinel path is dead code
                    labels_in_range=(step > start_step or (resume and start_step > 0)),
                    weighted=weighted,
                )
                .observe(obs, F.sum("changed").alias("changes"))
                .localCheckpoint(eager=True)
            )
            changes = obs.get["changes"] or 0
            # memory-lifetime note (r06 review): unpersist() only clears
            # cacheManager entries, so on a localCheckpoint-backed frame
            # it is a no-op — the checkpointed blocks are actually freed
            # when the superseded frame is GC'd on the driver and the
            # ContextCleaner collects its RDD.  The rebinding below is
            # what releases memory; the unpersist stays for the cases
            # where a caller passed a persist()-ed initial frame.
            labels.unpersist()
            labels = stepped.select("vertex_id", "label")
            wall_ms = (time.monotonic() - t0) * 1000.0
            iterations = step + 1
            m = SuperstepMetrics(iterations, int(changes), changes / nv if nv else 0.0, wall_ms)
            metrics.append(m)
            if verbose and iterations % 10 == 0:
                print(f"[lp] superstep {iterations}: changes={changes}")
            if checkpoint_dir and (iterations % checkpoint_every == 0):
                # frontier size (= changes) + per-partition lineage ride
                # the snapshot (north rule resumability metadata)
                write_snapshot(
                    labels, checkpoint_dir, "labels", iterations, m.__dict__,
                    manifest_extra={"frontier": int(changes)},
                )
            if changes / nv < tolerance:  # strict <, post-update (openmp:148-154)
                converged = True
                break

    return LPResult(labels=labels, iterations=iterations, converged=converged, metrics=metrics)
