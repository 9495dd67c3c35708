"""Triangle counting on the clique-expanded projection of the hypergraph
(north rule sibling algorithm; spec: standard triple-join / node-iterator
triangle enumeration, cf. Suri & Vassilvitskii 2011).

Clique expansion: undirected simple edge {u,v} iff u != v co-occur in at
least one hyperedge.  We orient every edge low->high (u < v) so each
triangle u<v<w is counted exactly once by the two-hop join:

  wedges(u,v,w)   = adj(u,v) JOIN adj(v,w)
  triangles       = wedges SEMI-JOIN adj ON (u,w)

:func:`cooccurrence` is the one layout of the expansion per hypergraph,
read by triangles, coreness, k-core and k-truss.

Scale notes:
- clique expansion of a size-k hyperedge is O(k^2) pairs — a monorepo
  hyperedge with millions of files would explode, so
  ``clique_expansion(hg, max_edge_size)`` caps which hyperedges are
  expanded (standard for hypergraph motif counting; document the cap
  in results), and the family takes it materialized as ``adj=``;
- the pair-generation self-join runs on the edge-partitioned layout
  (co-partitioned on edge_id -> no extra shuffle);
- counting uses a semi-join, so no triangle materialization.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.plans.tuning import (
    fits_broadcast,
    loop_conf,
    loop_partitions,
    unsafe_row_bytes,
)

# target adjacency PAIRS per shuffle partition for the wedge join: the
# wedge intermediate (sum of C(out-degree, 2)) inflates well past the
# pair count, so the divisor is tighter than the loops' 500k-rows rule.
# Sized by the r05 sf1 A/B (11.96M pairs, local[32]): 32 partitions
# 183.7 s (spill-bound), 128 partitions 24.6 s, 256 partitions 175.6 s
# (over-split) — ~100k pairs/partition is the sweet spot, and the same
# formula leaves sf0.1 (1.2M pairs) at its measured-best 32.
PAIRS_PER_PARTITION = 100_000

PAIR_ROW_BYTES = unsafe_row_bytes(2)  # one (v, w) or (u, w) build row


def packed_pair_key(hi: str, lo: str):
    """``(hi << 32) + lo`` as one long: injective for ids in [0, 2^31).
    Both columns are cast to long first — ``shiftleft`` keeps its
    input's type and masks an int shift count to 5 bits, so on int
    columns a shift by 32 is a no-op and the key collapses to hi + lo."""
    return F.shiftleft(F.col(hi).cast("long"), 32) + F.col(lo).cast("long")


def _oriented_triangles(
    adj: DataFrame, n_pairs: int, max_id: int | None = None
) -> DataFrame:
    """(u, v, w) oriented triangle rows (u < v < w, each triangle once).
    While the pair set passes fits_broadcast both joins broadcast it
    (r08), so the wedge intermediate is never shuffled; else the r05
    shuffle shape (wedge-partitioned sort-merge + semi).

    ``max_id``: exclusive upper bound on vertex ids when the caller
    knows it (hg.num_vertices); below 2^31 the closing-edge key is
    packed into one long so the broadcast relation is a
    LongHashedRelation (cheaper build + probe) instead of a
    composite-key map."""
    right = adj.select(F.col("u").alias("v"), F.col("v").alias("w"))
    closing = adj.select(F.col("u"), F.col("v").alias("w"))
    if fits_broadcast(adj.sparkSession, n_pairs, PAIR_ROW_BYTES):
        wedges = adj.join(F.broadcast(right), "v")
        if max_id is not None and 0 < max_id < 2**31:
            closing_packed = adj.select(packed_pair_key("u", "v").alias("_uw"))
            return (
                wedges.withColumn("_uw", packed_pair_key("u", "w"))
                .join(F.broadcast(closing_packed), "_uw", "left_semi")
                .drop("_uw")
            )
        return wedges.join(F.broadcast(closing), ["u", "w"], "left_semi")
    wedges = adj.join(right, "v")
    return wedges.join(closing, ["u", "w"], "left_semi")


def _wedge_partitions(spark, n_pairs: int) -> int:
    cores = spark.sparkContext.defaultParallelism
    return max(cores, min(8 * cores, math.ceil(n_pairs / PAIRS_PER_PARTITION)))


def clique_expansion(hg: Hypergraph, max_edge_size: int | None = None) -> DataFrame:
    """Distinct undirected pairs (u, v) with u < v sharing a hyperedge."""
    inc = hg.incidence_by_edge
    if max_edge_size is not None:
        ok = (
            inc.groupBy("edge_id")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") <= max_edge_size)
            .select("edge_id")
        )
        inc = inc.join(ok, "edge_id")
    a = inc.select("edge_id", F.col("vertex_id").alias("u"))
    b = inc.select("edge_id", F.col("vertex_id").alias("v"))
    return (
        a.join(b, "edge_id")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


@dataclass(frozen=True)
class Cooccurrence:
    pairs: DataFrame  # distinct (u, v), u < v; stays readable after hg.unpersist()
    n_pairs: int  # rows of pairs
    sym: DataFrame  # (u, v) both directions, partitioned by u, persisted
    partitions: int  # sym's partition count


def cooccurrence(
    hg: Hypergraph, pairs: DataFrame | None = None, n_pairs: int | None = None
) -> Cooccurrence:
    """The co-occurrence layout of ``hg``, built once and held on it.

    ``pairs``: the caller's materialized expansion as given (e.g. a
    capped ``clique_expansion(hg, max_edge_size)``), else the full one,
    localCheckpointed with its count observed on the same job; a
    checkpoint, so a result joining it (k-truss membership) outlives
    ``hg.unpersist()`` (persist+count measured within noise of it on
    min, BENCH_SCALING.md "triangle_count materialization A/B").
    ``n_pairs`` is counted at most once, not at all when passed.  The
    memo key is the source: no ``pairs`` reuses only a layout of the
    full expansion; another ``pairs`` object replaces the held layout.

    ``sym``: both directions, ids narrowed to int when they fit (half
    the bytes, exact), repartitioned by ``u`` into max(loop_partitions(
    2 * n_pairs), cores) and persist()ed, lazily: the first job reading
    it builds it (the triangle passes never do).  Not a checkpoint,
    whose scan loses outputPartitioning, so the coreness and k-core
    groupBy(u) would re-exchange it.  Pair-sized, not incidence-sized:
    the expansion is 4x the incidence at sf1 (BENCH_SCALING.md round
    5).  No broadcast decision is made here.  The wedge joins of
    triangles and k-truss keep their own :func:`_wedge_partitions`
    rule (<= 8x cores), because their intermediate inflates far past
    the pair count: r05's sf1 A/B (11.96M pairs, local[32]) took
    183.7 s at 32 partitions, this rule's cap there, and 24.6 s at 128.
    """
    held = hg._cooccurrence
    if held is not None:
        if pairs is held[0] or pairs is held[1].pairs:
            return held[1]
        held[1].sym.unpersist()
    source = pairs
    if pairs is None:
        obs = Observation("cooccurrence_pairs")
        pairs = (
            clique_expansion(hg).observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_pairs = obs.get["n"]
    elif n_pairs is None:
        n_pairs = pairs.count()
    cores = hg.spark.sparkContext.defaultParallelism
    partitions = max(loop_partitions(2 * n_pairs, cores), cores)
    sym = pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if 0 < hg.num_vertices < 2**31:
        sym = sym.select(F.col("u").cast("int").alias("u"), F.col("v").cast("int").alias("v"))
    sym = sym.repartition(partitions, "u").persist(StorageLevel.MEMORY_AND_DISK)
    layout = Cooccurrence(pairs, n_pairs, sym, partitions)
    hg._cooccurrence = (source, layout)
    return layout


def triangle_count(
    hg: Hypergraph, adj: DataFrame | None = None, n_pairs: int | None = None
) -> DataFrame:
    """Single-row DataFrame (n_triangles: long).

    ``adj``/``n_pairs``: optional materialized clique expansion
    (distinct u < v pairs) and its row count, the source of the
    :func:`cooccurrence` layout every family member reads.  The wedge
    join's shuffle partitions are sized from the pair count (see
    PAIRS_PER_PARTITION — the r05 sf1 audit caught the fixed session
    default going 7.5x spill-slow at 10x data).  The one-row result is
    materialized inside the partition scope (the conf must be live at
    action time), so it reads nothing from the layout afterwards.
    """
    lay = cooccurrence(hg, adj, n_pairs)
    return count_triangles(lay.pairs, lay.n_pairs, max_id=hg.num_vertices)


def count_triangles(pairs: DataFrame, n_pairs: int, max_id: int | None) -> DataFrame:
    """Single-row (n_triangles: long) over materialized distinct u < v
    ``pairs`` of ``n_pairs`` rows, counted and localCheckpointed inside
    the :func:`_wedge_partitions` scope.  ``max_id`` as in
    :func:`_oriented_triangles`: None when the ids are not known to lie
    in [0, 2^31), so the packed key never fires on them."""
    spark = pairs.sparkSession
    with loop_conf(spark, _wedge_partitions(spark, n_pairs), adaptive=True):
        tri = _oriented_triangles(pairs, n_pairs, max_id=max_id)
        return tri.agg(F.count("*").alias("n_triangles")).localCheckpoint(eager=True)


def per_vertex_triangle_count(hg: Hypergraph, adj: DataFrame | None = None) -> DataFrame:
    """(vertex_id, n_triangles) — triangles incident to each vertex;
    degree-0 / triangle-free vertices get 0.  Layout and partition
    sizing as in :func:`triangle_count`."""
    lay = cooccurrence(hg, adj)
    with loop_conf(hg.spark, _wedge_partitions(hg.spark, lay.n_pairs), adaptive=True):
        tri = _oriented_triangles(lay.pairs, lay.n_pairs, max_id=hg.num_vertices)
        per = (
            tri.select(F.explode(F.array("u", "v", "w")).alias("vertex_id"))
            .groupBy("vertex_id")
            .agg(F.count("*").alias("cnt"))
        )
        return (
            hg.vertices().join(per, "vertex_id", "left").select(
                "vertex_id",
                F.coalesce("cnt", F.lit(0)).cast("long").alias("n_triangles"),
            )
            .localCheckpoint(eager=True)  # vertex-sized — materialize in-scope
        )


def modularity(hg, labels, adj: DataFrame | None = None):
    """Newman modularity of a vertex labeling on the clique-expanded
    co-occurrence graph: Q = sum_c [ e_c/m - (d_c/(2m))^2 ] with e_c =
    intra-community edges, d_c = total degree of community c, m = total
    edges.  Reads the :func:`cooccurrence` layout (``adj`` as its
    source): m is its pair count, the degrees a groupBy on ``sym``'s
    partitioning key, the intra-community edges its ``pairs``.

    ``labels``: (vertex_id, label) one row per vertex (e.g. LP output).
    Returns a one-row DataFrame (modularity: double).
    """
    lay = cooccurrence(hg, adj)
    m = float(lay.n_pairs)
    deg = lay.sym.groupBy("u").agg(F.count("*").cast("double").alias("d"))
    la = labels.select(F.col("vertex_id").alias("u"), F.col("label").alias("_la"))
    lb = labels.select(F.col("vertex_id").alias("v"), F.col("label").alias("_lb"))
    intra = (
        lay.pairs.join(la, "u").join(lb, "v")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").cast("double").alias("e"))
    )
    dc = (
        labels.join(deg, labels.vertex_id == deg.u)
        .groupBy("label")
        .agg(F.sum("d").alias("dsum"))
    )
    per_label = dc.join(intra, "label", "left").select(
        (F.coalesce("e", F.lit(0.0)) / F.lit(m)
         - F.pow(F.col("dsum") / F.lit(2 * m), 2)).alias("q")
    )
    return per_label.agg(F.round(F.sum("q"), 6).alias("modularity"))
