"""The hypergraph data model as Spark relations.

Reference mapping (SURVEY.md section 1.2):

- the reference's adjacency + inverse-incidence + dual-CSR
  ``FlatHypergraph`` (include/hypergraph.hpp:26-34, 118-122) is ONE
  bipartite relation ``incidence(edge_id: long, vertex_id: long)``;
  the two CSRs are the two hash-partitionings of that relation;
- ``labels_`` (include/hypergraph.hpp:120) is
  ``vertex_labels(vertex_id: long, label: int)``, defaulting to 0
  (src/common/hypergraph.cpp:14);
- ``freeze()``/``flatten()`` (src/common/hypergraph.cpp:51-83) is
  "repartition by each side's key and persist": at cluster scale this
  is a pair of bucketed table writes so every superstep's joins are
  shuffle-free; in local mode ``persist()`` of an explicitly
  hash-partitioned DataFrame keeps the partitioning in the cached
  plan's outputPartitioning, which Catalyst reuses the same way.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from hypergraph_gpu_label_propagation_spark.plans.tuning import fits_broadcast, unsafe_row_bytes

INCIDENCE_SCHEMA = "edge_id long, vertex_id long"
LABELS_SCHEMA = "vertex_id long, label int"


@dataclass
class HypergraphFrames:
    """The raw relational form: one incidence table + one label table.

    ``incidence_pos`` optionally carries (edge_id, vertex_id, pos) with
    the member's position within its edge — loaders populate it so the
    interop writers can reproduce the reference's insertion-order member
    layout byte-exactly (hypergraph.cpp:293-326 preserves input order).
    Execution never needs it (edges are sets for LP semantics).
    """

    incidence: DataFrame
    vertex_labels: DataFrame
    num_vertices: int
    num_edges: int
    incidence_pos: DataFrame | None = None


@dataclass
class Hypergraph:
    """A frozen (execution-form) hypergraph.

    ``incidence_by_vertex`` / ``incidence_by_edge`` are the two
    partition layouts of the incidence relation — the Spark analog of
    the reference's vertex->edge and edge->vertex CSRs
    (src/common/hypergraph.cpp:59-75).
    """

    spark: SparkSession
    incidence_by_vertex: DataFrame
    incidence_by_edge: DataFrame
    vertex_labels: DataFrame
    num_vertices: int
    num_edges: int
    num_partitions: int
    incidence_rows: int | None = None
    # explicit skew salting (north rule: monorepo-sized hyperedges).
    # salt > 1 adds two extra layouts partitioned by (key, _salt) so the
    # superstep joins spread a hot key over `salt` partitions; the label
    # frames are replicated `salt` ways into them (exact — the majority
    # aggregation is algebraic, so two-level grouping changes nothing)
    salt: int = 1
    salted_by_vertex: DataFrame | None = None
    salted_by_edge: DataFrame | None = None
    _persisted: list[DataFrame] = field(default_factory=list)
    _cooccurrence: tuple | None = None  # (source, layout): triangles.cooccurrence

    def count_incidence(self) -> int:
        """Total incidence rows (memoized; one cheap job on the cached
        layout when freeze() didn't already compute it)."""
        if self.incidence_rows is None:
            self.incidence_rows = self.incidence_by_vertex.count()
        return self.incidence_rows

    # -- constructors -------------------------------------------------

    @staticmethod
    def from_frames(
        frames: HypergraphFrames,
        num_partitions: int | None = None,
        validate: bool = False,
    ) -> "Hypergraph":
        return Hypergraph.freeze(
            frames.incidence.sparkSession,
            frames.incidence,
            frames.vertex_labels,
            num_vertices=frames.num_vertices,
            num_edges=frames.num_edges,
            num_partitions=num_partitions,
            validate=validate,
        )

    @staticmethod
    def freeze(
        spark: SparkSession,
        incidence: DataFrame,
        vertex_labels: DataFrame | None = None,
        num_vertices: int | None = None,
        num_edges: int | None = None,
        num_partitions: int | None = None,
        validate: bool = False,
        salt: int = 1,
    ) -> "Hypergraph":
        """Build the execution form (the reference's freeze(),
        src/common/hypergraph.cpp:80-83).

        Computes the scalar counts once, rejecting a negative vertex
        id on that same job (the int-narrowed and packed-key fast paths
        assume ids in [0, num_vertices)), optionally validates the
        reference's construction invariants (empty-edge rejection and
        vertex-id bounds, src/common/hypergraph.cpp:17-21), and caches
        the two partition layouts.

        ``salt`` > 1 additionally caches salted layouts partitioned by
        (key, _salt) for the superstep joins — use when max hyperedge
        size / max vertex degree dwarfs the average (monorepo skew) AND
        the label frames are too large to broadcast, i.e. the 10^12-file
        regime.  The salt values are derived from the OTHER key
        (hash(edge_id) for the by-vertex layout and vice versa), so a
        hot key's rows spread evenly and deterministically.
        """
        if salt < 1:
            raise ValueError(f"salt must be >= 1, got {salt}")
        incidence = incidence.select(
            F.col("edge_id").cast("long").alias("edge_id"),
            F.col("vertex_id").cast("long").alias("vertex_id"),
        )

        # r08 (guide §2.3/§5): when the scalar counts must be computed,
        # the old shape re-ran the caller's full incidence plan (scan +
        # any upstream distinct) THREE times — once for the scalar agg
        # and once per layout materialization — and paid a full
        # count_distinct(edge_id) exchange for num_edges.  Instead:
        # compute the incidence ONCE into a transient cache, take the
        # cheap scalars (max, count) from it, build both layouts from
        # the cache (eagerly, so the transient can be released here),
        # and read num_edges exchange-FREE off the edge-partitioned
        # layout (hashpartitioning(edge_id) satisfies the distinct's
        # ClusteredDistribution).  When the caller supplies the counts
        # (tests, loaders that know them), the old fully-lazy shape is
        # kept unchanged.
        incidence_rows = None
        pre = None
        need_ne = False
        if num_vertices is None or num_edges is None:
            pre = incidence.persist(StorageLevel.MEMORY_AND_DISK)
            row = pre.agg(
                (F.max("vertex_id") + 1).alias("nv"),
                F.count("*").alias("rows"),
                F.min("vertex_id").alias("lo"),
            ).collect()[0]
            if row["lo"] is not None and row["lo"] < 0:
                pre.unpersist()
                raise ValueError(
                    f"vertex id {row['lo']} is negative (the reference rejects "
                    "ids outside [0, num_vertices), hypergraph.cpp:19-21)"
                )
            if num_vertices is None:
                num_vertices = int(row["nv"] or 0)
            need_ne = num_edges is None
            incidence_rows = int(row["rows"])
            incidence = pre

        if num_partitions is None:
            if incidence_rows is not None:
                # size the frozen layouts to the data (plans/tuning.py):
                # the iterative loops run at this same count, so their
                # joins against the cached layouts stay exchange-free
                from hypergraph_gpu_label_propagation_spark.plans.tuning import (
                    loop_partitions,
                )

                num_partitions = loop_partitions(
                    incidence_rows, spark.sparkContext.defaultParallelism
                )
            else:
                num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

        if validate:
            bad = incidence.filter(
                (F.col("vertex_id") < 0) | (F.col("vertex_id") >= num_vertices)
            ).count()
            if bad:
                raise ValueError(
                    f"{bad} incidence rows reference vertex ids outside "
                    f"[0, {num_vertices}) (reference rejects these, hypergraph.cpp:19-21)"
                )

        if vertex_labels is None:
            # labels default to 0 for every vertex (hypergraph.cpp:14)
            vertex_labels = spark.range(num_vertices).select(
                F.col("id").alias("vertex_id"), F.lit(0).cast("int").alias("label")
            )
        vertex_labels = vertex_labels.select(
            F.col("vertex_id").cast("long").alias("vertex_id"),
            F.col("label").cast("int").alias("label"),
        )

        by_vertex = incidence.repartition(num_partitions, "vertex_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        by_edge = incidence.repartition(num_partitions, "edge_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if pre is not None:
            # materialize both layouts off the transient cache, then
            # release it (one incidence computation total); num_edges
            # reads exchange-free off the edge-partitioned layout; a
            # NULL edge_id (a non-numeric id cast to long with ANSI
            # mode off) is not an edge, as in sources/bucketed.py and
            # sources/coo.py
            by_vertex.count()
            by_edge.count()
            pre.unpersist()
            if need_ne:
                num_edges = (
                    by_edge.where(F.col("edge_id").isNotNull())
                    .select("edge_id").distinct().count()
                )
        salted_by_vertex = salted_by_edge = None
        if salt > 1:
            salted_by_vertex = (
                incidence.select(
                    "edge_id", "vertex_id",
                    F.pmod(F.xxhash64("edge_id"), F.lit(salt)).cast("int").alias("_salt"),
                )
                .repartition(num_partitions, "vertex_id", "_salt")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            salted_by_edge = (
                incidence.select(
                    "edge_id", "vertex_id",
                    F.pmod(F.xxhash64("vertex_id"), F.lit(salt)).cast("int").alias("_salt"),
                )
                .repartition(num_partitions, "edge_id", "_salt")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        hg = Hypergraph(
            spark=spark,
            incidence_by_vertex=by_vertex,
            incidence_by_edge=by_edge,
            vertex_labels=vertex_labels,
            num_vertices=num_vertices,
            num_edges=num_edges,
            num_partitions=num_partitions,
            incidence_rows=incidence_rows,
            salt=salt,
            salted_by_vertex=salted_by_vertex,
            salted_by_edge=salted_by_edge,
        )
        hg._persisted = [by_vertex, by_edge] + (
            [salted_by_vertex, salted_by_edge] if salt > 1 else []
        )
        return hg

    # -- superstep joins (salt-aware) ----------------------------------

    def gather_to_edge(self, frame: DataFrame) -> DataFrame:
        """incidence ⋈ a one-row-per-vertex frame, planned so a
        downstream groupBy("edge_id", ...) needs NO exchange: when the
        frame is vertex-sized and small enough to broadcast, join it
        broadcast against the EDGE-partitioned layout (the broadcast
        hash join preserves the streamed side's hashpartitioning
        (edge_id), which satisfies any ClusteredDistribution containing
        edge_id; r08).  Falls back to the co-partitioned vertex-side
        join (one post-join E-sized exchange) when the frame fails
        plans/tuning.py::fits_broadcast or a salted layout is in force."""
        if self.salt == 1 and fits_broadcast(
            self.spark, self.num_vertices, unsafe_row_bytes(len(frame.columns))
        ):
            return self.incidence_by_edge.join(F.broadcast(frame), "vertex_id")
        return self.join_by_vertex(frame)

    def gather_to_vertex(self, frame: DataFrame) -> DataFrame:
        """incidence ⋈ a one-row-per-edge frame, planned so a downstream
        groupBy("vertex_id", ...) needs NO exchange (mirror of
        :meth:`gather_to_edge`)."""
        if self.salt == 1 and fits_broadcast(
            self.spark, self.num_edges, unsafe_row_bytes(len(frame.columns))
        ):
            return self.incidence_by_vertex.join(F.broadcast(frame), "edge_id")
        return self.join_by_edge(frame)

    def _salted(self, layout: DataFrame, frame: DataFrame, key: str) -> DataFrame:
        rep = frame.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(self.salt - 1)))
        )
        return layout.join(rep, [key, "_salt"]).drop("_salt")

    def join_by_vertex(self, frame: DataFrame) -> DataFrame:
        """incidence ⋈ a one-row-per-vertex frame on vertex_id — the
        scatter-side join every gather-scatter kernel (LP/CC/PageRank)
        starts with.  Uses the salted layout when ``freeze(salt=N)``
        built one: ``frame`` is replicated N ways and joined on
        (vertex_id, _salt), spreading a hot vertex over N partitions.
        Exact whenever the downstream per-key aggregate is algebraic
        (majority counts / min / sum all are)."""
        if self.salt > 1 and self.salted_by_vertex is not None:
            return self._salted(self.salted_by_vertex, frame, "vertex_id")
        return self.incidence_by_vertex.join(frame, "vertex_id")

    def join_by_edge(self, frame: DataFrame) -> DataFrame:
        """incidence ⋈ a one-row-per-edge frame on edge_id (the gather
        side); salted like :meth:`join_by_vertex` — a monorepo-sized
        hyperedge's rows spread over N partitions instead of one."""
        if self.salt > 1 and self.salted_by_edge is not None:
            return self._salted(self.salted_by_edge, frame, "edge_id")
        return self.incidence_by_edge.join(frame, "edge_id")

    # -- accessors (reference hypergraph.cpp:36-49) --------------------

    def degrees(self) -> DataFrame:
        """(vertex_id, degree) — the reference's degrees_ array; degree-0
        vertices are present with degree 0."""
        counted = self.incidence_by_vertex.groupBy("vertex_id").agg(
            F.count("*").alias("degree")
        )
        universe = self.spark.range(self.num_vertices).select(F.col("id").alias("vertex_id"))
        return universe.join(counted, "vertex_id", "left").select(
            "vertex_id", F.coalesce("degree", F.lit(0)).alias("degree")
        )

    def edge_sizes(self) -> DataFrame:
        """(edge_id, edge_size) — the reference's edge_sizes_ array."""
        return self.incidence_by_edge.groupBy("edge_id").agg(F.count("*").alias("edge_size"))

    def vertices(self) -> DataFrame:
        return self.spark.range(self.num_vertices).select(F.col("id").alias("vertex_id"))

    def unpersist(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []
        if self._cooccurrence is not None:
            self._cooccurrence[1].sym.unpersist()
            self._cooccurrence = None
