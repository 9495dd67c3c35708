"""Bucketed persistent storage of the frozen hypergraph.

The in-session ``Hypergraph.freeze`` uses repartition+persist; across
jobs/sessions the same layout is made durable with bucketed table
writes — the Spark equivalent of the reference's serialized
``FlatHypergraph`` (dual CSR), and the layout the 100 TB deployment
uses so that NO superstep join ever shuffles the incidence side:

- ``incidence_by_vertex``: bucketed+sorted by vertex_id;
- ``incidence_by_edge``:   bucketed+sorted by edge_id.

On a production cluster these are Iceberg tables with
``bucket(N, vertex_id)`` / ``bucket(N, edge_id)`` partition transforms;
this container has no Iceberg jars, so the implementation uses Spark's
built-in Hive-style bucketing (``bucketBy().sortBy().saveAsTable``),
which Catalyst recognizes the same way (scan reports the bucketing and
the join planner drops the Exchange on that side).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from hypergraph_gpu_label_propagation_spark.model import Hypergraph


def _warehouse_dir(spark: SparkSession) -> str:
    return spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")


def _manifest_path(spark: SparkSession, name: str) -> str:
    return os.path.join(_warehouse_dir(spark), f"{name}._layout_manifest.json")


def _write_manifest(spark: SparkSession, name: str, payload: dict) -> None:
    """Atomic publish: tmp file + os.replace, same discipline as the
    LP state dirs' atomic_swap_write.  The manifest is the dual
    layout's both-or-neither commit record — it is DELETED before the
    first table write starts and (re)appears only after BOTH tables
    landed, so a crash anywhere inside write_bucketed leaves a layout
    the reader refuses."""
    path = _manifest_path(spark, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


# Crossover rule for auto-choosing the durable bucketed layout over the
# in-session repartition+persist freeze (r05 verdict #5, measured at
# sf0.1 and sf1 with alternating reps, BENCH_SCALING.md round 6):
#
#   - sf0.1 (~600k incidence rows, 7 supersteps): build 2.6 s +
#     run 6.0 s ~= hash-layout loop 7.4 s -- break-even;
#   - sf1 (~6M rows, 7 supersteps): build+run ~25 s vs 56.5 s --
#     bucketed wins 2.2x, and the gap WIDENS with scale (the bucketed
#     loop was the sf1 audit's best scaler at 2.3x per 10x data vs
#     6.2x for the hash layout).
#
# Break-even is therefore ~600k rows x ~8 supersteps ~= 5M row-
# supersteps; above it the one-time table write amortizes inside a
# single convergence run.  At 100 TB every LP run crosses this by 6+
# orders of magnitude -- i.e. the durable layout is simply the
# production default, and the threshold only matters for small ad-hoc
# graphs.  LP on planted/hSBM-like inputs converges in ~5-15
# supersteps, so the rule uses 8 as the expected-superstep estimate
# when the caller doesn't know the real count.
BUCKETED_CROSSOVER_ROW_SUPERSTEPS = 5_000_000
EXPECTED_SUPERSTEPS = 8


def should_bucket(
    incidence_rows: int, expected_supersteps: int = EXPECTED_SUPERSTEPS
) -> bool:
    """True when a convergence-style run over ``incidence_rows`` is
    expected to amortize the one-time bucketed-table write (see the
    crossover measurement above)."""
    return (
        incidence_rows * expected_supersteps
        >= BUCKETED_CROSSOVER_ROW_SUPERSTEPS
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is configured in this session
    (runtime detection: the Iceberg runtime jar registers
    ``SparkCatalog``/``SparkSessionCatalog`` via the ``spark.sql.catalog.*``
    confs).  This sandbox ships no Iceberg jar, so it returns False here
    and every write goes through the bucketBy-parquet stand-in — on a
    cluster with ``--packages org.apache.iceberg:iceberg-spark-runtime``
    the same call sites produce Iceberg tables with bucket transforms.

    Checks BOTH the static startup SparkConf and the session's runtime
    conf — a catalog configured after startup via ``spark.conf.set``
    never appears in ``sparkContext.getConf()``."""
    confs: dict[str, str] = {}
    try:
        confs.update(dict(spark.sparkContext.getConf().getAll()))
    except Exception:  # noqa: BLE001 — conservative: treat as absent
        pass
    try:
        confs.update(spark.conf.getAll)
    except Exception:  # noqa: BLE001
        pass
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs.items()
    )


def v2_verb(mode: str) -> tuple[str, bool]:
    """Map a DataFrameWriter-style ``mode`` to the DataFrameWriterV2
    verb and whether the write defines the table (needs the
    ``using('iceberg')`` + ``partitionedBy(bucket(N, key))`` DDL) or
    appends to an existing one (must NOT re-declare the transform).
    Pure function so the mode matrix is unit-testable without an
    Iceberg runtime jar (r05 verdict #6); anything unknown is rejected
    rather than silently replacing a table."""
    if mode == "overwrite":
        return "createOrReplace", True
    if mode == "append":
        return "append", False
    if mode in ("error", "errorifexists"):
        return "create", True
    raise ValueError(f"unsupported mode for Iceberg bucketed write: {mode!r}")


def _write_iceberg_bucketed(
    incidence: DataFrame, table: str, buckets: int, key: str,
    mode: str = "overwrite",
) -> None:
    """Iceberg path: DataFrameWriterV2 with a ``bucket(N, key)``
    partition transform — the exact layout SURVEY §1.2 names for the
    100 TB deployment.  Only reachable when :func:`iceberg_available`;
    exercised on clusters, not in this sandbox (no jar).  All decision
    logic lives in :func:`v2_verb` (unit-tested); this body is the
    literal three-call API chain."""
    from pyspark.sql import functions as F

    verb, defines_table = v2_verb(mode)
    writer = incidence.sortWithinPartitions(key).writeTo(table)
    if defines_table:
        writer = writer.using("iceberg").partitionedBy(F.bucket(buckets, key))
    getattr(writer, verb)()


def write_bucketed(
    incidence: DataFrame, name: str, buckets: int | None = None,
    mode: str = "overwrite",
) -> tuple[str, str]:
    """Persist the dual layout as two bucketed tables
    ``{name}_by_vertex`` / ``{name}_by_edge``; returns the table names.

    Uses Iceberg bucket-transform tables when an Iceberg catalog is
    configured (:func:`iceberg_available`), else Spark's built-in
    Hive-style bucketing — both give exchange-free joins on the bucket
    key; Iceberg additionally gives snapshot isolation for the
    checkpoint/resume tables.

    ``buckets`` defaults to the loop partition rule
    (``plans/tuning.py::loop_partitions``) over the incidence row
    count, the rule ``Hypergraph.freeze`` sizes its layouts by: under
    the broadcast gather every gather/checkpoint stage runs one task
    per bucket, so buckets beyond the loop's partition count are paid
    for in tasks every round (BENCH_SCALING.md)."""
    import shutil

    from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_partitions

    spark = incidence.sparkSession
    # one row count, before either table write: it sizes the buckets
    # and rides the manifest, so freeze_from_bucketed's
    # count_incidence() runs no job
    incidence_rows = incidence.count()
    if buckets is None:
        buckets = loop_partitions(
            incidence_rows, spark.sparkContext.defaultParallelism
        )
    by_vertex, by_edge = f"{name}_by_vertex", f"{name}_by_edge"
    # both-or-neither protocol (r06 verdict #8): retract the layout's
    # commit record BEFORE touching either table — from here until the
    # manifest is re-published, freeze_from_bucketed refuses the
    # layout, so a crash between the two table writes can never serve
    # a half layout (new by_vertex + stale-or-missing by_edge)
    manifest = _manifest_path(spark, name)
    if os.path.exists(manifest):
        os.remove(manifest)
    if iceberg_available(spark):
        _write_iceberg_bucketed(incidence, by_vertex, buckets, "vertex_id", mode)
        _write_iceberg_bucketed(incidence, by_edge, buckets, "edge_id", mode)
        _write_manifest(
            spark,
            name,
            {"name": name, "buckets": buckets, "tables": [by_vertex, by_edge],
             "catalog": "iceberg",
             # an append adds to rows this write never counted
             "incidence_rows": incidence_rows if v2_verb(mode)[1] else None},
        )
        return by_vertex, by_edge
    warehouse = _warehouse_dir(spark)
    for t in (by_vertex, by_edge):
        # drop both the catalog entry and any orphaned location left by
        # a previous session (the in-memory catalog forgets tables but
        # their directories survive -> LOCATION_ALREADY_EXISTS)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    # NOTE (r08, measured negative): sharing the incidence computation
    # across the two writes via a transient persist() looked like an
    # obvious §2.3 win but measured 10.7 s vs 2.9 s at sf0.1 — AQE
    # coalesces the cached distinct down to 1-2 partitions (it is only
    # a few MB), and BOTH bucketed writes then run 1-2 tasks wide.
    # The double computation keeps each write's own exchange (and its
    # write parallelism) and is the faster shape at every measured SF.
    (
        incidence.write.mode(mode)
        .bucketBy(buckets, "vertex_id").sortBy("vertex_id")
        .format("parquet").saveAsTable(by_vertex)
    )
    (
        incidence.write.mode(mode)
        .bucketBy(buckets, "edge_id").sortBy("edge_id")
        .format("parquet").saveAsTable(by_edge)
    )
    # scalar counts ride the commit manifest (computed once here, off
    # the written by_edge table — the per-run freeze_from_bucketed no
    # longer pays a count_distinct scan; build-once/run-many shape).
    # ONE job: the per-edge group runs bucket-local (the scan reports
    # the bucketing), the outer agg is a single-row reduction.  A NULL
    # edge_id group is not an edge (count(edge_id) skips it), as in
    # Hypergraph.freeze and sources/coo.py.
    from pyspark.sql import functions as F

    row = (
        spark.table(by_edge)
        .groupBy("edge_id")
        .agg(F.max("vertex_id").alias("_mv"))
        .agg((F.max("_mv") + 1).alias("nv"), F.count("edge_id").alias("ne"))
        .collect()[0]
    )
    nv, ne = int(row["nv"] or 0), int(row["ne"] or 0)
    _write_manifest(
        spark,
        name,
        {"name": name, "kind": "bucketed_dual", "buckets": buckets,
         "tables": [by_vertex, by_edge], "catalog": "builtin",
         "num_vertices": nv, "num_edges": ne, "incidence_rows": incidence_rows},
    )
    return by_vertex, by_edge


def freeze_from_bucketed(
    spark: SparkSession,
    name: str,
    num_vertices: int | None = None,
    num_edges: int | None = None,
    persist: bool = False,
) -> Hypergraph:
    """Rebuild a frozen Hypergraph from the bucketed tables — joins on
    vertex_id / edge_id against these scans need no Exchange on the
    incidence side even without persist().

    Refuses a layout whose commit manifest is absent: write_bucketed
    retracts the manifest before its first table write and republishes
    it only after BOTH tables landed, so a crash mid-write (half
    layout: one new table + one stale or missing twin) is never
    readable.  Conservative by design — a crash between the retract
    and the first write also invalidates the (still intact) old
    layout; rebuilding is always safe, serving mixed state never is.
    """
    from pyspark.sql import functions as F

    manifest = _manifest_path(spark, name)
    if not os.path.exists(manifest):
        raise ValueError(
            f"bucketed layout {name!r} has no commit manifest at "
            f"{manifest} — the dual-table write did not complete "
            "(or was started and interrupted); rebuild with "
            "write_bucketed before reading"
        )
    with open(manifest) as f:
        meta = json.load(f)
    # refuse a manifest of a different layout KIND under the same name
    # (r07 ADVICE: write_ivf_index shares the manifest path — an
    # ivf-kind manifest must not vouch for the _by_vertex/_by_edge
    # tables).  Manifests written before the kind field are bucketed by
    # construction (only write_bucketed produced them).
    kind = meta.get("kind", "bucketed_dual")
    if kind != "bucketed_dual":
        raise ValueError(
            f"layout {name!r} has a {kind!r} manifest, not a bucketed "
            "dual-table layout — refusing to freeze from it"
        )
    by_vertex = spark.table(f"{name}_by_vertex")
    by_edge = spark.table(f"{name}_by_edge")
    if num_vertices is None:
        # counts ride the commit manifest since r08 (computed once at
        # write time); legacy manifests fall back to the table scan
        num_vertices = meta.get("num_vertices")
    if num_edges is None:
        num_edges = meta.get("num_edges")
    if num_vertices is None or num_edges is None:
        row = by_vertex.agg(
            (F.max("vertex_id") + 1).alias("nv"), F.count_distinct("edge_id").alias("ne")
        ).collect()[0]
        # None-sentinel (matching Hypergraph.freeze): an explicit 0 is a
        # legitimate count for an empty table and must not be recomputed
        if num_vertices is None:
            num_vertices = int(row["nv"] or 0)
        if num_edges is None:
            num_edges = int(row["ne"] or 0)
    if persist:
        by_vertex = by_vertex.persist(StorageLevel.MEMORY_AND_DISK)
        by_edge = by_edge.persist(StorageLevel.MEMORY_AND_DISK)
    labels = spark.range(num_vertices).select(
        F.col("id").alias("vertex_id"), F.lit(0).cast("int").alias("label")
    )
    hg = Hypergraph(
        spark=spark,
        incidence_by_vertex=by_vertex,
        incidence_by_edge=by_edge,
        vertex_labels=labels,
        num_vertices=num_vertices,
        num_edges=num_edges,
        # the layout's own bucket count, so the loops' partition rule
        # and the scan agree; manifests without a row count (written
        # before it was recorded) leave count_incidence() to one job
        num_partitions=meta["buckets"],
        incidence_rows=meta.get("incidence_rows"),
    )
    hg._persisted = [by_vertex, by_edge] if persist else []
    return hg
