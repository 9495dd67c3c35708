"""Distributed Lloyd k-means over an embedding column, and the IVF
(inverted-file) approximate-nearest-neighbor search built on it.

The brief's similarity-search inventory names IVF as the scale path
beside LSH: partition the corpus into k Voronoi cells (k-means
centroids), then search only the ``nprobe`` cells nearest each query.
This file is Spark-first throughout:

- the centroid set is tiny (k x dim doubles) and lives driver-side
  between iterations, shipped into the plan as ONE nested literal
  (``F.lit`` of a list-of-lists — the signlsh plane-matrix pattern);
- one Lloyd iteration = one distributed pass: argmin-by-struct over
  the centroid literal (no join, no crossJoin, no UDF), then per-cell
  per-dimension means via ``posexplode`` + ``groupBy(cell, pos)``,
  whose partial (map-side) aggregation shrinks the shuffle to
  k x dim x partitions rows regardless of corpus size;
- the IVF probe join is an equi-join on cell id — the corpus is hash
  partitioned by cell exactly like the signlsh bucket join, so at
  100 TB each query touches nprobe cells, never the corpus.

Centroid init is deterministic farthest-point (greedy k-center),
seeded by the md5-ranked pattern used everywhere else in this repo —
no rand(), no driver-side data pull beyond k vectors.

Exactness note: k-means cell means are floating-point sums whose
partition order Spark does not fix, so centroid low bits (and, for
near-equidistant points, an assignment) can differ between runs —
inherent to distributed FP reduction, not a planning defect.  Tests
therefore assert structural invariants + recall against the exact
brute-force baseline on well-separated synthetic clusters, not value
hashes (same policy as approx_stats).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class KMeansResult:
    centroids: list[list[float]]  # k x dim, cell id = list index
    assignments: DataFrame        # (id_col, cell, sq_dist)
    iterations: int
    shifts: list[float]           # max centroid movement per iteration


def _sq_dist(vec_col, centroid_col):
    """Squared L2 between an array<double> column and one centroid
    array — JVM-side fold, no UDF."""
    return F.aggregate(
        F.zip_with(
            vec_col, centroid_col,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(df, id_col, vec_col, centroids, round_dist=None):
    """(id, cell, sq_dist): nearest centroid per row via min-of-struct
    over the centroid literal — ties break to the LOWER cell id, so the
    argmin is deterministic given the centroids.

    ``round_dist`` rounds the distance BEFORE the argmin: FP summation
    order differs between engines (Spark's sequential fold vs a SQL
    twin's GROUP BY sum), so the cross-engine contract row rounds to a
    shared precision exactly like cos_sim's ROUND(..., 6).  Default
    None = full precision (the in-engine path needs no rounding)."""
    lit_c = F.lit(centroids)

    def dist(c):
        d = _sq_dist(F.col(vec_col), c)
        return F.round(d, round_dist) if round_dist is not None else d

    best = F.array_min(
        F.transform(
            lit_c,
            lambda c, i: F.struct(
                dist(c).alias("d"),
                i.cast("int").alias("cell"),
            ),
        )
    )
    return df.select(
        F.col(id_col),
        best["cell"].alias("cell"),
        best["d"].alias("sq_dist"),
    )


def _farthest_point_init(
    df: DataFrame, id_col: str, vec_col: str, k: int, seed: int
) -> list[list[float]]:
    """Deterministic farthest-point (greedy k-center) init: seed 0 is
    the hash-min corpus point (the repo-wide md5-ranked pattern), each
    later seed maximizes its distance to the chosen set (tie -> lower
    id).  One corpus pass per seed — k passes at index-build time; a
    plain hash-random sample can land two seeds in one natural cluster
    and Lloyd then never un-splits it (measured: 4 clusters/4 seeds
    random init fails ~90% of the time; farthest-point provably picks
    one per cluster when clusters are separated).  At 100 TB run this
    over a hash-sampled subset — the init only needs cluster-level
    coverage, not every row.

    Cost shape (r07): a running min-distance column updated against
    only the NEWEST centroid each step — O(k * dim * n) total, vs the
    naive per-step re-scan against the whole chosen set (O(k^2) which
    timed out the sf1 frontier run).  Selection is bit-identical to the
    naive form: min is arithmetic-free so `least()` chaining equals
    `array_min` over the full set, and the (d desc, id asc) tie-break
    is unchanged.  Each step eagerly localCheckpoints the n-row state
    so lineage never re-executes earlier updates (rebinding releases
    the superseded blocks; see label_propagation.py:311)."""
    first = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))))
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("corpus is empty")
    centroids = [[float(x) for x in first[0][vec_col]]]
    if k == 1:
        return centroids
    state = df.select(
        F.col(id_col).alias("_fid"),
        F.col(vec_col).alias("_fvec"),
        _sq_dist(F.col(vec_col), F.lit(centroids[0])).alias("_d"),
    ).localCheckpoint(eager=True)
    for _ in range(k - 1):
        far = (
            state.orderBy(F.col("_d").desc(), F.col("_fid").asc())
            .limit(1)
            .collect()
        )
        if far[0]["_d"] == 0.0:
            raise ValueError(
                f"corpus has fewer than k={k} distinct vectors "
                f"(only {len(centroids)} found)"
            )
        centroids.append([float(x) for x in far[0]["_fvec"]])
        if len(centroids) == k:
            break
        state = state.select(
            "_fid",
            "_fvec",
            F.least(
                F.col("_d"), _sq_dist(F.col("_fvec"), F.lit(centroids[-1]))
            ).alias("_d"),
        ).localCheckpoint(eager=True)
    return centroids


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    max_iters: int = 10,
    tol: float = 1e-6,
    seed: int = 42,
) -> KMeansResult:
    """Lloyd's algorithm; returns centroids + final assignments.

    Per iteration exactly ONE distributed action (the k x dim centroid
    collect — a legitimate scalar barrier, like the LP observe()).
    Empty cells keep their previous centroid (standard fix; cannot
    happen at init because seeds are distinct corpus points)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    centroids = _farthest_point_init(df, id_col, vec_col, k, seed)

    shifts: list[float] = []
    iterations = 0
    for _ in range(max_iters):
        assigned = _assign(df, id_col, vec_col, centroids)
        # per-cell per-dim means; posexplode is map-local and the
        # groupBy's partial aggregation caps the shuffle at
        # k x dim x partitions rows
        means = (
            df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .join(assigned.select(id_col, "cell"), id_col)
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            .collect()
        )
        new_centroids = list(centroids)  # empty cells keep previous
        for r in means:
            new_centroids[r["cell"]] = [float(x) for x in r["centroid"]]
        shift = max(
            max(abs(a - b) for a, b in zip(old, new))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        shifts.append(round(shift, 9))
        iterations += 1
        if shift <= tol:
            break
    return KMeansResult(
        centroids=centroids,
        assignments=_assign(df, id_col, vec_col, centroids),
        iterations=iterations,
        shifts=shifts,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 3,
    max_iters: int = 10,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    exclude_self: bool = True,
    round_dist: int | None = None,
    cell_salt: int = 1,
) -> DataFrame:
    """IVF approximate top-k by cosine: (query_id, neighbor_id,
    cos_sim, rank), schema-compatible with cosine_topk / signlsh_topk.

    Index build = one k-means fit + one corpus assignment pass (at
    100 TB both are write-once, amortized like the bucketed LP layout).
    Query = nprobe cell probes + an equi-join on cell id + exact cosine
    re-rank inside the probed cells only — never a corpus broadcast,
    never a crossJoin.

    ``cell_salt`` > 1 splits every cell into that many hash subcells on
    the JOIN KEY ONLY (r06 skew hardening): real embedding
    distributions skew k-means cells, and a hot cell otherwise lands on
    one shuffle partition.  Neighbor rows scatter by
    xxhash64(neighbor_id) % salt; each probed cell on the query side
    explodes to all its subcells (probe fan-out = nprobe x salt tiny
    rows).  EXACT — the candidate SET is unchanged, only its
    partitioning; the same freeze(salt=N) reasoning as LP's skew
    layouts."""
    if nprobe < 1 or nprobe > n_cells:
        raise ValueError(f"nprobe must be in [1, {n_cells}], got {nprobe}")
    if cell_salt < 1:
        raise ValueError(f"cell_salt must be >= 1, got {cell_salt}")
    if centroids is None:
        centroids = kmeans_fit(
            corpus, id_col, vec_col, k=n_cells, max_iters=max_iters, seed=seed
        ).centroids

    inv = _build_inverted_file(
        corpus, id_col, vec_col, centroids, round_dist, cell_salt
    )
    return _probe_topk(
        inv, centroids, queries, id_col, vec_col,
        k=k, nprobe=nprobe, exclude_self=exclude_self,
        round_dist=round_dist, cell_salt=cell_salt,
    )


def _vec_norm(col):
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )


def _build_inverted_file(corpus, id_col, vec_col, centroids, round_dist, cell_salt):
    """(neighbor_id, cell, _cv, _cn) with the salt burned into cell."""
    inv = _assign(corpus, id_col, vec_col, centroids, round_dist=round_dist).join(
        corpus.select(
            F.col(id_col), F.col(vec_col).alias("_cv"),
            _vec_norm(F.col(vec_col)).alias("_cn"),
        ),
        id_col,
    ).select(F.col(id_col).alias("neighbor_id"), "cell", "_cv", "_cn")
    if cell_salt > 1:
        inv = inv.withColumn(
            "cell",
            F.col("cell") * cell_salt
            + F.pmod(F.xxhash64("neighbor_id"), F.lit(cell_salt)).cast("int"),
        )
    return inv


def _probe_topk(
    inv, centroids, queries, id_col, vec_col,
    k, nprobe, exclude_self, round_dist, cell_salt,
):
    """Query side of IVF: probe nprobe nearest cells per query, exact
    cosine re-rank inside the probed cells.  ``inv`` may be the inline
    inverted file or the durable bucketed index table — identical
    semantics (pytest-asserted parity)."""
    # each query probes its nprobe nearest cells (sorted struct array
    # over the same centroid literal, sliced — plan stays O(n_cells))
    lit_c = F.lit(centroids)

    def _probe_dist(c):
        d = _sq_dist(F.col("_qv"), c)
        return F.round(d, round_dist) if round_dist is not None else d

    probe_cells = F.slice(
        F.array_sort(
            F.transform(
                lit_c,
                lambda c, i: F.struct(
                    _probe_dist(c).alias("d"), i.cast("int").alias("cell")
                ),
            )
        ),
        1,
        nprobe,
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
            _vec_norm(F.col(vec_col)).alias("_qn"),
        )
        .select(
            "query_id", "_qv", "_qn",
            F.explode(F.transform(probe_cells, lambda s: s["cell"])).alias("cell"),
        )
    )
    if cell_salt > 1:
        # each probed cell fans out to all of its subcells
        q = q.select(
            "query_id", "_qv", "_qn",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(cell_salt - 1)),
                    lambda j: F.col("cell") * cell_salt + j,
                )
            ).alias("cell"),
        )

    pairs = inv.join(q.hint("shuffle_hash"), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.round(dot / (F.col("_qn") * F.col("_cn")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Durable IVF index (r06 verdict #4): the inverted file is write-once at
# 100 TB, exactly like the bucketed LP layout — build (k-means fit + one
# corpus assignment pass) amortizes across every later query batch.
# ---------------------------------------------------------------------------

# Crossover (measured, BENCH_SCALING.md "Round 7: durable IVF index"):
# the durable index pays one corpus assignment pass + two table writes
# up front and saves the k-means fit + assignment on EVERY later batch.
# Warm probes beat inline ivf_topk from the second batch on — so the
# rule mirrors should_bucket: index when the corpus outlives one query
# batch.  Kept as an explicit constant so callers can tune it.
IVF_INDEX_CROSSOVER_BATCHES = 2


def should_index(expected_query_batches: int) -> bool:
    """True when a durable IVF index is expected to amortize (the
    corpus will serve at least IVF_INDEX_CROSSOVER_BATCHES query
    batches over its lifetime)."""
    return expected_query_batches >= IVF_INDEX_CROSSOVER_BATCHES


def write_ivf_index(
    corpus: DataFrame,
    name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    max_iters: int = 10,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    round_dist: int | None = None,
    cell_salt: int = 1,
    buckets: int = 32,
) -> str:
    """Persist the IVF index as a durable layout: the inverted file
    (neighbor_id, cell, _cv, _cn) bucketed+sorted by cell — so the
    probe equi-join needs no Exchange on the corpus side — plus the
    k x dim centroid table, under the same both-or-neither commit
    manifest as the bucketed LP layout (the manifest also carries
    cell_salt / n_cells / round_dist so probes can never run with
    mismatched parameters).  Returns ``name``."""
    import shutil

    from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
        _manifest_path,
        _warehouse_dir,
        _write_manifest,
    )

    if cell_salt < 1:
        raise ValueError(f"cell_salt must be >= 1, got {cell_salt}")
    spark = corpus.sparkSession
    if centroids is None:
        centroids = kmeans_fit(
            corpus, id_col, vec_col, k=n_cells, max_iters=max_iters, seed=seed
        ).centroids
    inv_table, cent_table = f"{name}_ivf_inv", f"{name}_ivf_centroids"
    manifest = _manifest_path(spark, name)
    import os

    if os.path.exists(manifest):
        os.remove(manifest)
    warehouse = _warehouse_dir(spark)
    for t in (inv_table, cent_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    inv = _build_inverted_file(
        corpus, id_col, vec_col, centroids, round_dist, cell_salt
    )
    (
        inv.write.mode("overwrite")
        .bucketBy(buckets, "cell").sortBy("cell")
        .format("parquet").saveAsTable(inv_table)
    )
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(cent_rows, "cell int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite").format("parquet").saveAsTable(cent_table)
    )
    _write_manifest(
        spark,
        name,
        {
            "name": name, "kind": "ivf", "tables": [inv_table, cent_table],
            "n_cells": len(centroids), "cell_salt": cell_salt,
            "round_dist": round_dist, "buckets": buckets,
            "id_col": id_col, "vec_col": vec_col,
        },
    )
    return name


def load_ivf_meta(spark, name: str) -> tuple[dict, list[list[float]]]:
    """Commit manifest + frozen centroids of a durable IVF index — the
    single reader of the index commit protocol (shared by the batch
    probe and the streaming append/probe paths, so the manifest format
    can never drift between them; r07 review).  Refuses an index whose
    manifest is missing: half-written layouts are unreadable by
    construction."""
    import json
    import os

    from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
        _manifest_path,
    )

    manifest = _manifest_path(spark, name)
    if not os.path.exists(manifest):
        raise ValueError(
            f"IVF index {name!r} has no commit manifest at {manifest} — "
            "the index write did not complete; rebuild with write_ivf_index"
        )
    with open(manifest) as f:
        meta = json.load(f)
    if meta.get("kind") != "ivf":
        raise ValueError(f"layout {name!r} is not an IVF index: {meta}")
    cent_rows = spark.table(f"{name}_ivf_centroids").orderBy("cell").collect()
    centroids = [[float(x) for x in r["centroid"]] for r in cent_rows]
    return meta, centroids


def ivf_topk_from_index(
    spark,
    name: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a durable IVF index written by :func:`write_ivf_index`:
    loads the centroid table (k x dim, driver-side literal exactly as
    the inline path), reads the bucketed inverted file, and runs the
    shared probe plan — results are row-identical to inline
    :func:`ivf_topk` with the same centroids (pytest parity), the only
    difference is that the corpus side is a bucketed scan instead of a
    recomputed assignment."""
    meta, centroids = load_ivf_meta(spark, name)
    n_cells, cell_salt = int(meta["n_cells"]), int(meta["cell_salt"])
    if nprobe < 1 or nprobe > n_cells:
        raise ValueError(f"nprobe must be in [1, {n_cells}], got {nprobe}")
    inv = spark.table(f"{name}_ivf_inv")
    return _probe_topk(
        inv, centroids, queries, id_col, vec_col,
        k=k, nprobe=nprobe, exclude_self=exclude_self,
        round_dist=meta.get("round_dist"), cell_salt=cell_salt,
    )
