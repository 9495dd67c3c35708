"""Durable per-superstep state snapshots shared by every iterative
operator (LP, PageRank, CC) — the north rule's resumability: kill -9 a
run mid-iteration and resume bit-identically from the latest snapshot.

Layout under ``checkpoint_dir``:

    {prefix}_superstep=00017/   parquet of the state frame (+ _SUCCESS)
    metrics.jsonl               one json line per superstep (append)

On a production cluster these become Iceberg table snapshots keyed by
superstep; parquet-dir-per-superstep is the jar-free equivalent with
the same atomicity guarantee (_SUCCESS marker gates resume).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def snapshot_path(checkpoint_dir: str, prefix: str, superstep: int) -> str:
    return os.path.join(checkpoint_dir, f"{prefix}_superstep={superstep:05d}")


def write_partition_manifest(path: str, superstep: int, extra: dict | None = None) -> None:
    """Per-partition lineage record for a written snapshot (north rule:
    per-partition label state + lineage metrics per superstep): one entry
    per part file with its size, derived from the files just written — no
    extra Spark job.  The leading underscore keeps the manifest invisible
    to spark.read.parquet."""
    parts = sorted(
        (f, os.path.getsize(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.startswith("part-")
    )
    meta = {
        "superstep": superstep,
        "num_partitions": len(parts),
        "total_bytes": sum(b for _, b in parts),
        "partitions": [{"file": f, "bytes": b} for f, b in parts],
    }
    if extra:
        meta.update(extra)
    with open(os.path.join(path, "_partitions.json"), "w") as f:
        json.dump(meta, f)


def write_snapshot(
    df: DataFrame, checkpoint_dir: str, prefix: str, superstep: int,
    metrics: dict | None = None, manifest_extra: dict | None = None,
) -> None:
    """Write ``df`` as the ``prefix`` snapshot of ``superstep``, its
    partition manifest (plus ``manifest_extra``), and append ``metrics``
    to ``metrics.jsonl``."""
    path = snapshot_path(checkpoint_dir, prefix, superstep)
    df.write.mode("overwrite").parquet(path)
    write_partition_manifest(path, superstep, {"op": prefix, **(manifest_extra or {})})
    if metrics is not None:
        with open(os.path.join(checkpoint_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(metrics) + "\n")


def find_latest_snapshot(
    spark: SparkSession, checkpoint_dir: str, prefix: str
) -> tuple[DataFrame, int] | None:
    """Latest complete (_SUCCESS-marked) snapshot, or None."""
    if not os.path.isdir(checkpoint_dir):
        return None
    snaps = sorted(
        d for d in os.listdir(checkpoint_dir)
        if d.startswith(f"{prefix}_superstep=")
        and os.path.exists(os.path.join(checkpoint_dir, d, "_SUCCESS"))
    )
    if not snaps:
        return None
    superstep = int(snaps[-1].split("=")[1])
    return spark.read.parquet(os.path.join(checkpoint_dir, snaps[-1])), superstep
