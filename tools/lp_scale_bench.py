"""Single-config LP throughput measurement (used by bench_scaling.py).

Reads a pre-generated incidence parquet (SAME input for every
parallelism level), freezes it, runs a FIXED number of LP supersteps
(fixed work, no convergence variance), prints one JSON line.

Usage: python tools/lp_scale_bench.py <incidence_parquet> <cores> \
           [supersteps] [ckpt_mode]

``ckpt_mode`` selects the per-superstep lineage-truncation mechanism:
- ``local``    (default) localCheckpoint to executor block storage;
- ``reliable`` RDD checkpoint to a tmpfs dir (/dev/shm) — the A/B for
  whether localCheckpoint's block-manager path is the fixed cost;
- ``persist``  cache WITHOUT truncating lineage (plan grows per step —
  measures how much of the fixed cost is the checkpoint itself vs the
  growing analysis/codegen a checkpoint avoids).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import Observation
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.label_propagation import lp_superstep
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_conf, loop_partitions
from hypergraph_gpu_label_propagation_spark.session import get_spark


def main() -> None:
    path = sys.argv[1]
    cores = int(sys.argv[2])
    supersteps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    ckpt_mode = sys.argv[4] if len(sys.argv) > 4 else "local"

    import os as _os

    # LP_SCALE_SALT: freeze-time skew salt (default 1 = off).
    # LP_SCALE_NO_BROADCAST: disable broadcast joins — the 10^12-file
    # proxy regime where no label frame fits in a broadcast; the gathers
    # obey the switch (plans/tuning.py::fits_broadcast), so it runs the
    # shuffle gather.
    salt = int(_os.environ.get("LP_SCALE_SALT", "1"))
    no_bcast = _os.environ.get("LP_SCALE_NO_BROADCAST", "") == "1"
    spark = get_spark(
        "lp_scale_bench", cores=cores,
        extra_conf=(
            {"spark.sql.autoBroadcastJoinThreshold": "-1"} if no_bcast else None
        ),
    )
    if ckpt_mode == "reliable":
        spark.sparkContext.setCheckpointDir("/dev/shm/lp_scale_ckpt")

    kept = []  # persist-mode: keep refs so caches aren't GC-evicted mid-loop

    def truncate(df):
        if ckpt_mode == "local":
            return df.localCheckpoint(eager=True)
        if ckpt_mode == "reliable":
            return df.checkpoint(eager=True)
        if ckpt_mode == "persist":
            df = df.persist()
            kept.append(df)
            return df
        raise ValueError(f"unknown ckpt_mode {ckpt_mode!r}")
    inc = spark.read.parquet(path)
    hg = Hypergraph.freeze(spark, inc, salt=salt)
    n_inc = hg.incidence_by_vertex.count()
    _ = hg.incidence_by_edge.count()  # materialize both layouts pre-clock
    labels = spark.range(hg.num_vertices).select(
        F.col("id").alias("vertex_id"), (F.col("id") % 10).cast("int").alias("label")
    ).localCheckpoint(eager=True)

    # same loop-scoped tuning the label_propagation driver applies
    # (plans/tuning.py): AQE off, data-sized shuffle partitions.
    # LP_SCALE_PARTITIONS overrides the formula for cap A/Bs.
    import os

    n_part = int(os.environ.get("LP_SCALE_PARTITIONS", "0")) or loop_partitions(
        n_inc, cores
    )
    with loop_conf(spark, n_part):
        # untimed warmup supersteps: C2 JIT + codegen compile + page cache
        # (measured: the first 3-5 supersteps at 32 cores run 3-6x slower
        # than steady state purely from JIT warm-in; on a real cluster a
        # 100 TB run amortizes this in the first fraction of a percent of
        # the job, so steady-state is the honest cluster proxy)
        for _ in range(3):
            warm = truncate(lp_superstep(hg, labels, 10))
            warm.agg(F.sum("changed")).collect()
            if ckpt_mode != "persist":
                warm.unpersist()

        per_step: list[float] = []
        total_changes = 0
        t0 = time.monotonic()
        for i in range(supersteps):
            ts = time.monotonic()
            # timed steps are supersteps >= 2: labels are phase-2 output,
            # always in range (mirrors the label_propagation loop).
            # change-count rides the checkpoint job via observe() — ONE
            # action per superstep, exactly like the production loop
            # (a separate agg action was a constant extra job per step
            # that dragged scaling efficiency at every level).
            step = lp_superstep(hg, labels, 10, labels_in_range=True)
            if ckpt_mode == "persist":  # no eager action to fuse into
                stepped = truncate(step)
                total_changes += int(stepped.agg(F.sum("changed")).collect()[0][0] or 0)
            else:
                obs = Observation(f"scale_{i}")
                stepped = truncate(step.observe(obs, F.sum("changed").alias("ch")))
                total_changes += int(obs.get["ch"] or 0)
            if ckpt_mode != "persist":
                labels.unpersist()
            labels = stepped.select("vertex_id", "label")
            per_step.append(time.monotonic() - ts)
        wall = time.monotonic() - t0

    # median superstep time is robust to shared-host noise spikes
    med = sorted(per_step)[len(per_step) // 2]
    print(json.dumps({
        "salt": salt,
        "no_broadcast": no_bcast,
        "ckpt_mode": ckpt_mode,
        "cores": cores,
        "supersteps": supersteps,
        "wall_sec": round(wall, 3),
        "per_superstep_sec": [round(x, 3) for x in per_step],
        "median_superstep_sec": round(med, 3),
        "incidence_rows": n_inc,
        "num_vertices": hg.num_vertices,
        "num_edges": hg.num_edges,
        "supersteps_per_sec": round(1.0 / med, 4),
        "edges_per_sec": round(2 * n_inc / med, 1),
        "total_changes": total_changes,  # determinism check across levels
    }))


if __name__ == "__main__":
    main()
