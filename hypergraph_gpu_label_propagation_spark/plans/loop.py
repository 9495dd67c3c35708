"""One fixed-point loop driver for every iterative operator.

The reference runs each backend through one superstep loop: one step,
one device->host ``changes`` copy, and a strict post-update stop test
(src/openmp/label_propagation_openmp.cpp:58-158, cuda.cu:275-277).
:func:`fixed_point` is that loop, written once.  An operator supplies
four things: its state init, its step, its observe expressions and its
stop rule.  The driver owns the rest:

- **Loop-scoped conf.**  Rounds run inside ``plans/tuning.py::
  loop_conf``: shuffle partitions sized to the data and AQE off (unless
  the operator asks for it).  Measured on the sf0.1 hypergraph (600k
  incidence rows, local[32], 2 reps), AQE's per-exchange
  stage-materialization barriers dominate the superstep at
  small-to-medium data:

      baseline sp=32 aqe=on : median superstep 1.85 s
      aqe=off  sp=32        : 2.85 s
      aqe=on   sp=8         : 1.93 s
      aqe=off  sp=8         : 1.05 s   <- 1.8x better than default

  AQE exists to re-plan unknown data; a round's frames have known,
  stable shapes (one row per vertex/edge, bounded majority partials),
  and skew is absorbed before the shuffle by partial aggregation
  (operators/majority.py), so re-planning buys nothing and costs a
  barrier per exchange.  ``state0`` is a one-shot query, so it is
  materialized under the session's conf, where AQE is load-bearing;
  ``scoped_init`` moves it into the loop scope instead (k-truss seeds
  its support with the full wedge join, sized by the loop partitions).

- **One Spark action per round.**  The step's frame is materialized by
  one eager ``localCheckpoint``, and ``observe()`` folds the round's
  scalars (change count, L1 delta, ...) into that same job: the analog
  of the reference's single device->host copy.  The checkpoint also
  truncates lineage, so plan size stays O(1) in the round count.  The
  state keeps ``state0``'s columns; the step's scratch columns
  (``changed``, ``_old``, ...) are dropped after the checkpoint.
  ``state0`` is materialized the same way, with an optional init
  observation (e.g. PageRank's dangling mass).

- **Memory lifetime.**  ``unpersist()`` only clears cacheManager
  entries, so on a localCheckpoint-backed frame it is a no-op: the
  checkpointed blocks are freed when the superseded frame is GC'd on
  the driver and the ContextCleaner collects its RDD.  Rebinding the
  state is what releases memory; the unpersist stays for a caller that
  passed a persist()-ed ``state0``.

- **Stop test on the latest observed row.**  A row is ``{op, superstep,
  <observed values>}``; a null observed value (an empty frame's sum)
  reads as 0.  The rule runs after every round (post-update), on the
  init row when there is an init observation, and on the stored row at
  resume, so a snapshot that already met its rule resumes with zero
  rounds.  The step also receives the latest row (the previous round's
  scalars, e.g. the dangling mass), and so may ``observe`` when given
  as a function.

- **Per-round record, snapshots and resume.**  Each round's row plus
  its ``wall_ms`` is returned as a record.  With ``checkpoint_dir`` the
  state is also written each round, and ``resume=True`` picks up from
  the latest complete snapshot:

      {name}_superstep=00017/   parquet of the state + _partitions.json
      metrics.jsonl             one record per round (append)

  ``_partitions.json`` holds the per-part-file sizes (read from the
  files just written, no Spark job) and the round's record; it is
  written last and atomically, so it marks the snapshot complete, and a
  resume reads its stop value and step scalars from it without a Spark
  job.  On a production cluster the snapshots become Iceberg table
  snapshots keyed by superstep; a parquet dir per superstep is the
  jar-free equivalent with the same atomicity.

Round-shape rule (not enforced here): a step references the
checkpointed state on only ONE side of any stats-multiplied join, so
Catalyst's sizeInBytes estimate grows linearly in rounds; see
plans/inspect.py::stats_size_bits and tests/test_plans.py::
test_iterative_state_stats_stay_linear, which checks each loop.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import ExitStack
from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_conf

MANIFEST = "_partitions.json"


@dataclass
class FixedPoint:
    state: DataFrame  # the final state, with state0's columns
    iterations: int  # supersteps done, resumed ones included
    converged: bool  # the stop rule held (False: max_iterations ran out)
    records: list[dict]  # one per round this call ran
    row: dict  # the latest observed row (init, stored or last round)


def fixed_point(
    name: str,
    state0: DataFrame,
    step: Callable[[DataFrame, dict], DataFrame],
    observe: Sequence[Column] | Callable[[dict], Sequence[Column]],
    stop: Callable[[dict], bool],
    *,
    partitions: int,
    adaptive: bool = False,
    max_iterations: int,
    init_observe: Sequence[Column] = (),
    scoped_init: bool = False,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> FixedPoint:
    """Iterate ``state = step(state, row)`` until ``stop(row)`` or
    ``max_iterations`` supersteps (module doc).  ``name`` tags the
    records, the Observations and the snapshot directories."""
    spark = state0.sparkSession
    columns = state0.columns
    found = _latest_snapshot(spark, checkpoint_dir, name) if resume and checkpoint_dir else None
    with ExitStack() as scope:
        if scoped_init:
            scope.enter_context(loop_conf(spark, partitions, adaptive))
        if found is not None:
            state, row = found
            state = state.localCheckpoint(eager=True)
            done = stop(row)
        elif init_observe:
            obs = Observation(f"{name}_init")
            state = state0.observe(obs, *init_observe).localCheckpoint(eager=True)
            row = {"op": name, "superstep": 0, **_observed(obs)}
            done = stop(row)
        else:
            state = state0.localCheckpoint(eager=True)
            row = {"op": name, "superstep": 0}
            done = False
        if not scoped_init:
            scope.enter_context(loop_conf(spark, partitions, adaptive))

        records: list[dict] = []
        while not done and row["superstep"] < max_iterations:
            t0 = time.monotonic()
            k = row["superstep"] + 1
            obs = Observation(f"{name}_{k}")
            exprs = observe(row) if callable(observe) else observe
            new = step(state, row).observe(obs, *exprs).localCheckpoint(eager=True)
            state.unpersist()  # no-op on checkpoint frames; see the module doc
            state = new if new.columns == columns else new.select(*columns)
            row = {"op": name, "superstep": k, **_observed(obs),
                   "wall_ms": (time.monotonic() - t0) * 1000.0}
            records.append(row)
            if checkpoint_dir:
                _write_snapshot(state, checkpoint_dir, row)
            done = stop(row)
    return FixedPoint(state, row["superstep"], done, records, row)


def _observed(obs: Observation) -> dict:
    return {k: 0 if v is None else v for k, v in obs.get.items()}


def _snapshot_path(checkpoint_dir: str, name: str, superstep: int) -> str:
    return os.path.join(checkpoint_dir, f"{name}_superstep={superstep:05d}")


def _write_snapshot(state: DataFrame, checkpoint_dir: str, record: dict) -> None:
    path = _snapshot_path(checkpoint_dir, record["op"], record["superstep"])
    state.write.mode("overwrite").parquet(path)
    parts = sorted(
        (f, os.path.getsize(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.startswith("part-")
    )
    manifest = {
        "superstep": record["superstep"],
        "num_partitions": len(parts),
        "total_bytes": sum(b for _, b in parts),
        "partitions": [{"file": f, "bytes": b} for f, b in parts],
        "record": record,
    }
    # the leading underscore keeps the manifest invisible to spark.read
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST))
    with open(os.path.join(checkpoint_dir, "metrics.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def _latest_snapshot(
    spark: SparkSession, checkpoint_dir: str, name: str
) -> tuple[DataFrame, dict] | None:
    """The latest complete snapshot's state and stored record, or None."""
    if not os.path.isdir(checkpoint_dir):
        return None
    done = sorted(
        d for d in os.listdir(checkpoint_dir)
        if d.startswith(f"{name}_superstep=")
        and os.path.exists(os.path.join(checkpoint_dir, d, MANIFEST))
    )
    if not done:
        return None
    path = os.path.join(checkpoint_dir, done[-1])
    with open(os.path.join(path, MANIFEST)) as f:
        record = json.load(f)["record"]
    return spark.read.parquet(path), record
