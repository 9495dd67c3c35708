"""The fixed-point loop driver on a toy state (no hypergraph): one Spark
job per round, kill-and-resume parity, and the metrics.jsonl records."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point

N = 50  # x halves from at most 49: six changing rounds, then one no-op


def _state0(spark):
    return spark.range(N).select(F.col("id").alias("k"), F.col("id").alias("x"))


def _halve(state, _row):
    half = F.floor(F.col("x") / 2)
    return state.select("k", half.alias("x"), (half != F.col("x")).cast("int").alias("changed"))


def _run(spark, step=_halve, **kw):
    kw.setdefault("max_iterations", 100)
    return fixed_point(
        "toy", _state0(spark), step, [F.sum("changed").alias("changes")],
        lambda row: row.get("changes") == 0, partitions=3, **kw,
    )


def _changes() -> list[int]:
    """The toy loop's change counts, in plain Python."""
    xs, out = list(range(N)), []
    while not out or out[-1]:
        new = [x // 2 for x in xs]
        out.append(sum(a != b for a, b in zip(xs, new)))
        xs = new
    return out


def _values(res) -> list:
    return sorted(map(tuple, res.state.collect()))


def _jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_round_and_scoped_conf(spark):
    sc = spark.sparkContext
    seen = []

    def step(state, row):
        # runs on the driver thread right before the round's action
        seen.append((spark.conf.get("spark.sql.shuffle.partitions"),
                     spark.conf.get("spark.sql.adaptive.enabled")))
        sc.setJobGroup(f"t_loop_{row['superstep'] + 1}", "toy round", False)
        return _halve(state, row)

    sp = spark.conf.get("spark.sql.shuffle.partitions")
    sc.setJobGroup("t_loop_init", "toy init", False)
    try:
        res = _run(spark, step)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.converged and res.iterations == 7
    assert [r["changes"] for r in res.records] == _changes()
    assert res.state.columns == ["k", "x"]  # the scratch column is dropped
    assert _values(res) == [(k, 0) for k in range(N)]
    assert _jobs(spark, "t_loop_init") == 1
    assert [_jobs(spark, f"t_loop_{k}") for k in range(1, 8)] == [1] * 7
    assert seen == [("3", "false")] * 7
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp


def test_kill_after_k_then_resume(spark, tmp_path):
    full = _run(spark)
    ckpt = str(tmp_path / "ck")
    cut = _run(spark, max_iterations=3, checkpoint_dir=ckpt)
    assert cut.iterations == 3 and not cut.converged
    resumed = _run(spark, checkpoint_dir=ckpt, resume=True)
    assert _values(resumed) == _values(full)
    assert (resumed.iterations, resumed.converged) == (full.iterations, True)

    def strip(records):
        return [{k: v for k, v in r.items() if k != "wall_ms"} for r in records]

    assert strip(resumed.records) == strip(full.records)[3:]

    # metrics.jsonl: one line per round, the returned records' keys
    with open(os.path.join(ckpt, "metrics.jsonl")) as f:
        lines = [json.loads(line) for line in f]
    assert [r["superstep"] for r in lines] == list(range(1, full.iterations + 1))
    assert all(set(r) == set(full.records[0]) for r in lines)
    assert strip(lines) == strip(full.records)

    # the manifest carries the record; a snapshot that met its rule
    # resumes with zero rounds
    last = os.path.join(ckpt, f"toy_superstep={full.iterations:05d}", "_partitions.json")
    with open(last) as f:
        assert json.load(f)["record"]["changes"] == 0
    again = _run(spark, checkpoint_dir=ckpt, resume=True)
    assert (again.iterations, again.converged, again.records) == (full.iterations, True, [])
    assert _values(again) == _values(full)


def test_init_observation_feeds_step_and_stop(spark):
    """The init row reaches the first step, and a met rule on it runs
    zero rounds."""
    got = []

    def step(state, row):
        got.append(row.get("total"))
        return _halve(state, row)

    init = [F.sum("x").alias("total")]
    res = _run(spark, step, init_observe=init)
    assert got[0] == sum(range(N)) and got[1:] == [None] * (res.iterations - 1)
    assert res.iterations == 7

    stopped = fixed_point(
        "toy", _state0(spark), _halve, [F.sum("changed").alias("changes")],
        lambda row: row.get("total", 1) > 0, partitions=3, max_iterations=10,
        init_observe=init,
    )
    assert (stopped.iterations, stopped.converged, stopped.records) == (0, True, [])


@pytest.mark.parametrize("cap", [0, 2])
def test_max_iterations_caps_rounds(spark, cap):
    res = _run(spark, max_iterations=cap)
    assert res.iterations == len(res.records) == cap and not res.converged
