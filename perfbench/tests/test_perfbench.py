"""Tests of the benchmark itself: seeded inputs, the NumPy twins, the
metric names against BENCHMARK.json, and a smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, twins  # noqa: E402
from perfbench.run import E2E_UNITS, LAYER_UNITS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN = os.path.join(ROOT, "perfbench", "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_gives_byte_identical_input():
    a, b = inputs.orders_graph(0.001, 7), inputs.orders_graph(0.001, 7)
    assert a.edge_id.tobytes() == b.edge_id.tobytes()
    assert a.vertex_id.tobytes() == b.vertex_id.tobytes()
    assert a.stats() == b.stats()


def test_seed_relabels_the_same_graph():
    a, b = inputs.orders_graph(0.001, 1), inputs.orders_graph(0.001, 2)
    assert inputs.checksum(a) != inputs.checksum(b)
    sa, sb = a.stats(), b.stats()
    for k in ("nv", "ne", "incidence_rows", "max_edge_size"):
        assert sa[k] == sb[k]
    deg = lambda inc: np.sort(np.bincount(inc.vertex_id))  # noqa: E731
    assert np.array_equal(deg(a), deg(b))


def test_cache_returns_the_generated_input(tmp_path):
    make = lambda: inputs.orders_graph(0.001, 3)  # noqa: E731
    first, path, hit = inputs.cached(str(tmp_path), "k", make)
    assert not hit and os.path.exists(path)
    again, _, hit = inputs.cached(str(tmp_path), "k", make)
    assert hit and inputs.checksum(again) == inputs.checksum(first)


def test_twins_match_repo_oracle():
    from hypergraph_gpu_label_propagation_spark.oracle import numpy_ref as ref

    inc = inputs.orders_graph(0.001, 5)
    nv = inc.num_vertices
    edges = [inc.vertex_id[inc.edge_id == e].tolist() for e in np.unique(inc.edge_id)]
    init = np.random.default_rng(0).integers(0, 10, nv)
    want = ref.oracle_label_propagation(edges, init, nv, max_iterations=3, tolerance=0.0)
    assert np.array_equal(twins.lp_labels(inc, init, 3), want.labels)
    assert np.allclose(twins.pagerank(inc),
                       ref.oracle_hypergraph_pagerank(edges, nv, tol=1e-12), atol=1e-12)
    assert np.array_equal(twins.components(inc), ref.oracle_connected_components(edges, nv))
    assert (twins.cooccur_answers(inc, 5)["triangles"]
            == ref.oracle_triangle_count(edges, nv))


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert spec["command"] == ["python3", "perfbench/run.py"]


def _run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 5
    want = E2E_UNITS if trace == 0 else LAYER_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace:
        _check_trace_record(json.loads(lines[-2])["perfbench"], result["metrics"])


def _check_trace_record(stamps, metrics):
    """One span per call under the pass span, each with counters, and
    the call walls add up to the traced layout + solve times."""
    name = f"{stamps['workload']}-seed1-trace1-{stamps['run_id']}.json"
    with open(os.path.join(ROOT, ".perfbench", "out", name)) as f:
        root, *calls = json.load(f)["traced_pass"]
    assert root["name"] == "pass" and len(calls) >= 5
    assert {c["parent_id"] for c in calls} == {root["span_id"]}
    assert {c["run_id"] for c in calls} == {stamps["run_id"]}
    assert all({"jobs", "task_s", "gap_s", "shuffle_write_mb"} <= set(c["counters"])
               for c in calls)
    assert sum(c["counters"]["jobs"] for c in calls) > len(calls)
    traced = (metrics["bench.traced_layout_s"]["value"]
              + metrics["bench.traced_solve_s"]["value"])
    assert sum(c["wall_s"] for c in calls) == pytest.approx(traced)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "orders_iterative", 0)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
