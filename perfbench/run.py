"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload orders_iterative --seed 1 \\
        --seconds 10 --trace 0

One Spark application on local[4] makes the workload's public calls one
after another (a closed loop, one caller).  After set-up (session
start, input load, an untimed warm-up pass with capped loops) it repeats
timed passes until ``--seconds`` have elapsed, at least one, and checks
every call's result after its pass.  ``--trace 1`` adds one traced pass
whose per-layer Spark counters replace the end-to-end metrics in the
result line; spans and counters go to ``.perfbench/out/``.  Everything
the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # set-up is timed from interpreter start

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.inputs import cached  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckFailed  # noqa: E402

PACKAGE = "hypergraph_gpu_label_propagation_spark"
CORES = 4
DRIVER_HEAP = "3g"  # fits a 15 GB box; session.py would default to 16g
INPUT_REPS = 3  # the input stage of set-up is repeated, its median reported
SETTLE_S = 0.5  # idle time before each timed pass, after a full GC

E2E_UNITS = {
    "setup_s": "s",
    "layout_cpu_s": "s",
    "solve_cpu_s": "s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.input_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.write_bucketed_s": "s",
    "sources.write_bucketed_mb": "MB",
    "sources.freeze_from_bucketed_s": "s",
    "model.freeze_s": "s",
    "model.freeze_jobs": "count",
    "model.freeze_shuffle_mb": "MB",
    "model.freeze_gap_s": "s",
    "model.layout_rows": "count",
    "model.cached_mb": "MB",
    "label_propagation.wall_s": "s",
    "label_propagation.supersteps": "count",
    "label_propagation.superstep_ms_p50": "ms",
    "label_propagation.superstep_ms_max": "ms",
    "label_propagation.edges_per_s": "rows/s",
    "label_propagation.jobs_per_superstep": "count",
    "label_propagation.shuffle_mb_per_superstep": "MB",
    "label_propagation.task_s": "s",
    "label_propagation.gap_s": "s",
    "label_propagation.spill_mb": "MB",
    "pagerank.wall_s": "s",
    "pagerank.iterations": "count",
    "pagerank.jobs_per_iteration": "count",
    "pagerank.shuffle_mb": "MB",
    "pagerank.task_s": "s",
    "pagerank.gap_s": "s",
    "components.wall_s": "s",
    "components.iterations": "count",
    "components.jobs": "count",
    "components.shuffle_mb": "MB",
    "components.task_s": "s",
    "components.gap_s": "s",
    "triangles.clique_s": "s",
    "triangles.pairs": "count",
    "triangles.wall_s": "s",
    "triangles.shuffle_mb": "MB",
    "triangles.spill_mb": "MB",
    "triangles.task_s": "s",
    "triangles.gap_s": "s",
    "kcore.wall_s": "s",
    "kcore.rounds": "count",
    "kcore.jobs": "count",
    "kcore.shuffle_mb": "MB",
    "kcore.spill_mb": "MB",
    "kcore.task_s": "s",
    "kcore.gap_s": "s",
    "ktruss.wall_s": "s",
    "ktruss.iterations": "count",
    "ktruss.edges_kept": "count",
    "ktruss.shuffle_mb": "MB",
    "ktruss.spill_mb": "MB",
    "ktruss.task_s": "s",
    "ktruss.gap_s": "s",
    "checkpointing.resume_s": "s",
    "checkpointing.output_mb": "MB",
    "checkpointing.write_task_s": "s",
    "checkpointing.resume_read_mb": "MB",
    "bench.traced_layout_s": "s",
    "bench.traced_solve_s": "s",
    "bench.tracing_overhead_pct": "%",
    "bench.ops_failed_ratio": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on an sf0.001-sized input (for tests)")
    return ap.parse_args(argv)


def source_sha() -> str:
    """Hash of the engine's source files: identifies the program when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor ran something else on this guest's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def jvm_pid() -> int:
    """Pid of the driver JVM that PySpark launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{jvm_pid()}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return py + hwm_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    try:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def settle(spark) -> None:
    """Collect garbage in both processes and let background threads
    (context cleaner, concurrent GC) finish before a timed pass."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def _spans(p) -> list:
    """The pass span, then each call's (every layout build's)."""
    layout = [s for rep in p.layout_reps for s in rep]
    return [dataclasses.asdict(s) for s in [p.info["span"]] + layout + p.spans]


def _sum(spans, names, key) -> float:
    return sum(s.counters.get(key, 0.0) for s in spans if s.name in names)


def _wall(spans, names) -> float:
    return sum(s.wall_s for s in spans if s.name in names)


def layer_metrics(p, rows: int, setup: dict) -> dict:
    """Per-layer metrics of one traced pass; 0 for a layer the workload
    does not call."""
    sp = p.layout + p.spans
    m = {f"session.{k}": v for k, v in setup.items()}
    m["sources.write_bucketed_s"] = _wall(sp, {"sources.write_bucketed"})
    m["sources.write_bucketed_mb"] = _sum(sp, {"sources.write_bucketed"}, "output_mb")
    m["sources.freeze_from_bucketed_s"] = _wall(sp, {"sources.freeze_from_bucketed"})

    fz = {"model.freeze"}
    m["model.freeze_s"] = _wall(sp, fz)
    m["model.freeze_jobs"] = _sum(sp, fz, "jobs")
    m["model.freeze_shuffle_mb"] = _sum(sp, fz, "shuffle_write_mb")
    m["model.freeze_gap_s"] = _sum(sp, fz, "gap_s")
    froze = any(s.name in ("model.freeze", "sources.freeze_from_bucketed") for s in sp)
    m["model.layout_rows"] = 2 * rows if froze else 0
    m["model.cached_mb"] = max((s.info.get("cached_mb", 0.0) for s in sp), default=0.0)

    lp = {"label_propagation", "checkpointing.resume"}
    steps = [ms.wall_ms for r in p.info.get("lp_results", []) for ms in r.metrics]
    lp_wall = _wall(sp, lp)
    n = len(steps)
    m["label_propagation.wall_s"] = lp_wall
    m["label_propagation.supersteps"] = n
    m["label_propagation.superstep_ms_p50"] = statistics.median(steps) if n else 0.0
    m["label_propagation.superstep_ms_max"] = max(steps, default=0.0)
    m["label_propagation.edges_per_s"] = 2 * rows * n / lp_wall if n else 0.0
    m["label_propagation.jobs_per_superstep"] = _sum(sp, lp, "jobs") / n if n else 0.0
    m["label_propagation.shuffle_mb_per_superstep"] = (
        _sum(sp, lp, "shuffle_write_mb") / n if n else 0.0)
    for k in ("task_s", "gap_s", "spill_mb"):
        m[f"label_propagation.{k}"] = _sum(sp, lp, k)

    pr = p.info.get("pagerank")
    its = pr.iterations if pr else 0
    m["pagerank.wall_s"] = _wall(sp, {"pagerank"})
    m["pagerank.iterations"] = its
    m["pagerank.jobs_per_iteration"] = _sum(sp, {"pagerank"}, "jobs") / its if its else 0.0
    m["pagerank.shuffle_mb"] = _sum(sp, {"pagerank"}, "shuffle_write_mb")

    cc = p.info.get("components")
    m["components.wall_s"] = _wall(sp, {"components"})
    m["components.iterations"] = cc.iterations if cc else 0
    m["components.jobs"] = _sum(sp, {"components"}, "jobs")
    m["components.shuffle_mb"] = _sum(sp, {"components"}, "shuffle_write_mb")
    for layer in ("pagerank", "components"):
        for k in ("task_s", "gap_s"):
            m[f"{layer}.{k}"] = _sum(sp, {layer}, k)

    m["triangles.clique_s"] = _wall(sp, {"triangles.clique_expansion"})
    m["triangles.pairs"] = p.info.get("pairs", 0)
    core, kt = p.info.get("coreness"), p.info.get("ktruss")
    m["kcore.rounds"] = core.iterations if core else 0
    m["kcore.jobs"] = _sum(sp, {"kcore"}, "jobs")
    m["ktruss.iterations"] = kt.iterations if kt else 0
    m["ktruss.edges_kept"] = kt.truss_size if kt else 0
    for layer in ("triangles", "kcore", "ktruss"):
        m[f"{layer}.wall_s"] = _wall(sp, {layer})
        m[f"{layer}.shuffle_mb"] = _sum(sp, {layer}, "shuffle_write_mb")
        for k in ("spill_mb", "task_s", "gap_s"):
            m[f"{layer}.{k}"] = _sum(sp, {layer}, k)

    m["checkpointing.resume_s"] = _wall(sp, {"checkpointing.resume"})
    m["checkpointing.output_mb"] = _sum(sp, lp, "output_mb")
    m["checkpointing.write_task_s"] = _sum(sp, lp, "write_task_s")
    m["checkpointing.resume_read_mb"] = _sum(sp, {"checkpointing.resume"}, "input_mb")
    m["bench.traced_layout_s"] = p.layout_s
    m["bench.traced_solve_s"] = p.solve_s
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{run_id}")
    out_dir = os.path.join(base, "out")
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS_OVERRIDE": os.path.join(run_dir, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # no hsperfdata file in /tmp from the launcher or the driver JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    try:
        return run(args, run_id, run_dir, out_dir, os.path.join(base, "inputs"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_id, run_dir, out_dir, cache_dir) -> int:
    import pyspark

    __import__(PACKAGE)  # a checkout without the engine fails here
    from hypergraph_gpu_label_propagation_spark.session import get_spark

    stamps = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "nproc": os.cpu_count(),
        "cores": CORES, "driver_heap": DRIVER_HEAP, "pyspark": pyspark.__version__,
        "commit": git_commit(), "source_sha": source_sha(),
        "load1_start": os.getloadavg()[0], "ticks_start": cpu_ticks(),
    }
    spark = get_spark(f"perfbench-{args.workload}", cores=CORES, extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    try:
        return measure(spark, args, stamps, run_dir, out_dir, cache_dir)
    finally:
        stop_spark(spark)


def measure(spark, args, stamps, run_dir, out_dir, cache_dir) -> int:
    spark.range(1).count()  # a session is started once it has run a job
    setup = {"start_s": time.monotonic() - T_PROCESS}
    untraced = trace.Recorder(spark, stamps["run_id"], traced=False, jvm_pid=jvm_pid())
    wl = WORKLOADS[args.workload](spark, untraced, run_dir, cache_dir, smoke=args.smoke)

    key, make = wl.input(args.seed)
    input_s, hits = [], []
    for _ in range(INPUT_REPS):
        t = time.monotonic()
        inc, path, hit = cached(cache_dir, key, make)
        df = spark.read.parquet(path)
        if df.count() != inc.edge_id.size:
            raise CheckFailed("input parquet row count differs from the generated input")
        input_s.append(time.monotonic() - t)
        hits.append(hit)
    setup["input_s"] = statistics.median(input_s)

    # untimed warm-up: every call once on the timed input, loops capped
    t = time.monotonic()
    with untraced.span("warmup") as root:
        warm = wl.run_pass(df, inc, 0, warm=True)
    warm.info.update(span=root)
    warm.info["release"]()
    setup["warmup_s"] = time.monotonic() - t
    setup_s = setup["start_s"] + setup["input_s"] + setup["warmup_s"]
    stats = inc.stats()
    print(json.dumps({"perfbench": stamps, "input": stats, "input_cache_hit": hits[0]}),
          flush=True)

    attempted = failed = 0

    def run_checked(rec):
        nonlocal attempted, failed
        wl.rec = rec
        n_calls = 0
        try:
            settle(spark)
            with rec.span("pass") as root:
                p = wl.run_pass(df, inc, args.seed)
            p.info.update(span=root)
            n_calls = p.n_calls
            for name, check in p.checks:
                try:
                    check()
                except CheckFailed as exc:
                    failed += 1
                    print(f"# check failed: {name}: {exc}", file=sys.stderr)
            attempted += n_calls
            p.info["release"]()
            return p
        except Exception:  # a raising call fails the whole pass
            traceback.print_exc()
            attempted += max(n_calls, 1)
            failed += max(n_calls, 1)
            return None

    passes = []
    t0 = time.monotonic()
    while not passes or time.monotonic() - t0 < args.seconds:
        p = run_checked(untraced)
        if p is None:
            break
        passes.append(p)
    def median(key):
        return statistics.median(getattr(p, key) for p in passes) if passes else 0.0
    solve_s = median("solve_s")

    record = {"perfbench": stamps, "input": stats, "setup": setup,
              "warmup": _spans(warm), "passes": [_spans(p) for p in passes]}
    if args.trace:
        traced = run_checked(trace.Recorder(spark, stamps["run_id"], traced=True,
                                            jvm_pid=jvm_pid()))
        if traced is not None:
            metrics = layer_metrics(traced, stats["incidence_rows"], setup)
            metrics["session.peak_rss_mb"] = peak_rss_mb()
            metrics["bench.tracing_overhead_pct"] = (
                100.0 * (traced.solve_s / solve_s - 1.0) if solve_s else 0.0)
            record["traced_pass"] = _spans(traced)
        else:
            metrics = {}
        metrics["bench.ops_failed_ratio"] = failed / attempted if attempted else 1.0
        metrics = {k: metrics.get(k, 0.0) for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        metrics = {"setup_s": setup_s, "layout_cpu_s": median("layout_cpu_s"),
                   "solve_cpu_s": median("solve_cpu_s")}
        units = E2E_UNITS
    stamps["peak_rss_mb"] = peak_rss_mb()
    stamps["load1_end"] = os.getloadavg()[0]
    (steal0, total0), (steal1, total1) = stamps.pop("ticks_start"), cpu_ticks()
    stamps["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    stamps["passes"] = len(passes)
    record["metrics"] = metrics
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamps['run_id']}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
