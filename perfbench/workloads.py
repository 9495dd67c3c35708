"""The workloads: each a closed loop of public engine calls on
one seeded input, timed call by call, with every result checked after
its pass against an independent answer.

A pass returns the span of each call: ``layout`` calls build the shared
execution form, ``solve`` calls are the analytics run on it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs, trace, twins

ORDERS_SF = 0.005  # 1,000 parts x 7,500 orders, ~30k incidence rows
# the sf0.001 shape, 200 parts x 1,500 orders: the timed input of
# --smoke runs (tests)
SMALL_SF = 0.001
MAX_LABELS = 10
LP_SUPERSTEPS = 1  # the first superstep, with the label-range sentinel
LP_RESUME_SUPERSTEPS = 1  # a steady-state superstep, after the resume
PAGERANK_TOL = 1e-5
PAGERANK_ATOL = 1e-6
KTRUSS_K = 4
# the warm-up pass stops every loop after this many rounds: enough to
# compile each plan shape of the loop bodies once
WARM_ROUNDS = 1
# a timed pass builds the layout this many times, releasing all but the
# last build; the layout metrics are the best build (a single build is
# too short a sample, and the first one of a pass still runs slower)
LAYOUT_REPS = 3


class CheckFailed(Exception):
    pass


@dataclass
class Pass:
    """One pass of a workload: the spans of its layout calls and of its
    analytic calls, and the checks deferred until the pass ends."""

    layout_reps: list = field(default_factory=list)  # spans of each layout build
    spans: list = field(default_factory=list)  # spans of the analytic calls
    checks: list = field(default_factory=list)  # (call name, thunk)
    info: dict = field(default_factory=dict)

    @property
    def layout(self) -> list:
        """Spans of the last layout build, the one the analytic calls use."""
        return self.layout_reps[-1]

    @property
    def layout_s(self) -> float:
        return min(sum(s.wall_s for s in rep) for rep in self.layout_reps)

    @property
    def solve_s(self) -> float:
        return sum(s.wall_s for s in self.spans)

    @property
    def layout_cpu_s(self) -> float:
        return min(sum(s.cpu_s for s in rep) for rep in self.layout_reps)

    @property
    def n_calls(self) -> int:
        return sum(len(rep) for rep in self.layout_reps) + len(self.spans)

    @property
    def solve_cpu_s(self) -> float:
        return sum(s.cpu_s for s in self.spans)


def _cap(rounds: int | None) -> dict:
    """``max_iterations`` for a warm-up pass; the call's default otherwise."""
    return {} if rounds is None else {"max_iterations": rounds}


def _materialize(df) -> None:
    """Compute every column of every row (the user-visible result)."""
    df.write.format("noop").mode("overwrite").save()


def _by_vertex(df, col: str, nv: int) -> np.ndarray:
    """``col`` of a one-row-per-vertex frame, indexed by vertex id."""
    pdf = df.toPandas().sort_values("vertex_id")
    vals, ids = pdf[col].to_numpy(), pdf["vertex_id"].to_numpy()
    if not np.array_equal(ids, np.arange(nv)):
        raise CheckFailed(f"{col}: expected one row per vertex 0..{nv - 1}")
    return vals


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def _check_lp(df, inc, init_df, supersteps: int):
    def check():
        nv = inc.num_vertices
        init = _by_vertex(init_df, "label", nv)
        got = _by_vertex(df, "label", nv)
        want = twins.lp_labels(inc, init, supersteps, MAX_LABELS)
        _expect("LP labels differing from the numpy twin",
                int(np.count_nonzero(got != want)), 0)
    return check


class Workload:
    name = ""

    def __init__(self, spark, rec, work_dir: str, cache_dir: str, smoke: bool = False):
        self.spark = spark
        self.rec = rec
        self.work_dir = work_dir  # removed when the run ends
        self.cache_dir = cache_dir  # kept across runs
        self.smoke = smoke  # run on the sf0.001-sized input instead (tests)

    @property
    def sf(self) -> float:
        return SMALL_SF if self.smoke else ORDERS_SF

    def input(self, seed: int, sf: float | None = None):
        """(cache key, generator) of the timed input, or of the same
        graph at scale ``sf``."""
        sf = self.sf if sf is None else sf
        return f"orders-sf{sf}-seed{seed}", lambda: inputs.orders_graph(sf, seed)

    def layout(self, p: Pass, df) -> dict:
        """Build the shared execution form with ``call(..., layout=True)``;
        returns what ``solve`` needs, with a ``release`` callable."""
        raise NotImplementedError

    def solve(self, p: Pass, built: dict, inc, seed: int, rounds: int | None) -> None:
        """Make the analytic calls and queue their checks on ``p``;
        ``rounds`` caps every loop (warm-up only)."""
        raise NotImplementedError

    def run_pass(self, df, inc, seed: int, warm: bool = False) -> Pass:
        """One pass: the layout calls, LAYOUT_REPS times (once in a traced
        pass), then the analytic calls on the last layout.  A ``warm`` pass
        is the untimed warm-up: it builds the layout once, its loops stop
        after WARM_ROUNDS, it takes one-off costs (code generation, JIT,
        the first bucketed write) out of the timed pass, and its checks
        are not run."""
        p = Pass()
        built = None
        for _ in range(1 if warm or self.rec.traced else LAYOUT_REPS):
            if built is not None:
                built["release"]()
            p.layout_reps.append([])
            built = self.layout(p, df)
        p.info["release"] = built["release"]
        self.solve(p, built, inc, seed, WARM_ROUNDS if warm else None)
        return p

    def call(self, p: Pass, name: str, fn, layout: bool = False):
        with self.rec.span(name) as s:
            out = fn()
        if layout:
            p.layout.append(s)
            if self.rec.traced:
                s.info["cached_mb"] = trace.cached_mb(self.spark)
        else:
            p.spans.append(s)
        return out


class OrdersIterative(Workload):
    name = "orders_iterative"

    def layout(self, p, df):
        from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
            freeze_from_bucketed, write_bucketed,
        )

        name = "perfbench_orders"
        self.call(p, "sources.write_bucketed", lambda: write_bucketed(df, name), layout=True)
        hg = self.call(p, "sources.freeze_from_bucketed",
                       lambda: freeze_from_bucketed(self.spark, name, persist=True),
                       layout=True)
        return {"hg": hg, "release": hg.unpersist}

    def solve(self, p, built, inc, seed, rounds):
        from hypergraph_gpu_label_propagation_spark import (
            connected_components, hypergraph_pagerank, label_propagation,
        )
        from hypergraph_gpu_label_propagation_spark.sources.generators import random_labels

        hg = built["hg"]
        ckpt = os.path.join(self.work_dir, "lp_snapshots")
        shutil.rmtree(ckpt, ignore_errors=True)
        init = random_labels(self.spark, hg.num_vertices, MAX_LABELS, seed)
        first, total = LP_SUPERSTEPS, LP_SUPERSTEPS + LP_RESUME_SUPERSTEPS

        def lp(steps, resume):
            res = label_propagation(hg, init, max_labels=MAX_LABELS, max_iterations=steps,
                                    tolerance=0.0, checkpoint_dir=ckpt, resume=resume)
            _materialize(res.labels)
            return res
        r1 = self.call(p, "label_propagation", lambda: lp(first, False))
        r2 = self.call(p, "checkpointing.resume", lambda: lp(total, True))
        p.info["lp_results"] = [r1, r2]

        def pr():
            res = hypergraph_pagerank(hg, tol=PAGERANK_TOL, **_cap(rounds))
            _materialize(res.ranks)
            return res
        pr_res = self.call(p, "pagerank", pr)

        def cc():
            res = connected_components(hg, **_cap(rounds))
            _materialize(res.components)
            return res
        cc_res = self.call(p, "components", cc)
        p.info.update(pagerank=pr_res, components=cc_res)

        def check_resumed():
            _expect("resumed supersteps", (r2.iterations, len(r2.metrics)),
                    (total, total - first))
            _check_lp(r2.labels, inc, init, total)()

        def check_pr():
            got = _by_vertex(pr_res.ranks, "rank", inc.num_vertices)
            err = float(np.abs(got - twins.pagerank(inc)).max())
            if not pr_res.converged or err > PAGERANK_ATOL:
                raise CheckFailed(f"pagerank: converged={pr_res.converged}, "
                                  f"max |rank - twin| = {err:.3g}")

        def check_cc():
            got = _by_vertex(cc_res.components, "component", inc.num_vertices)
            _expect("components differing from the numpy twin",
                    int(np.count_nonzero(got != twins.components(inc))), 0)
        p.checks += [("label_propagation", _check_lp(r1.labels, inc, init, first)),
                     ("checkpointing.resume", check_resumed),
                     ("pagerank", check_pr), ("components", check_cc)]


class OrdersCooccur(Workload):
    name = "orders_cooccur"

    def expected(self) -> dict:
        """networkx answers of the base graph, computed once and cached
        (relabelling the ids changes none of them)."""
        import json

        path = os.path.join(self.cache_dir, f"expected-orders-sf{self.sf}-k{KTRUSS_K}.json")
        if not os.path.exists(path):
            ans = twins.cooccur_answers(inputs.orders_graph(self.sf, 0), KTRUSS_K)
            tmp = path + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(ans, f)
            os.replace(tmp, path)
        with open(path) as f:
            return json.load(f)

    def layout(self, p, df):
        from hypergraph_gpu_label_propagation_spark import Hypergraph
        from hypergraph_gpu_label_propagation_spark.operators.triangles import (
            clique_expansion,
        )

        hg = self.call(p, "model.freeze", lambda: Hypergraph.freeze(self.spark, df),
                       layout=True)

        def expand():
            adj = clique_expansion(hg).localCheckpoint(eager=True)
            return adj, adj.count()
        adj, n_pairs = self.call(p, "triangles.clique_expansion", expand, layout=True)
        return {"hg": hg, "adj": adj, "n_pairs": n_pairs, "release": hg.unpersist}

    def solve(self, p, built, inc, seed, rounds):
        from pyspark.sql import functions as F

        from hypergraph_gpu_label_propagation_spark import coreness
        from hypergraph_gpu_label_propagation_spark.operators.ktruss import k_truss
        from hypergraph_gpu_label_propagation_spark.operators.triangles import triangle_count

        hg, adj, n_pairs = built["hg"], built["adj"], built["n_pairs"]
        n_tri = self.call(p, "triangles", lambda: triangle_count(
            hg, adj=adj, n_pairs=n_pairs).collect()[0]["n_triangles"])

        def core():
            res = coreness(hg, adj=adj, **_cap(rounds))
            _materialize(res.coreness)
            return res
        core_res = self.call(p, "kcore", core)

        def truss():
            res = k_truss(hg, k=KTRUSS_K, adj=adj, **_cap(rounds))
            _materialize(res.membership)
            return res
        kt = self.call(p, "ktruss", truss)
        p.info.update(pairs=n_pairs, coreness=core_res, ktruss=kt)
        if rounds is not None:
            return
        want = self.expected()

        def check_triangles():
            _expect("clique expansion pairs", n_pairs, want["pairs"])
            _expect("triangle count", n_tri, want["triangles"])

        def check_core():
            vals = _by_vertex(core_res.coreness, "coreness", inc.num_vertices)
            c, n = np.unique(vals, return_counts=True)
            _expect("coreness histogram",
                    {str(a): int(b) for a, b in zip(c, n)}, want["coreness_hist"])

        def check_truss():
            kept = kt.membership.agg(F.sum("in_truss")).collect()[0][0] or 0
            _expect("k-truss edges", (kt.truss_size, kept),
                    (want["ktruss_edges"], want["ktruss_edges"]))
        p.checks += [("triangles", check_triangles), ("kcore", check_core),
                     ("ktruss", check_truss)]


WORKLOADS = {w.name: w for w in (OrdersIterative, OrdersCooccur)}
