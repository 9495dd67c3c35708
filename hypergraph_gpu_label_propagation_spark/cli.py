"""spark-submit entry point mirroring the reference CLI
(src/common/argparse.cpp:122-359).

Same flag names where sensible: problem size (-v/--vertices,
-e/--edges), generator shortcuts (--uniform/--fixed/--planted/--hsbm,
mutually exclusive, argparse.cpp:193-211), --iterations/--tolerance,
--label-classes/--label-seed, --load/--save, --seed.  The device knobs
(--threads/--workgroup-size) map to Spark parallelism
(--cores/--shuffle-partitions).

Usage:
    spark-submit --py-files hypergraph_gpu_label_propagation_spark.zip \
        -m hypergraph_gpu_label_propagation_spark.cli --hsbm -v 4000 -e 16000 \
        --label-classes 6 --label-seed 42 --save /tmp/out
or locally: python -m hypergraph_gpu_label_propagation_spark.cli ...
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hypergraph-lp-spark",
        description="PySpark-native hypergraph label propagation "
        "(reference-parity semantics)",
    )
    p.add_argument("-v", "--vertices", type=int, default=1000)
    p.add_argument("-e", "--edges", type=int, default=4000)
    gen = p.add_mutually_exclusive_group()
    gen.add_argument("--uniform", action="store_true")
    gen.add_argument("--fixed", action="store_true")
    gen.add_argument("--planted", action="store_true")
    gen.add_argument("--hsbm", action="store_true")
    p.add_argument("--min-edge-size", type=int, default=2)
    p.add_argument("--max-edge-size", type=int, default=5)
    p.add_argument("--edge-size", type=int, default=4, help="fixed generator")
    p.add_argument("--communities", type=int, default=8)
    p.add_argument("--p-intra", type=float, default=0.85)
    p.add_argument("--p-inter", type=float, default=0.05)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--label-classes", type=int, default=0,
                   help="0 -> default bound of 10 (argparse.cpp:277)")
    p.add_argument("--label-seed", type=int, default=42)
    p.add_argument("--algo",
                   choices=["lp", "pagerank", "cc", "triangles", "kcore", "coreness"],
                   default="lp", help="which analytics kernel to run")
    p.add_argument("--k", type=int, default=3, help="k for --algo kcore")
    p.add_argument("-i", "--iterations", type=int, default=100)
    p.add_argument("-t", "--tolerance", type=float, default=1e-6)
    p.add_argument("--weighted", action="store_true",
                   help="LP phase-2 votes weighted 1/edge_size "
                        "(reference README variant; unit weights default)")
    p.add_argument("--load", help="load JSON/HGR1 instead of generating")
    p.add_argument("--save", help="write incidence+labels parquet here")
    p.add_argument("--checkpoint-dir", help="durable per-superstep snapshots")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--source-files", help="derive hypergraph from a "
                   "source_files parquet (repo/commit hyperedges)")
    p.add_argument("--bucketed", choices=("auto", "on", "off"), default="auto",
                   help="durable dual-bucketed incidence layout for the "
                        "iterative loops (exchange-free superstep joins). "
                        "auto: used when incidence_rows x expected "
                        "supersteps crosses ~5M row-supersteps — the "
                        "measured break-even where the one-time table "
                        "write amortizes inside one convergence run "
                        "(sources/bucketed.py::should_bucket; at sf1 the "
                        "bucketed loop wins 2.2x and scales 2.3x vs 6.2x "
                        "per 10x data). requires --salt 1: salted "
                        "layouts use the in-session freeze (warned on "
                        "stderr if combined)")
    p.add_argument("--salt", type=int, default=1,
                   help="skew salt: freeze (key,_salt) layouts and spread "
                        "hot hyperedges/vertices over N partitions "
                        "(use when label frames cannot broadcast)")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--metrics-json", help="write run metrics JSON here")
    return p


def make_hypergraph(spark, args):
    """Load-or-generate (the reference's make_hypergraph,
    argparse.cpp:289-318), then optional random relabel."""
    from hypergraph_gpu_label_propagation_spark.model import Hypergraph
    from hypergraph_gpu_label_propagation_spark.sources import generators as G

    labels = None
    if args.load:
        from hypergraph_gpu_label_propagation_spark.sources.hgr import load_any

        frames = load_any(spark, args.load)
        incidence, labels = frames.incidence, frames.vertex_labels
        nv, ne = frames.num_vertices, frames.num_edges
    elif args.source_files:
        from hypergraph_gpu_label_propagation_spark.sources.source_files import (
            derive_hypergraph_frames,
        )

        sf = spark.read.parquet(args.source_files)
        incidence, _, _ = derive_hypergraph_frames(sf)
        nv = ne = None
    else:
        nv, ne = args.vertices, args.edges
        if args.fixed:
            incidence = G.fixed_hypergraph(spark, nv, ne, args.edge_size, args.seed)
        elif args.planted:
            incidence = G.planted_partition_hypergraph(
                spark, nv, ne, args.communities, args.p_intra,
                args.min_edge_size, args.max_edge_size, args.seed,
            )
        elif args.hsbm:
            incidence = G.hsbm_hypergraph(
                spark, nv, ne, args.communities, args.p_intra, args.p_inter,
                max(args.min_edge_size, 3), args.max_edge_size, args.seed,
            )
        else:  # uniform is the default generator
            incidence = G.uniform_hypergraph(
                spark, nv, ne, args.min_edge_size, args.max_edge_size, args.seed
            )

    hg = Hypergraph.freeze(spark, incidence, vertex_labels=labels,
                           num_vertices=nv, num_edges=ne, salt=args.salt)
    # auto/forced durable bucketed layout (r05 verdict #5): above the
    # measured crossover (~5M row-supersteps) the one-time dual-table
    # write amortizes inside one convergence run and the loop joins go
    # exchange-free on the incidence side (sf1: 2.2x faster, scales
    # 2.3x vs 6.2x per 10x data).  Salted layouts keep the in-session
    # freeze (the bucketed tables are unsalted by construction).
    if getattr(args, "bucketed", "off") == "on" and args.salt != 1:
        # say it, don't silently fall back — a user FORCING --bucketed on
        # with --salt N would otherwise believe the bucketed layout ran
        # (auto + salt stays quiet: salted freeze is the intended path)
        print(
            f"# --bucketed {args.bucketed} ignored: salted layouts "
            f"(--salt {args.salt}) use the in-session freeze (the "
            f"durable bucketed tables are unsalted by construction)",
            file=sys.stderr,
        )
    if getattr(args, "bucketed", "off") != "off" and args.salt == 1:
        from hypergraph_gpu_label_propagation_spark.sources.bucketed import (
            freeze_from_bucketed,
            should_bucket,
            write_bucketed,
        )

        n_inc = hg.incidence_by_vertex.count()
        supersteps_est = min(args.iterations, 8)
        if args.bucketed == "on" or should_bucket(n_inc, supersteps_est):
            loaded_labels = hg.vertex_labels
            nv_f, ne_f = hg.num_vertices, hg.num_edges
            write_bucketed(hg.incidence_by_vertex, "cli_bucketed")
            hg.unpersist()
            hg = freeze_from_bucketed(
                spark, "cli_bucketed",
                num_vertices=nv_f, num_edges=ne_f, persist=True,
            )
            hg.vertex_labels = loaded_labels
            print(
                f"# bucketed layout: {n_inc} incidence rows x "
                f"~{supersteps_est} supersteps crosses the crossover "
                f"(sources/bucketed.py) -> durable dual-bucketed tables",
                file=sys.stderr,
            )
    if args.label_classes > 0:
        hg.vertex_labels = G.random_labels(
            spark, hg.num_vertices, args.label_classes, args.label_seed
        )
    return hg


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        label_propagation,
    )
    from hypergraph_gpu_label_propagation_spark.session import get_spark

    spark = get_spark("hypergraph_lp_cli", cores=args.cores,
                      shuffle_partitions=args.shuffle_partitions)
    t_setup0 = time.monotonic()
    hg = make_hypergraph(spark, args)
    max_labels = args.label_classes if args.label_classes > 0 else 10
    setup_ms = (time.monotonic() - t_setup0) * 1000

    # run-config echo (the reference's print_cli_summary, argparse.cpp:320-359)
    print(f"# hypergraph: nv={hg.num_vertices} ne={hg.num_edges} "
          f"max_labels={max_labels} iterations={args.iterations} "
          f"tolerance={args.tolerance}", file=sys.stderr)

    t0 = time.monotonic()
    extra: dict = {}
    if args.algo == "lp":
        res = label_propagation(
            hg, max_labels=max_labels, max_iterations=args.iterations,
            tolerance=args.tolerance, checkpoint_dir=args.checkpoint_dir,
            resume=args.resume, weighted=args.weighted,
        )
        out_df, iterations, converged = res.labels, res.iterations, res.converged
        extra = {
            "changes_per_iter": [m.changes for m in res.metrics],
            "label_histogram": {
                str(r["label"]): r["n"]
                for r in res.labels.groupBy("label").agg(F.count("*").alias("n")).collect()
            },
        }
    elif args.algo == "pagerank":
        from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
            hypergraph_pagerank,
        )

        res = hypergraph_pagerank(
            hg, max_iterations=args.iterations,
            checkpoint_dir=args.checkpoint_dir, resume=args.resume,
        )
        out_df, iterations, converged = res.ranks, res.iterations, res.converged
        extra = {"rank_sum": float(res.ranks.agg(F.sum("rank")).collect()[0][0])}
    elif args.algo == "cc":
        from hypergraph_gpu_label_propagation_spark.operators.components import (
            connected_components,
        )

        res = connected_components(
            hg, checkpoint_dir=args.checkpoint_dir, resume=args.resume
        )
        out_df, iterations, converged = res.components, res.iterations, res.converged
        extra = {
            "n_components": out_df.select("component").distinct().count(),
        }
    elif args.algo == "kcore":
        from hypergraph_gpu_label_propagation_spark.operators.kcore import k_core

        res = k_core(hg, k=args.k)
        out_df, iterations, converged = res.membership, res.iterations, True
        extra = {"k": args.k, "core_size": res.core_size,
                 "removed_per_iter": res.removed_per_iter}
    elif args.algo == "coreness":
        from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness

        res = coreness(hg, checkpoint_dir=args.checkpoint_dir, resume=args.resume)
        out_df, iterations, converged = res.coreness, res.iterations, True
        extra = {
            "max_coreness": int(
                out_df.agg(F.max("coreness")).collect()[0][0] or 0
            ),
            "changes_per_iter": res.changes_per_iter,
        }
    else:  # triangles
        from hypergraph_gpu_label_propagation_spark.operators.triangles import triangle_count

        out_df = triangle_count(hg)
        iterations, converged = 1, True
        extra = {"n_triangles": int(out_df.collect()[0]["n_triangles"])}
    iter_ms = (time.monotonic() - t0) * 1000

    t_fin0 = time.monotonic()
    if args.save:
        hg.incidence_by_edge.write.mode("overwrite").parquet(f"{args.save}/incidence")
        out_df.write.mode("overwrite").parquet(f"{args.save}/result")
    finalize_ms = (time.monotonic() - t_fin0) * 1000

    summary = {
        "algo": args.algo,
        "iterations": iterations,
        "converged": converged,
        "setup_ms": round(setup_ms, 1),
        "iterations_ms": round(iter_ms, 1),
        "finalize_ms": round(finalize_ms, 1),
        "total_ms": round(setup_ms + iter_ms + finalize_ms, 1),
        **extra,
    }
    print(json.dumps(summary))
    if args.metrics_json:
        with open(args.metrics_json, "w") as f:
            json.dump(summary, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
