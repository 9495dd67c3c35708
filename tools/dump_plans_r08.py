"""Dump `.explain("formatted")` for every query/operator the r08
optimization round touches, as <name>_<tag>.txt.

Usage: python tools/dump_plans_r08.py <tag> [sf_dir]

The committed pins are the ``before`` and ``after`` tags, written into
plans/r08/.  Any other tag (e.g. ``check``, to diff one checkout's
plans against another's) writes into a new temporary directory, printed
at the start, so it leaves nothing in the tree.

For iterative operators (LP / CC / PageRank / coreness) the captured
plan is ONE superstep/round frame — the loop repeats the same shape, so
the per-round Exchange count is the claim being pinned.  hg_freeze and
lp_bucketed_build are write/materialize paths; for those the captured
plan is the frame that gets materialized (the Exchange/scan structure is
what the optimization changes).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.plans.inspect import explain_str
from hypergraph_gpu_label_propagation_spark.session import get_spark

PINNED_TAGS = ("before", "after")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    if tag in PINNED_TAGS:
        out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r08")
        os.makedirs(out_dir, exist_ok=True)
    else:
        out_dir = tempfile.mkdtemp(prefix=f"dump_plans_r08_{tag}_")
    print(f"writing {tag} plans into {out_dir}")
    spark = get_spark("dump_plans_r08")

    def dump(name: str, df) -> None:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(explain_str(df))
        print(f"wrote {path}")

    from hypergraph_gpu_label_propagation_spark.operators.components import cc_superstep
    from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
        lp_superstep,
    )
    from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
        pagerank_state_init,
        pagerank_step,
    )
    from hypergraph_gpu_label_propagation_spark.operators import triangles as tri_mod
    from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_conf, loop_partitions

    incidence = entrymod._incidence(spark, sf_dir)
    hg = Hypergraph.freeze(spark, incidence)
    cores = spark.sparkContext.defaultParallelism
    n_part = loop_partitions(hg.count_incidence(), cores)

    # hg_freeze: the two layout frames that freeze() materializes
    dump("hg_freeze_by_vertex", hg.incidence_by_vertex)
    dump("hg_freeze_by_edge", hg.incidence_by_edge)

    labels0 = entrymod._labels0(spark, hg.num_vertices).localCheckpoint(eager=True)
    with loop_conf(spark, n_part):
        # steady-state superstep (labels_in_range=True is every superstep
        # after the first inside label_propagation)
        dump("lp_superstep", lp_superstep(hg, labels0, 10, labels_in_range=True))
        comp0 = hg.vertices().select(
            "vertex_id", F.col("vertex_id").alias("component")
        ).localCheckpoint(eager=True)
        dump("connected_components", cc_superstep(hg, comp0))
        pr0 = pagerank_state_init(hg).localCheckpoint(eager=True)
        dump("pagerank_converged", pagerank_step(hg, pr0, 0.0, 0.85))

    # coreness: one fused round, built by the same helpers coreness() runs
    from hypergraph_gpu_label_propagation_spark.operators.kcore import (
        FUSED_STEPS,
        coreness_adjacency,
        coreness_round,
    )

    lay = tri_mod.cooccurrence(hg)
    adj, use_bcast = coreness_adjacency(hg, lay)
    state = (
        adj.groupBy("u")
        .agg(F.count("*").cast("int").alias("c"))
        .localCheckpoint(eager=True)
    )
    with loop_conf(spark, lay.partitions):
        dump("coreness_round", coreness_round(adj, state, FUSED_STEPS, use_bcast))
    if not use_bcast:
        adj.unpersist()  # coreness's v-partitioned fallback copy

    # triangle_count over the layout's pairs: capture the
    # PRE-materialization agg plan (triangle_count() itself returns a
    # localCheckpointed one-row frame whose plan is just the scan)
    with loop_conf(spark, tri_mod._wedge_partitions(spark, lay.n_pairs), adaptive=True):
        tri = tri_mod._oriented_triangles(lay.pairs, lay.n_pairs)
        dump("triangle_count", tri.agg(F.count("*").alias("n_triangles")))
    hg.unpersist()

    # one-shot board entries
    dump("graph_profile", entrymod.q_graph_profile(spark, sf_dir))
    dump("minhash_lsh", entrymod.q_minhash_lsh(spark, sf_dir))
    dump("simhash", entrymod.q_simhash(spark, sf_dir))
    dump("embedding_near_dup", entrymod.q_embedding_near_dup(spark, sf_dir))
    dump("source_files_hypergraph", entrymod.q_source_files_hypergraph(spark, sf_dir))
    dump("ann_topk", entrymod.q_ann_topk(spark, sf_dir))
    dump("text_profile", entrymod.q_text_profile(spark, sf_dir))
    spark.stop()


if __name__ == "__main__":
    main()
