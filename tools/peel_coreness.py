"""Measure the exact level-peel alternative for full coreness (r06
verdict "Next round #1": hybrid to the exact Batagelj-Zaversnik peel
once the active value range collapses).

This runs the full decomposition AS A PEEL — the exact schedule the
hybrid's finish phase would execute — and measures its round count and
wall against the shipped h-index sweep solution on the same graph:

    k = 0
    repeat until no vertex alive:
        deg  = alive-degree of every alive vertex
        k    = max(k, min(deg))           # next level
        R    = {v : deg(v) <= k}          # cascade batch at level k
        core[R] = k; remove R from the alive adjacency

Every removal batch is one materialized Spark round (degree agg + the
global min + an anti semi-join + checkpoint).  The peel is EXACT (the
tool asserts equality against coreness()), so the comparison is purely
about schedule cost: peel rounds = #distinct-coreness-levels plus
within-level cascade sub-rounds, each paying the fixed per-round Spark
cost, versus the h-index solution's ~40 Jacobi sweeps that shrink
nothing but run 4 sweeps per materialized round.

A hybrid "switch to peel when the frontier collapses" cannot skip the
shell levels — coreness at level k needs every lower level already
peeled for the alive degrees to be right — so the measured full-peel
cost IS the hybrid finish's cost (its init phase, degrees, is trivial).

Usage: SPARK_GRAFT_SF_DIR=... python tools/peel_coreness.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness
from hypergraph_gpu_label_propagation_spark.operators.triangles import cooccurrence
from hypergraph_gpu_label_propagation_spark.plans.tuning import loop_conf
from hypergraph_gpu_label_propagation_spark.session import get_spark


def peel_full(spark, sym, n_part):
    """Full coreness by level peel over the symmetric adjacency ``sym``;
    returns (core_df, rounds, wall)."""
    adj = sym.repartition(n_part, "v").localCheckpoint(eager=True)
    assigned = None  # (u, core)
    k = 0
    rounds = 0
    t0 = time.monotonic()
    with loop_conf(spark, n_part):
        while True:
            deg = adj.groupBy("u").agg(F.count("*").alias("_d"))
            m = deg.agg(F.min("_d")).collect()[0][0]
            if m is None:
                break
            k = max(k, int(m))
            batch = deg.filter(F.col("_d") <= k).select(
                "u", F.lit(k).cast("int").alias("core")
            )
            assigned = (
                batch
                if assigned is None
                else assigned.unionByName(batch)
            ).localCheckpoint(eager=True)
            gone = batch.select("u")
            new_adj = (
                adj.join(gone.hint("shuffle_hash"), "u", "left_anti")
                .join(
                    gone.select(F.col("u").alias("v")).hint("shuffle_hash"),
                    "v",
                    "left_anti",
                )
                .localCheckpoint(eager=True)
            )
            adj.unpersist()
            adj = new_adj
            rounds += 1
    return assigned, rounds, time.monotonic() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("peel_coreness", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    hg = Hypergraph.freeze(spark, entrymod._incidence(spark, sf_dir))
    lay = cooccurrence(hg)

    t0 = time.monotonic()
    sweep_res = coreness(hg)  # reads the same layout
    sweep_res.coreness.write.format("noop").mode("overwrite").save()
    sweep_wall = time.monotonic() - t0

    peeled, peel_rounds, peel_wall = peel_full(spark, lay.sym, lay.partitions)

    # exactness: peel == h-index fixed point, vertex for vertex
    sweep_vals = {
        r["vertex_id"]: r["coreness"] for r in sweep_res.coreness.collect()
    }
    peel_vals = {r["u"]: r["core"] for r in peeled.collect()}
    # isolated vertices never appear in the adjacency: coreness 0
    mismatches = {
        v: (sweep_vals[v], peel_vals.get(v, 0))
        for v in sweep_vals
        if sweep_vals[v] != peel_vals.get(v, 0)
    }
    assert not mismatches, list(mismatches.items())[:5]

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "adj_pairs": 2 * lay.n_pairs,
                "sweep": {"sec": round(sweep_wall, 2), "rounds": sweep_res.iterations},
                "peel": {"sec": round(peel_wall, 2), "rounds": peel_rounds},
                "levels": len(set(peel_vals.values())),
                "exact_match": True,
            }
        )
    )


if __name__ == "__main__":
    main()
