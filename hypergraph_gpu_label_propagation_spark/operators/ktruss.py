"""k-truss of the co-occurrence graph (edge-level decomposition).

Definition (Cohen 2008): the k-truss is the maximal subgraph in which
every edge participates in >= k-2 triangles WITHIN the subgraph;
computed by iteratively deleting under-supported edges until a fixed
point (the edge-based analog of the k-core vertex peel).

Execution shape — HYBRID SUPPORT MAINTENANCE (r05 verdict #1; the
previous peel recomputed a FULL triangle pass over the alive set every
cascade round):

- round 0 pays exactly ONE full triangle enumeration (the same oriented
  wedge join + semi-join as triangle_count) to seed per-edge support;
- each later round picks the cheaper update by the measured removal
  ratio (the removed-edge count rides the previous checkpoint's
  observe, so the choice costs no extra action):
  * removed >= survivors (mass peel, e.g. a high k wiping 99% of edges
    in round 1): RECOMPUTE support over the survivor set — a wedge
    join anchored on the (small) survivor pairs against the base
    adjacency, aliveness enforced by two left_semi joins;
  * removed < survivors (long cascade tail): INCREMENTAL decrement —
    only triangles destroyed by this round's removed edges are
    counted, by inclusion-exclusion (D1 - D2) so nothing is ever
    materialized per-triangle and no distinct is needed:
      D1(e) = #(destroyed triangle T, removed anchor edge f in T):
              wedge join anchored on the removed set; credits each
              surviving edge once per removed edge in its triangle;
      D2(e) = #triangles where BOTH other edges were removed this
              round (they always share exactly one vertex): a wedge
              join anchored on the removed set against the base
              adjacency, closed by a removed-set semi join;
      new support = old - D1 + D2.
- total loop work ~ one full pass + the smaller side of each round's
  peel, instead of rounds x full-triangle-pass;
- the base pairs and their symmetric adjacency are the shared
  co-occurrence layout (triangles.cooccurrence), never copied here.

Catalyst stats discipline (the r05 BigInt gotcha, see
plans/inspect.py::stats_size_bits): the checkpointed support state is
referenced on only ONE side of any stats-multiplied (inner) join per
round — every wedge join's other side is the CONSTANT-stats base
adjacency, aliveness checks are left_semi (stats = left side only),
and every support merge is union + groupBy-sum (stats ADD, never
multiply).  Plan-size estimates grow linearly in rounds.

The DuckDB twin is a recursive CTE carrying the alive EDGE set with the
same shrink guard as the kcore twin (plus one final outside filter for
the stop-on-stable edge case) — the oracle recomputes support per round
(fine at sf0.01); the engine maintains it with the hybrid above.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hypergraph_gpu_label_propagation_spark.model import Hypergraph
from hypergraph_gpu_label_propagation_spark.operators.triangles import (
    _oriented_triangles,
    _wedge_partitions,
    cooccurrence,
)
from hypergraph_gpu_label_propagation_spark.plans.loop import fixed_point


@dataclass
class KTrussResult:
    membership: DataFrame  # (u, v, in_truss: int) — one row per co-occurrence edge
    iterations: int
    truss_size: int
    removed_per_iter: list[int] = field(default_factory=list)


def k_truss(
    hg: Hypergraph,
    k: int,
    max_iterations: int = 200,
    adj: DataFrame | None = None,
) -> KTrussResult:
    """Edges (u < v) of the k-truss of the co-occurrence graph.

    ``adj``: optional materialized clique expansion (distinct u < v
    pairs), the source of the co-occurrence layout — see
    triangle_count."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 triangles per edge)")
    lay = cooccurrence(hg, adj)
    # base: distinct u < v; sym_base: the layout's symmetric adjacency,
    # the CONSTANT-stats wedge side for every per-round join
    base, n_pairs, sym_base = lay.pairs, lay.n_pairs, lay.sym

    def _swap(df: DataFrame) -> DataFrame:
        return df.select(F.col("v").alias("u"), F.col("u").alias("v"))

    below = F.col("_c") < k - 2

    def _count_support(anchor: DataFrame, alive_sym: DataFrame) -> DataFrame:
        """(u, v, _c>0) for anchor edges: #w with (u,w) and (v,w) in
        ``alive_sym`` (base neighbors of u, then two aliveness semis —
        the second also removes the w == v self row)."""
        cand = anchor.join(sym_base.select("u", F.col("v").alias("w")), "u")
        cand = cand.join(
            alive_sym.select(F.col("u"), F.col("v").alias("w")),
            ["u", "w"], "left_semi",
        )
        tri = cand.join(
            alive_sym.select(F.col("u").alias("v"), F.col("v").alias("w")),
            ["v", "w"], "left_semi",
        )
        return tri.groupBy("u", "v").agg(F.count("*").alias("_c"))

    # round 0: full support, the ONLY full triangle pass — the
    # ORIENTED u < v < w pass of triangle_count itself (wedge volume
    # sum_v lo(v)*hi(v), not the anchored sum_u hi(u)*deg(u) whose hi^2
    # hub term measured 14x slower at sf1; its broadcast-or-shuffle
    # rule and packed closing key included), and each triangle row
    # credits all three of its edges.  Edges in no triangle keep an
    # explicit 0 row (union merge, not a join — see the stats
    # discipline in the module doc); the init observation pre-counts
    # next round's removals so the strategy choice is action-free.
    tri0 = _oriented_triangles(base, n_pairs, max_id=hg.num_vertices)
    cnt0 = (
        tri0.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("u"), F.col("w").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("w").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    supp0 = (
        base.select("u", "v", F.lit(0).cast("long").alias("_c"))
        .unionByName(cnt0)
        .groupBy("u", "v")
        .agg(F.sum("_c").alias("_c"))
    )

    def peel(supp: DataFrame, row: dict) -> DataFrame:
        removed = supp.filter(below).select("u", "v")
        survivors = supp.filter(~below)
        if row["below"] >= row["alive"] - row["below"]:
            # mass peel: recompute support inside the survivor set
            sym_surv = survivors.select("u", "v").unionByName(
                _swap(survivors.select("u", "v"))
            )
            merged = survivors.select(
                "u", "v", F.lit(0).cast("long").alias("_c")
            ).unionByName(_count_support(survivors.select("u", "v"), sym_surv))
        else:
            # incremental: decrement by destroyed-triangle counts.
            # D1: anchored on removed (u,v); w must be old-alive on
            # both sides; credit the two cross edges (normalized
            # u < v).  A destroyed triangle credits a surviving
            # edge once per removed edge it contains...
            alive_pairs = supp.select("u", "v")
            sym_old = alive_pairs.unionByName(_swap(alive_pairs))
            cand = removed.join(
                sym_base.select("u", F.col("v").alias("w")), "u"
            ).filter(F.col("w") != F.col("v"))
            cand = cand.join(
                sym_old.select(F.col("u"), F.col("v").alias("w")),
                ["u", "w"], "left_semi",
            )
            destroyed = cand.join(
                sym_old.select(F.col("u").alias("v"), F.col("v").alias("w")),
                ["v", "w"], "left_semi",
            )
            d1 = (
                destroyed.select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.least("u", "w").alias("u"),
                                F.greatest("u", "w").alias("v"),
                            ),
                            F.struct(
                                F.least("v", "w").alias("u"),
                                F.greatest("v", "w").alias("v"),
                            ),
                        )
                    ).alias("_e")
                )
                .select("_e.u", "_e.v")
                .groupBy("u", "v")
                .agg((-F.count("*")).alias("_c"))
                .join(supp.filter(~below), ["u", "v"], "left_semi")
            )
            # ...D2 adds back the double-credit for triangles whose
            # OTHER two edges were BOTH removed (they share exactly
            # one vertex w): anchored on removed (x,w), y from w's
            # base neighbors, (y,w) must also be removed, (x,y)
            # surviving; x < y counts each triangle once.
            sym_rem = removed.unionByName(_swap(removed))
            d2 = (
                sym_rem.select(F.col("u").alias("x"), F.col("v").alias("w"))
                .join(
                    sym_base.select(F.col("u").alias("w"), F.col("v").alias("y")),
                    "w",
                )
                .filter(F.col("x") < F.col("y"))
                .join(
                    sym_rem.select(F.col("u").alias("y"), F.col("v").alias("w")),
                    ["y", "w"], "left_semi",
                )
                .select(F.col("x").alias("u"), F.col("y").alias("v"))
                .join(supp.filter(~below), ["u", "v"], "left_semi")
                .groupBy("u", "v")
                .agg(F.count("*").alias("_c"))
            )
            merged = survivors.unionByName(d1).unionByName(d2)

        return merged.groupBy("u", "v").agg(F.sum("_c").alias("_c"))

    n = F.count(F.lit(1))
    n_below = F.sum(below.cast("long")).alias("below")
    # partitions sized from the EXPANSION, not the incidence (the sf1
    # audit measured the wedge-heavy peel 12.7x at 10x data under the
    # incidence-sized conf — same spill mechanism as triangle_count;
    # see triangles.PAIRS_PER_PARTITION and BENCH_SCALING.md r05); the
    # seeding pass runs in that scope too
    res = fixed_point(
        "k_truss", supp0, peel,
        lambda row: [n.alias("alive"), n_below,
                     (F.lit(row["alive"]) - n).alias("removed")],
        # nothing below k-2 (an empty set included)
        lambda row: row["below"] == 0,
        partitions=_wedge_partitions(hg.spark, n_pairs), adaptive=True,
        max_iterations=max_iterations, init_observe=[n.alias("alive"), n_below],
        scoped_init=True,
    )
    membership = base.join(
        res.state.select("u", "v", F.lit(1).alias("_in")), ["u", "v"], "left"
    ).select("u", "v", F.coalesce("_in", F.lit(0)).cast("int").alias("in_truss"))
    return KTrussResult(
        membership=membership,
        iterations=res.iterations,
        truss_size=res.row["alive"],
        removed_per_iter=[r["removed"] for r in res.records],
    )
