"""Majority-vote aggregation — the engine's core kernel.

The reference keeps a bounded per-thread count array indexed by label
(max_labels <= 10: src/cuda/label_propagation_cuda.cu:13,
src/common/argparse.cpp:277) and scans it for the smallest label index
attaining the max count (src/openmp/label_propagation_openmp.cpp:85-98).

Spark form: a grouped vote.  ``groupBy(key, label).count()`` produces
narrow (key, label, count) rows; Catalyst's partial (map-side)
aggregation plays the role of the reference's per-thread counters, so a
hyperedge with millions of members (monorepo skew) contributes at most
``max_labels`` rows per map partition to the shuffle instead of
millions.  That makes explicit key-salting unnecessary for the
aggregation itself — partial agg IS the salted two-level tree, done by
the engine.  A second, one-row-per-key aggregation then takes the
argmax with the reference's smallest-index tie-break as
``max(struct(count, -label))``: struct comparison is lexicographic, so
ties on count resolve to the largest ``-label``, i.e. the smallest
label.  All JVM-side, whole-stage-codegen friendly; no Python in the
hot path.  LP's two phases and ``edge_majority_step`` all vote with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def majority_label_narrow(
    df: DataFrame,
    key: str,
    key_universe: DataFrame,
    label_col: str = "label",
    max_labels: int = 10,
    out_col: str = "label",
) -> DataFrame:
    """Per-`key` majority vote over `label_col` with reference semantics,
    one row per key of ``key_universe``:

    - +1 per row (unit weights);
    - rows with label outside [0, max_labels) are ignored (the -1
      "unlabeled" sentinel never votes, openmp:85-87);
    - winner = smallest label attaining the max count;
    - keys whose every row is out-of-range (or that have no row) get
      label 0 (all-zero counts -> argmax index 0), by a coalesce
      against ``key_universe``.
    """
    best = majority_label_grouped_sql(df, key, label_col, max_labels, out_col="_m")
    return key_universe.join(best, key, "left").select(
        key, F.coalesce("_m", F.lit(0)).cast("int").alias(out_col)
    )


def majority_label_grouped_sql(
    df: DataFrame,
    key: str,
    label_col: str = "label",
    max_labels: int = 10,
    out_col: str = "label",
) -> DataFrame:
    """The grouped vote: groupBy(key, label).count(), then per-key top-1
    with ordering (count desc, label asc) via ``max(struct(cnt,
    -label))``.  Keys with only out-of-range labels DROP OUT (no row);
    :func:`majority_label_narrow` coalesces them to 0 against the key
    universe, and a caller that knows every label is in range skips it.
    """
    in_range = df.filter((F.col(label_col) >= 0) & (F.col(label_col) < max_labels))
    counted = in_range.groupBy(key, label_col).agg(F.count("*").alias("_cnt"))
    best = counted.groupBy(key).agg(
        F.max(F.struct(F.col("_cnt"), (-F.col(label_col)).alias("_neg"))).alias("_best")
    )
    return best.select(key, (-F.col("_best._neg")).cast("int").alias(out_col))
