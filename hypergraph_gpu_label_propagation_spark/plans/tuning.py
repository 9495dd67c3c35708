"""Runtime conf scoping for the iterative driver loops.

``loop_partitions`` sizes a loop's shuffle partitions to its data;
``loop_conf`` scopes them, with AQE off by default, to the loop and
restores the session's settings afterwards, so one-shot relational
queries keep the AQE default (where it IS load-bearing).  Why AQE is
off inside a loop, with its measurement: plans/loop.py.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import SparkSession

# target incidence rows per shuffle partition inside an iterative loop:
# small enough that a task's gather state fits comfortably in memory at
# any scale, large enough that task scheduling doesn't dominate
ROWS_PER_PARTITION = 500_000


def loop_partitions(
    incidence_rows: int | None,
    cores: int,
    floor: int = 8,
) -> int:
    """Shuffle-partition count for an iterative loop over
    ``incidence_rows`` bipartite rows.

    Data-sized, not a constant: ceil(rows / 500k), floored at ``floor``
    (don't starve small graphs of parallelism entirely) and capped at
    2x cores — fewer-wider tasks.  Round-4 A/B on the 200M-row kernel
    at local[32], 64g heap, 6 timed steps each: cap 2x (64 parts)
    min/median 23.4/26.3 s vs cap 4x (128 parts) 26.3/34.0 s — beyond
    ~2 waves, extra tasks are pure scheduling overhead on a fixed-core
    stage (a 1000-executor cluster raises the cap simply by having more
    cores).
    """
    if incidence_rows is None:
        return max(floor, cores)
    return max(floor, min(2 * cores, math.ceil(incidence_rows / ROWS_PER_PARTITION)))


@contextmanager
def loop_conf(spark: SparkSession, partitions: int, adaptive: bool = False):
    """Scope (shuffle.partitions, adaptive.enabled) to a driver loop and
    restore the session values on exit — including on error."""
    conf = spark.conf
    old_sp = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.shuffle.partitions", str(partitions))
    conf.set("spark.sql.adaptive.enabled", "true" if adaptive else "false")
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", old_sp)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
