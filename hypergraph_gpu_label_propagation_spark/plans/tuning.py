"""Runtime sizing rules shared by the operators.

``loop_partitions`` sizes a loop's shuffle partitions to its data;
``loop_conf`` scopes them, with AQE off by default, to the loop and
restores the session's settings afterwards, so one-shot relational
queries keep the AQE default (where it IS load-bearing).  Why AQE is
off inside a loop, with its measurement: plans/loop.py.
``fits_broadcast`` is the one broadcast-or-shuffle rule every
size-gated ``F.broadcast`` goes through.
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


def unsafe_row_bytes(columns: int) -> int:
    """UnsafeRow size of a row of fixed-width columns: an 8-byte null
    word plus 8 bytes per column."""
    return 8 * (1 + columns)


def fits_broadcast(spark: SparkSession, rows: int, row_bytes: int) -> bool:
    """May a build side of ``rows`` rows of ``row_bytes`` bytes each
    (unsafe_row_bytes) be broadcast?  False sends the caller to its
    shuffle fallback.

    ``spark.sql.autoBroadcastJoinThreshold`` <= 0 is Spark's "no
    broadcast joins" switch: False at any size, so one conf forces
    every fallback.  Otherwise the bytes must stay under Spark's 8 GiB
    cap (BroadcastExchangeExec refuses more) and under driver heap /
    32.  The relation is built on the driver, which then holds the
    collected rows (1x), the hashed relation (~3x: the rows plus key,
    length and next-pointer words and two slot longs per key at load
    <= 0.5) and TorrentBroadcast's serialized pieces (~3x): ~8x.  A
    plan builds up to two at once (LP's two gathers, the triangle
    pass's two views of the pair set), 16x, and half the heap stays
    with cached layouts and running tasks: 32x.  Local mode holds each
    relation once; on a cluster each executor holds one more (~3x).
    Row bounds: BENCH_SCALING.md "One broadcast rule".
    """
    if spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold() <= 0:
        return False
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    return rows * row_bytes < min(8 << 30, heap // 32)
