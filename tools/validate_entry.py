"""Local replica of the driver's correctness gate: run every
``queries()`` entry in Spark and its ``oracle_sql()`` twin in DuckDB on
the same parquet tables; compare row count, column names, and an
order-insensitive value hash.

Usage: python tools/validate_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entrymod
from hypergraph_gpu_label_propagation_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


GIB = 1 << 30
UNITS = {"k": 1 << 10, "m": 1 << 20, "g": GIB, "t": 1 << 40}


def split_memory() -> tuple[int, int]:
    """(JVM heap, DuckDB memory_limit) in bytes for this host.

    The Spark driver JVM and the in-process DuckDB oracle share the
    host's physical RAM.  DuckDB's default limit is 80% of RAM, which
    on top of a JVM heap overcommits it (the sf0.01 ktruss oracle was
    OOM-killed that way on a 15 GB host).  The JVM takes
    SPARK_DRIVER_MEMORY, or half of RAM when it is unset (session.py's
    16g default exceeds a 15 GB host; the sf0.01 Spark side needs a
    few GB).  Next to its heap the JVM keeps ~1 GiB off-heap
    (metaspace, code cache, thread stacks, netty buffers).  This
    Python process holds ~3 GiB beyond DuckDB's limit: the limit
    bounds DuckDB's buffer pool only, and at sf0.01 the process peaked
    2.1 GiB above a 6.7 GiB limit (collected result rows, fetched
    oracle rows, allocations outside the pool).  DuckDB gets the rest,
    RAM - heap - 4 GiB, at least 1 GiB, and spills past it to its
    temp_directory.
    """
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    spec = os.environ.get("SPARK_DRIVER_MEMORY", f"{ram // 2 // GIB}g").lower()
    # a bare number is MiB, as Spark reads spark.driver.memory
    heap = int(spec[:-1]) * UNITS[spec[-1]] if spec[-1] in UNITS else int(spec) << 20
    return heap, max(GIB, ram - heap - 4 * GIB)


def norm_cell(v):
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        # driver-style canonicalization of floats
        return f"{v:.9g}"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    heap, duck_bytes = split_memory()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap >> 20}m"
    spark = get_spark("validate_entry")
    local_dir = os.environ.get("SPARK_LOCAL_DIRS", tempfile.gettempdir()).split(",")[0]
    con = duckdb.connect(config={
        "memory_limit": f"{duck_bytes // (1 << 20)}MB",
        "temp_directory": os.path.join(local_dir, "validate_entry_duckdb"),
    })
    print(f"memory: JVM heap {heap / GIB:.1f} GiB, DuckDB limit {duck_bytes / GIB:.1f} GiB")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        spark_s = time.monotonic() - t0
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows, cols={scols} ({spark_s:.1f}s)")
            if len(srows) == 0:
                print(f"  WARNING: zero rows for {name}")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        sh = value_hash(srows, scols)
        dh = value_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK  " if (ok_count and ok_cols and ok_hash) else "FAIL"
        print(
            f"{status}  {name}: rows {len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash={'=' if ok_hash else 'MISMATCH'} ({spark_s:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if ok_cols and not ok_hash:
                # show a few differing rows for debugging
                sset = {tuple(norm_cell(v) for v in r) for r in srows}
                dset = {tuple(norm_cell(v) for v in r) for r in drows}
                so = list(sset - dset)[:3]
                do = list(dset - sset)[:3]
                print(f"    spark-only sample: {so}")
                print(f"    duck-only  sample: {do}")
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
