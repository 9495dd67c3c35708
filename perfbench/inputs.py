"""Seeded input generation for the benchmark workloads.

Every input is an incidence relation ``(edge_id, vertex_id)`` made in
NumPy from an integer seed; the same seed always gives byte-identical
arrays (checked by ``checksum``).  Generated inputs are cached as
parquet under ``.perfbench/inputs/``, one file per (graph, seed).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

# TPC-H order x part shape: 200k parts and 1.5M orders per unit scale
# factor, 1 + Poisson(3.07) distinct parts per order -- the edge-size
# histogram of the order x part hypergraph of the repo's sf0.1 testdata
# (mean 4.07 parts per order).
PARTS_PER_SF = 200_000
ORDERS_PER_SF = 1_500_000
ORDER_SIZE_POISSON = 3.07
# the orders base graph is fixed; a run's seed only relabels its ids,
# so every structural answer (triangles, coreness, truss) is seed-free
ORDERS_BASE_SEED = 20_240_101


@dataclass(frozen=True)
class Incidence:
    """A generated hypergraph: parallel int64 arrays sorted by
    (edge_id, vertex_id), with no duplicate pair."""

    edge_id: np.ndarray
    vertex_id: np.ndarray

    @property
    def num_vertices(self) -> int:
        # the engine's definition (Hypergraph.freeze): max vertex id + 1
        return int(self.vertex_id.max()) + 1

    def stats(self) -> dict:
        sizes = np.unique(self.edge_id, return_counts=True)[1]
        return {
            "nv": self.num_vertices,
            "ne": int(sizes.size),
            "incidence_rows": int(self.edge_id.size),
            "max_edge_size": int(sizes.max()),
            "checksum": checksum(self),
        }


def checksum(inc: Incidence) -> str:
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(inc.edge_id, dtype="<i8").tobytes())
    h.update(np.ascontiguousarray(inc.vertex_id, dtype="<i8").tobytes())
    return h.hexdigest()[:16]


def _dedup_sorted(edge_id: np.ndarray, vertex_id: np.ndarray, nv: int) -> Incidence:
    key = np.unique(edge_id.astype(np.int64) * nv + vertex_id.astype(np.int64))
    return Incidence(edge_id=key // nv, vertex_id=key % nv)


def orders_graph(sf: float, seed: int) -> Incidence:
    """Order x part hypergraph at scale factor ``sf``: the fixed base
    graph with vertex and edge ids relabelled by a permutation drawn
    from ``seed``."""
    nv = round(PARTS_PER_SF * sf)
    ne = round(ORDERS_PER_SF * sf)
    base = np.random.default_rng(ORDERS_BASE_SEED)
    sizes = np.minimum(1 + base.poisson(ORDER_SIZE_POISSON, ne), nv)
    e = np.repeat(np.arange(ne, dtype=np.int64), sizes)
    v = base.integers(0, nv, e.size, dtype=np.int64)
    g = _dedup_sorted(e, v, nv)
    rng = np.random.default_rng(seed)
    vperm = rng.permutation(nv)
    eperm = rng.permutation(ne)
    return _dedup_sorted(eperm[g.edge_id], vperm[g.vertex_id], nv)


def cached(cache_dir: str, key: str, make) -> tuple[Incidence, str, bool]:
    """(incidence, parquet path, hit): the generated input under
    ``cache_dir/key``, generating and writing it on a miss.  A hit is
    re-verified against the checksum stored beside it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, key, "incidence.parquet")
    meta_path = os.path.join(cache_dir, key, "stats.json")
    if os.path.exists(path) and os.path.exists(meta_path):
        t = pq.read_table(path)
        inc = Incidence(
            edge_id=t.column("edge_id").to_numpy(),
            vertex_id=t.column("vertex_id").to_numpy(),
        )
        with open(meta_path) as f:
            if json.load(f)["checksum"] == checksum(inc):
                return inc, path, True
    inc = make()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    pq.write_table(pa.table({"edge_id": inc.edge_id, "vertex_id": inc.vertex_id}), tmp)
    os.replace(tmp, path)
    with open(meta_path, "w") as f:
        json.dump(inc.stats(), f)
    return inc, path, False
