"""hypergraph_gpu_label_propagation_spark — a from-scratch PySpark-native
hypergraph analytics engine.

Re-expresses the semantics of the reference C++/CUDA/SYCL/Kokkos engine
(antonio-decaro/hypergraph-gpu-label-propagation, see SURVEY.md) as
idiomatic Spark DataFrame programs:

- the hypergraph is one bipartite **incidence** relation
  ``(edge_id: long, vertex_id: long)`` plus a ``vertex_labels`` relation
  ``(vertex_id: long, label: int)``;
- one label-propagation superstep is two gather-scatter aggregations
  (vertex->edge majority vote, edge->vertex majority vote) expressed as
  join + a grouped (key, label, count) vote over the bounded label
  domain (exact under map-side partial aggregation);
- iteration/convergence lives in the Python driver, exactly where the
  reference keeps its host-side loop.

Alongside label propagation the package ships PageRank, connected
components and triangle counting over the same edge-table machinery, a
deterministic synthetic ``source_files`` ingest (repo/commit hyperedges),
the reference's JSON loaders and random generators, and a set of
large-scale training-data pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing).
"""

from hypergraph_gpu_label_propagation_spark.model import Hypergraph, HypergraphFrames
from hypergraph_gpu_label_propagation_spark.operators.components import (
    connected_components,
)
from hypergraph_gpu_label_propagation_spark.operators.kcore import coreness, k_core
from hypergraph_gpu_label_propagation_spark.operators.label_propagation import (
    LPResult,
    label_propagation,
    lp_superstep,
)
from hypergraph_gpu_label_propagation_spark.operators.pagerank import (
    hypergraph_pagerank,
    personalized_pagerank,
)
from hypergraph_gpu_label_propagation_spark.operators.triangles import (
    modularity,
    triangle_count,
)

__all__ = [
    "Hypergraph",
    "HypergraphFrames",
    "LPResult",
    "connected_components",
    "coreness",
    "hypergraph_pagerank",
    "k_core",
    "label_propagation",
    "lp_superstep",
    "modularity",
    "personalized_pagerank",
    "triangle_count",
]

__version__ = "0.1.0"
