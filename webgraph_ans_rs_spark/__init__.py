"""webgraph_ans_rs_spark — a from-scratch PySpark-native link-graph analytics engine.

Capability parity target: ciminilorenzo/webgraph-ans-rs (see SURVEY.md).
The reference is a Rust ANS re-compressor for WebGraph BvGraph files whose
query surface is graph access (sequential scan, random successor lookup,
outdegrees) over compressed sorted adjacency lists. This engine re-expresses
that data model Spark-first — an edge DataFrame + bucketed, sorted CSR-style
adjacency table — and layers the link-graph analytics the north rule asks
for (PageRank, connected components, label propagation, triangle counting)
plus large-scale training-data pipeline operators (dedup, similarity search,
text stats, multimodal plumbing).

Nothing here is a port: all compression is delegated to Parquet encodings,
all relational planning to Catalyst. See SURVEY.md §1.6 for the mapping.
"""

from . import _zipcache  # noqa: F401  (every UDF worker imports the package)

__version__ = "0.1.0"
