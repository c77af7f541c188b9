"""goffish_v3_spark — a PySpark-native subgraph-centric link-graph analytics engine.

A from-scratch rebuild of the *capabilities* of dream-lab/goffish_v3 (a
subgraph-centric BSP graph framework on Apache Hama / Giraph) on idiomatic
PySpark: DataFrames + Catalyst + Arrow-vectorized pandas UDFs. Nothing here is
a port of the reference's Java runtime; reference files are cited in
docstrings only to pin down the *semantics* being reproduced.

Layout
------
- ``sources``   : synthetic repos-table generator, repos→edges ingest,
                  reference text-format readers, testdata graph derivations.
- ``plans``     : partitioning / salting / CSR-block building / the superstep
                  driver loop with checkpoint+resume+metrics.
- ``operators`` : the algorithm library (PageRank, WCC, LPA, triangles, SSSP,
                  k-core, graph stats) plus large-scale training-data pipeline
                  operators (dedup, similarity search, text analysis,
                  multimodal plumbing).
- ``functions`` : scalar helpers (id packing, hashing, text metrics) built on
                  ``pyspark.sql.functions`` — JVM-side, codegen-friendly.
- ``streaming`` : Structured Streaming operators over the events stream.
"""

from goffish_v3_spark import zipcache as _zipcache

__version__ = "0.1.0"

_zipcache.install()
