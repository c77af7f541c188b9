"""Computable vertex ownership.

The reference partitions offline with METIS and packs the partition id into
the high bits of synthesized ids (SURVEY.md §2.B B10, P1/P11). Here the
partition of a vertex is *computable* — ``part(v) = pmod(xxhash64(v), P)`` —
so no routing table, no 3-superstep ownership handshake
(hama LongTextAdjacencyListReader.java:130-233): ownership is a pure function.

Skew needs no helper here: sum-like aggregations are skew-safe through
Spark's map-side partial aggregation, and AQE splits skewed join partitions
at runtime (SURVEY.md §4 P13). Explicit salting measured slower than the
plain plan on every fixture (BENCH/BASELINE.md "Hub salting") and was
removed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def vertex_part(vid: Column, num_parts: int) -> Column:
    """Computable ownership: pmod(xxhash64(vid), P)."""
    return F.pmod(F.xxhash64(vid), F.lit(num_parts)).cast("int")
