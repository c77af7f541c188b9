"""Connected components — the reference's two-level subgraph-centric design.

Semantics: sample-hama ConnectedComponents.java:45-122 — every vertex ends up
labeled with one id per weak component. The reference labels by minimum
*subgraph* id, which depends on the partition count; we canonicalize to the
minimum *vertex* id per component (partition-invariant; identical groupings —
see SURVEY.md §5.2.3), which is what :func:`wcc` returns.

Structure mirrors the reference exactly, one level up:

1. **Partition-local WCC** (the `formSubgraphs` union-find,
   hama LongTextAdjacencyListReader.java:249-315 + DisjointSets.java:24-160):
   edges are cut by ``src``, and an Arrow-batched ``applyInPandas`` kernel
   runs a vectorized root-hooking/pointer-jumping contraction over each
   partition's edge block — each local component is the analogue of one
   GoFFish *subgraph*.
2. **Meta phase** (ConnectedComponents.java:55-112): local component labels
   that share a vertex are linked, and the spanning forest's meta phase
   (:func:`operators.spanning_forest.meta_forest`) groups them: one Boruvka
   run inside one task when the meta table fits the one-task budget,
   distributed Boruvka rounds above it. Its bridges are not needed here.
3. Vertices resolve their final label through the meta mapping.

At 100 TB the heavy lifting (step 1) is embarrassingly parallel and never
shuffles edge payloads; only the contracted meta graph (≤ one row per
boundary vertex occurrence) hits the shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.operators.spanning_forest import meta_forest
from goffish_v3_spark.plans.partitioner import vertex_part


def _local_components(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized union-find-equivalent on one partition's edges.

    Per round every root hooks onto the smallest root across its edges
    (``np.minimum.at`` over roots, not vertices, so a path takes O(log V)
    rounds, not O(V)), then pointers jump to their roots; it stops once
    every edge's endpoints share a root. Pure numpy, no Python-per-row
    work. Returns (vid, label) with label = min vid of the vertex's local
    component: roots only hook to smaller roots, so each component's
    root is its smallest vertex.
    """
    if len(pdf) == 0:
        return pd.DataFrame({"vid": pd.Series(dtype="int64"), "label": pd.Series(dtype="int64")})
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    vids, codes = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u = codes[: len(src)]
    v = codes[len(src) :]
    lbl = np.arange(len(vids), dtype=np.int64)
    while True:
        ru, rv = lbl[u], lbl[v]
        if np.array_equal(ru, rv):
            break
        np.minimum.at(lbl, ru, rv)
        np.minimum.at(lbl, rv, ru)
        while True:  # pointer jumping until idempotent
            nxt = lbl[lbl]
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
    return pd.DataFrame({"vid": vids, "label": vids[lbl]})


def local_component_labels(edges: DataFrame, num_parts: int) -> DataFrame:
    """Step 1: per-partition (vid, label) — a vertex incident to edges on k
    partitions yields k rows, to be reconciled by the meta phase."""
    e = edges.select("src", "dst").withColumn(
        "part", vertex_part(F.col("src"), num_parts)
    )
    return (
        e.groupBy("part")
        .applyInPandas(
            lambda pdf: _local_components(pdf[["src", "dst"]]),
            schema="vid long, label long",
        )
    )


def wcc(
    spark: SparkSession, edges: DataFrame, num_parts: int | None = None, max_iter: int = 50
) -> DataFrame:
    """Weakly connected components: ``(vid long, label long)``,
    label = min vid in the component (canonical, partition-invariant).
    ``max_iter`` caps the meta phase's distributed Boruvka rounds."""
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    assign = local_component_labels(edges, num_parts).persist()
    # vertices seen on multiple partitions stitch their local labels together
    per_vid = assign.groupBy("vid").agg(F.min("label").alias("mlabel")).persist()
    meta = (
        assign.join(per_vid, "vid")
        .filter(F.col("label") != F.col("mlabel"))
        .select(F.col("mlabel").alias("a"), F.col("label").alias("b"))
        .distinct()
        .select("a", "b", F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    try:
        _, mapping = meta_forest(spark, meta, max_iter)
        return (
            per_vid.join(mapping, per_vid.mlabel == mapping.label, "left")
            .select("vid", F.coalesce(F.col("root"), F.col("mlabel")).alias("label"))
            .localCheckpoint(eager=True)
        )
    finally:
        assign.unpersist()
        per_vid.unpersist()
