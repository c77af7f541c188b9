"""Connected components — the reference's two-level subgraph-centric design.

Semantics: sample-hama ConnectedComponents.java:45-122 — every vertex ends up
labeled with one id per weak component. The reference labels by minimum
*subgraph* id, which depends on the partition count; we canonicalize to the
minimum *vertex* id per component (partition-invariant; identical groupings —
see SURVEY.md §5.2.3), which is what :func:`wcc` returns.

Structure mirrors the reference exactly, one level up:

1. **Partition-local WCC** (the `formSubgraphs` union-find,
   hama LongTextAdjacencyListReader.java:249-315 + DisjointSets.java:24-160):
   an Arrow-batched ``applyInPandas`` kernel runs a vectorized
   min-label/pointer-jumping contraction over each partition's edge block —
   each local component is the analogue of one GoFFish *subgraph*.
2. **Meta-graph label propagation** (ConnectedComponents.java:55-112): local
   component labels that share a vertex are linked; a driver-looped hash-min
   propagation over this (much smaller) meta edge table converges in
   O(log(meta-diameter)) supersteps.
3. Vertices resolve their final label through the converged meta mapping —
   one broadcast-ish join.

At 100 TB the heavy lifting (step 1) is embarrassingly parallel and never
shuffles edge payloads; only the contracted meta graph (≤ one row per
boundary vertex occurrence) hits the shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.partitioner import vertex_part
from goffish_v3_spark.plans.superstep import (
    StepResult, SuperstepLoop, observed_checkpoint,
)


def _local_components(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized union-find-equivalent on one partition's edges.

    Min-label propagation with pointer jumping (path compression) — pure
    numpy, O((V+E)·log V) worst case, no Python-per-row work. Returns
    (vid, label) with label = min vid of the vertex's local component.
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
        before = lbl.copy()
        np.minimum.at(lbl, u, lbl[v])
        np.minimum.at(lbl, v, lbl[u])
        # pointer jumping until idempotent
        while True:
            nxt = lbl[lbl]
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
        if np.array_equal(before, lbl):
            break
    # label index -> min actual vid in that component
    min_vid = np.full(len(vids), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(min_vid, lbl, vids)
    return pd.DataFrame({"vid": vids, "label": min_vid[lbl]})


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


def _hash_min_fixpoint(spark: SparkSession, meta_edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Distributed hash-min over the contracted label graph.

    ``meta_edges(a, b)`` links labels known to be in one component. Returns
    mapping ``(label, root)``. Each round every label absorbs the min over
    its neighbourhood, then the mapping is compressed through itself
    (pointer jumping) — converges in O(log n) rounds; raises
    ``RuntimeError`` if ``max_iter`` rounds pass without convergence.
    """
    sym = meta_edges.select("a", "b").unionByName(
        meta_edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sym = sym.distinct().persist()
    nodes = sym.select(F.col("a").alias("label")).distinct()
    mapping = nodes.withColumn("root", F.col("label")).localCheckpoint(eager=True)

    def step(mapping: DataFrame, i: int) -> StepResult:
        neigh_min = (
            sym.join(mapping, sym.b == mapping.label)
            .groupBy("a")
            .agg(F.min("root").alias("nmin"))
        )
        new_mapping = (
            mapping.join(neigh_min, mapping.label == neigh_min.a, "left")
            .select(
                "label",
                F.least(F.col("root"), F.coalesce(F.col("nmin"), F.col("root"))).alias("root"),
                F.col("root").alias("_old"),
            )
        )
        # pointer jumping: root := root's root
        m2 = new_mapping.alias("m1").join(
            new_mapping.select(
                F.col("label").alias("r_label"), F.col("root").alias("r_root")
            ).alias("m2"),
            F.col("m1.root") == F.col("r_label"),
            "left",
        ).select(
            F.col("m1.label").alias("label"),
            F.coalesce(F.col("r_root"), F.col("m1.root")).alias("root"),
            F.col("m1._old").alias("_old"),
        )
        # exact convergence witness: the number of labels whose root moved
        # (a sum of 64-bit roots overflows under ANSI mode on xxhash64-range
        # ids; a double sum can round a change away), observed during the
        # lineage-truncating materialization — ONE job per round
        m2, changed = observed_checkpoint(
            m2, F.count(F.when(F.col("root") != F.col("_old"), 1))
        )
        return StepResult(m2.select("label", "root"), changed == 0, truncated=True)

    try:
        return SuperstepLoop(
            spark, max_iter=max_iter, name="wcc hash-min", must_converge=True
        ).run(mapping, step).state
    finally:
        sym.unpersist()


def wcc(
    spark: SparkSession, edges: DataFrame, num_parts: int | None = None, max_iter: int = 50
) -> DataFrame:
    """Weakly connected components: ``(vid long, label long)``,
    label = min vid in the component (canonical, partition-invariant)."""
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    assign = local_component_labels(edges, num_parts).persist()
    assign.count()

    # vertices seen on multiple partitions stitch their local labels together
    per_vid = assign.groupBy("vid").agg(
        F.min("label").alias("mlabel"), F.count("*").alias("k")
    ).persist()
    meta_edges = (
        assign.join(per_vid, "vid")
        .filter(F.col("label") != F.col("mlabel"))
        .select(F.col("label").alias("a"), F.col("mlabel").alias("b"))
        .distinct()
    )

    mapping = _hash_min_fixpoint(spark, meta_edges, max_iter=max_iter)

    result = (
        per_vid.join(mapping, per_vid.mlabel == mapping.label, "left")
        .select("vid", F.coalesce(F.col("root"), F.col("mlabel")).alias("label"))
    )
    out = result.localCheckpoint(eager=True)
    assign.unpersist()
    per_vid.unpersist()
    return out
