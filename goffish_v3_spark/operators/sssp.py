"""Single-source shortest paths (unit and weighted).

Semantics: sample-hama SingleSourceShortestPath.java:65-576 (unit weights,
per-superstep local Dijkstra + boundary min-exchange; distances start at ∞,
source 0, parent pointers tracked) and the Giraph weighted variant
(giraph examples SubgraphSingleSourceShortestPathWithWeights.java:44-463).

Spark shape: frontier-driven Bellman-Ford supersteps —

    updates  = frontier ⋈ edges on src → (dst, dist+w, parent=src)
             → groupBy(dst).agg(min(struct(dist, parent)))   -- the reference's
               per-subgraph min-before-send (SSSP.java:256-300) is Spark's
               map-side partial min
    improved = updates ⋈ dist where new < old
    dist'    = dist outer-merge improved ; frontier' = improved

The loop touches only the frontier's out-edges each superstep (the analogue
of the reference's changed-roots re-run at :216-253), so total work is
O(Σ relaxations), not O(supersteps × |E|). Halts when no distance improves
(reference: no updates → voteToHalt).

Parent tie-break: smallest (dist, parent) pair — deterministic, so results
are partition-count invariant.

``sssp_csr`` is the subgraph-centric engine over CSR blocks; below the
one-task budget it runs these same sweeps in one task over the merged graph.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.block_cache import BlockStore, csr_fixpoint, load_block
from goffish_v3_spark.plans.csr import MergedCsr, carry_frame, owned_edges
from goffish_v3_spark.plans.partitioner import vertex_part
from goffish_v3_spark.plans.superstep import (
    StepFn, StepResult, SuperstepLoop, observed_checkpoint,
)

INF = float("inf")

SSSP_SCHEMA = "part int, kind int, vid long, d double, p long"


def _prep_edges(edges: DataFrame, weighted: bool, directed: bool) -> DataFrame:
    """``(src, dst, w)`` for both engines: unit weights unless ``weighted``,
    both directions unless ``directed``. Weighted runs reject a negative
    weight with ``ValueError`` — the engines' semantics are the reference's
    local Dijkstra, and a negative cycle inside one block would keep
    ``sssp_csr``'s local relaxation loop going forever."""
    if weighted and not edges.filter(F.col("w") < 0).isEmpty():
        raise ValueError("sssp: negative edge weight (weights must be >= 0)")
    e = edges.select("src", "dst", (F.col("w") if weighted else F.lit(1.0)).alias("w"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    return e


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    weighted: bool = False,
    directed: bool = True,
    max_iter: int = 200,
) -> DataFrame:
    """Return ``(vid long, dist double, parent long)``; unreachable vertices
    keep dist = +inf and parent = -1 (the reference prints Short.MAX for
    these, SSSP.java:90; +inf is our canonical unreachable marker)."""
    e = _prep_edges(edges, weighted, directed)
    # persist pre-shuffled AND pre-sorted on the per-superstep join key, so
    # frontier ⋈ e reuses the cached outputPartitioning/outputOrdering and
    # only the (small) frontier side exchanges each superstep — same layout
    # trick as operators.pagerank. ONE edge exchange: partition by src
    # first, then the (src,dst) min-w dedup is partition-local
    # (HashPartitioning(src) satisfies the grouping's clustering) and the
    # local sort rides the same layout.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        e.repartition(n_shuffle, "src")
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .sortWithinPartitions("src")
        .persist()
    )

    vertices = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    # the state is the last superstep's merge: (vid, dist, parent) plus the
    # _improved flag that marks the next frontier
    init = vertices.select(
        "vid",
        F.when(F.col("vid") == source, 0.0).otherwise(F.lit(INF)).alias("dist"),
        F.lit(-1).cast("long").alias("parent"),
        (F.col("vid") == source).alias("_improved"),
    ).localCheckpoint(eager=True)

    def step(state: DataFrame, i: int) -> StepResult:
        frontier = state.filter(F.col("_improved")).select("vid", "dist")
        candidates = (
            frontier.join(e, frontier.vid == e.src)
            .select(
                F.col("dst").alias("vid"),
                (F.col("dist") + F.col("w")).alias("nd"),
                F.col("src").alias("np"),
            )
            .groupBy("vid")
            .agg(F.min(F.struct("nd", "np")).alias("m"))
            .select("vid", F.col("m.nd").alias("nd"), F.col("m.np").alias("np"))
        )
        dist = state.select("vid", "dist", "parent")
        better = F.coalesce(F.col("nd"), F.lit(INF)) < F.col("dist")
        merged = dist.join(candidates, "vid", "left").select(
            "vid",
            F.when(better, F.col("nd")).otherwise(F.col("dist")).alias("dist"),
            F.when(better, F.col("np")).otherwise(F.col("parent")).alias("parent"),
            better.alias("_improved"),
        )
        # one job/superstep: improvement count observed during truncation
        out, improved = observed_checkpoint(
            merged, F.sum(F.col("_improved").cast("long"))
        )
        return StepResult(out, not improved)

    try:
        info = SuperstepLoop(
            spark, max_iter=max_iter, name="sssp", must_converge=True
        ).run(init, step)
    finally:
        e.unpersist()
    return info.state.select("vid", "dist", "parent")


def _seed(vids: np.ndarray, source: int):
    """Superstep 0's ``(dist, parent, frontier)`` over ``vids``: every
    distance inf but the source's 0 — a source absent from ``vids`` leaves
    them all inf — every parent -1, and the source alone on the frontier."""
    frontier = vids == source
    return np.where(frontier, 0.0, np.inf), np.full(len(vids), -1, dtype=np.int64), frontier


def _improve(
    dist: np.ndarray, parent: np.ndarray, idx: np.ndarray, nd: np.ndarray, np_: np.ndarray
) -> np.ndarray:
    """Apply candidates ``(nd, np_)`` for positions ``idx``: the min ``(dist,
    parent)`` pair per position, taken on strict improvement — :func:`sssp`'s
    merge. Returns the improved positions."""
    ok = nd < dist[idx]
    idx, nd, np_ = idx[ok], nd[ok], np_[ok]
    order = np.lexsort((np_, nd, idx))
    idx, nd, np_ = idx[order], nd[order], np_[order]
    first = np.concatenate(([True], idx[1:] != idx[:-1]))[: len(idx)]
    dist[idx[first]] = nd[first]
    parent[idx[first]] = np_[first]
    return idx[first]


def _relax(
    seg: np.ndarray, dst: np.ndarray, w: np.ndarray, vids: np.ndarray,
    dist: np.ndarray, parent: np.ndarray, frontier: np.ndarray,
) -> np.ndarray:
    """Frontier Bellman-Ford sweeps to fixpoint over the edges ``seg[e] →
    dst[e]`` (positions into ``dist``) of weight ``w[e]``, each sweep one
    superstep of :func:`sssp`: the previous sweep's improved vertices
    relax their out-edges, with their ``vids`` entry as parent. Starts from
    the mask ``frontier`` and returns the mask of vertices improved,
    ``frontier`` included."""
    changed = frontier.copy()
    while len(seg):
        act = frontier[seg]
        s = seg[act]
        improved = _improve(dist, parent, dst[act], dist[s] + w[act], vids[s])
        if not len(improved):
            break
        frontier = np.zeros(len(dist), dtype=bool)
        frontier[improved] = True
        changed |= frontier
    return changed


def _make_sssp_kernel(superstep: int, source: int, blocks_path: str):
    """One superstep of subgraph-centric SSSP: apply inbound boundary
    candidates, relax the partition-local subgraph **to convergence**
    (vectorized frontier Bellman-Ford sweeps over the local CSR — the
    reference's per-superstep full local search, SingleSourceShortestPath.
    java:407-536 ``aStar``), then emit min-combined boundary candidates from
    changed vertices only (:350-376's changed-roots bundling).

    The kernel is a plain grouped map over state+messages and fetches its
    CSR block from the store at ``blocks_path`` (plans.block_cache) — the
    reference's load-once-compute-many shape (GraphJobRunner.java:105-126)."""

    def kernel(key, sm_pdf):
        blk = load_block(blocks_path, int(key[0]))
        n = blk.n_local

        if superstep == 0:
            dist, parent, changed = _seed(blk.local_vids, source)
        else:
            dist, parent = blk.per_vertex(sm_pdf, 0, d=np.float64, p=np.int64)
            changed = np.zeros(n, dtype=bool)

        # deliver inbound candidates: min (d, p) per vid, strict improvement
        msg_rows = sm_pdf[sm_pdf["kind"] == 1]
        changed[_improve(
            dist, parent, blk.pos(msg_rows["vid"].to_numpy(dtype=np.int64)),
            msg_rows["d"].to_numpy(dtype=np.float64), msg_rows["p"].to_numpy(dtype=np.int64),
        )] = True

        # local relaxation to fixpoint (P3): frontier sweeps over local edges
        seg = np.repeat(np.arange(n, dtype=np.int64), blk.out_degrees)
        local_e = blk.edge_dst_local >= 0
        changed = _relax(
            seg[local_e], blk.edge_dst_local[local_e], blk.edge_w[local_e],
            blk.local_vids, dist, parent, changed,
        )

        # boundary candidates from changed vertices, min-combined per target
        out_part = np.empty(0, dtype=np.int32)
        out_vid = np.empty(0, dtype=np.int64)
        out_d = np.empty(0, dtype=np.float64)
        out_p = np.empty(0, dtype=np.int64)
        remote_e = ~local_e
        if changed.any() and remote_e.any():
            act = remote_e & changed[seg]
            if act.any():
                r_seg = seg[act]
                r_vid = blk.edge_dst_vid[act]
                r_part = blk.edge_dst_part[act]
                r_d = dist[r_seg] + blk.edge_w[act]
                r_p = blk.local_vids[r_seg]
                order = np.lexsort((r_p, r_d, r_vid, r_part))
                r_part, r_vid, r_d, r_p = (
                    r_part[order], r_vid[order], r_d[order], r_p[order]
                )
                first = np.concatenate(
                    ([True], (r_vid[1:] != r_vid[:-1]) | (r_part[1:] != r_part[:-1]))
                )
                out_part, out_vid, out_d, out_p = (
                    r_part[first], r_vid[first], r_d[first], r_p[first]
                )

        return carry_frame(
            SSSP_SCHEMA,
            (blk.part, 0, blk.local_vids, {"d": dist, "p": parent}),
            (out_part, 1, out_vid, {"d": out_d, "p": out_p}),
            (blk.part, 2, -1, {"p": int(changed.sum())}),
        )

    return kernel


def sssp_csr(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    weighted: bool = False,
    directed: bool = True,
    num_parts: int | None = None,
    max_iter: int = 10_000,
    part_expr=None,
    blocks_dir: str | None = None,
) -> DataFrame:
    """Subgraph-centric SSSP over partition-local CSR blocks — the P3
    superstep-collapsing engine. Returns ``(vid, dist, parent)`` with the
    same distances as :func:`sssp`.

    Supersteps scale with the number of cross-partition hops on shortest
    paths, not the hop diameter: with a locality-aware ``part_expr`` (range
    buckets, k-means growth — the METIS analogue) a diameter-10³ road
    network needs O(meta-diameter) rounds where the DataFrame Bellman-Ford
    needs 10³ (reference rationale: SingleSourceShortestPath.java:407-536).

    :func:`plans.block_cache.csr_fixpoint` picks the path. Below the
    one-task budget one task runs :func:`_relax` over every block merged —
    :func:`sssp`'s own synchronous sweeps, so distances and parents equal
    :func:`sssp`'s — as one superstep, in one job after the sizing job.
    Above it the supersteps fetch their CSR block from the worker-local
    block store (plans.block_cache, the load-once-compute-many shape);
    ``blocks_dir`` points the store at executor-visible storage — REQUIRED
    on a multi-executor cluster.
    """
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def solve(m: MergedCsr):
        dist, parent, frontier = _seed(m.vids, source)
        seg = np.repeat(np.arange(m.n, dtype=np.int64), np.diff(m.indptr))
        _relax(seg, m.dst_idx, m.w, m.vids, dist, parent, frontier)
        return 1, [(m.owner, 0, m.vids, {"d": dist, "p": parent})]

    def make_step(store: BlockStore) -> StepFn:
        def step(carry: DataFrame, i: int) -> StepResult:
            out, improved = observed_checkpoint(
                carry.groupby("part").applyInPandas(
                    _make_sssp_kernel(i, source, store.path), schema=SSSP_SCHEMA
                ),
                F.sum(F.when(F.col("kind") == 2, F.col("p"))),
            )
            return StepResult(out.filter(F.col("kind") != 2), not improved)

        return step

    info = csr_fixpoint(
        SuperstepLoop(spark, max_iter=max_iter, name="sssp_csr", must_converge=True),
        SSSP_SCHEMA,
        owned_edges(
            _prep_edges(edges, weighted, directed),
            part_expr or (lambda c: vertex_part(c, num_parts)),
        ),
        solve,
        make_step,
        blocks_dir=blocks_dir,
        prefix="goffish_sssp_",
    )
    # a filter over the loop's checkpoint: it outlives the block store
    result = info.state.filter(F.col("kind") == 0).select(
        "vid", F.col("d").alias("dist"), F.col("p").alias("parent")
    )
    result.sssp_supersteps = info.supersteps  # introspection for tests/bench
    return result
