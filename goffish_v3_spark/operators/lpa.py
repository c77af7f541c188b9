"""Label-propagation community detection (synchronous, deterministic).

The reference's ConnectedComponents (sample-hama ConnectedComponents.java:45)
*is* min-label propagation; LPA is its natural generalization required by
north_rule — per round every vertex adopts the most frequent label among its
neighbours. Reference has no standalone LPA program (SURVEY.md §2.C C5), so
semantics are pinned here:

- undirected view of the edge table (symmetrized, deduped);
- synchronous rounds (all updates computed from the previous round's labels);
- tie-break: the smallest label among the equally-most-frequent;
- isolated vertices keep their own vid as label;
- stop when no label changed or ``max_iter`` reached.

Deterministic by construction (total-ordered tie-break, no RNG), so results
are invariant across partition counts and resumes (SURVEY.md §7.3.6).

Shape per round: one join (labels ⋈ edges) + one count aggregation + one
argmax via ``max(struct(cnt, -label))`` — all JVM-side, partial-agg friendly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.block_cache import block_store, load_block
from goffish_v3_spark.plans.csr import (
    CsrBlock, build_csr_blocks_sym, carry_frame, changed_sends, merge_boundary,
    passthrough, shadow_rows,
)
from goffish_v3_spark.plans.superstep import (
    StepResult, SuperstepLoop, observed_checkpoint,
)


def _symmetrize(edges: DataFrame, partition_into: int) -> DataFrame:
    """Both edge directions, self-loops dropped, (src,dst)-deduped.

    The dedup rides a single repartition-by-src exchange into
    ``partition_into`` partitions (HashPartitioning(src) satisfies the
    dedup's clustering — the same one-exchange layout as
    operators.pagerank's setup), and the output is left hash-partitioned on
    src for the caller to cache."""
    e = edges.select("src", "dst")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    return sym.repartition(partition_into, "src").dropDuplicates(["src", "dst"])


def lpa(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    fixed_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Return ``(vid long, label long)`` communities."""
    # persist the symmetrized adjacency pre-shuffled + pre-sorted on the join
    # key — every round's state⋈und sort-merge join then skips exchange+sort
    # on the (large) edge side (same pattern as operators.pagerank)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    und = _symmetrize(edges, n_shuffle).sortWithinPartitions("src").persist()
    vertices = und.select(F.col("src").alias("vid")).distinct()

    init = vertices.withColumn("label", F.col("vid")).localCheckpoint(eager=True)

    def step(state: DataFrame, i: int) -> StepResult:
        # each neighbour votes with its current label
        votes = (
            state.join(und, state.vid == und.src)
            .groupBy(F.col("dst").alias("vid"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        picked = (
            votes.groupBy("vid")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("vid", (-F.col("m.nl")).alias("new_label"))
        )
        new_state = (
            state.join(picked, "vid", "left")
            .select(
                "vid",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                F.col("label").alias("_old"),
            )
        )
        # one job: changed-count observed during the lineage-truncating
        # materialization (same pattern as pagerank); a round that changes
        # no label is a fixpoint, so fixed mode stops there too
        out, changed = observed_checkpoint(
            new_state,
            F.sum(F.when(F.col("label") != F.col("_old"), 1).otherwise(0)),
        )
        changed = int(changed or 0)
        return StepResult(out.select("vid", "label"), changed == 0, delta=float(changed))

    loop = SuperstepLoop(
        spark,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        max_iter=(fixed_iterations if fixed_iterations is not None else max_iter),
    )
    info = loop.run(init, step, resume=resume)
    und.unpersist()
    return info.state


# ---------------------------------------------------------------------------
# Subgraph-centric LPA over CSR blocks (engine-shape parity, SURVEY §4 P3)
# ---------------------------------------------------------------------------

LPA_SCHEMA = "part int, kind int, vid long, a long, payload binary"

# cap on the mode-propagation sweeps of one block in one superstep
MAX_LOCAL_SWEEPS = 10_000


def _local_mode_fixpoint(
    blk: CsrBlock,
    label: np.ndarray,
    remote_label: np.ndarray,
) -> np.ndarray:
    """Synchronous mode-propagation sweeps over one block to local fixpoint,
    with remote neighbours pinned at ``remote_label`` (per-edge values, only
    read where ``edge_dst_local < 0``).

    Each sweep is the DataFrame variant's round restricted to the block:
    every local vertex adopts the most frequent neighbour label, tie → the
    smallest. Fully vectorized (one lexsort + run-length mode per sweep).

    Synchronous LPA can 2-cycle (bipartite flip); on detecting ``new ==
    state-two-sweeps-ago`` the sweep loop stops at the lexicographically
    smaller of the two cycle states — deterministic and independent of the
    phase at which the cycle was entered."""
    indptr = blk.indptr
    n = blk.n_local
    n_edges = len(blk.edge_dst_vid)
    if n == 0 or n_edges == 0:
        return label
    deg = np.diff(indptr)
    seg = np.repeat(np.arange(n, dtype=np.int64), deg)
    local_idx = blk.edge_dst_local
    is_local = local_idx >= 0
    nv = np.empty(n_edges, dtype=np.int64)
    nv[~is_local] = remote_label[~is_local]
    prev = None
    for _ in range(MAX_LOCAL_SWEEPS):
        nv[is_local] = label[local_idx[is_local]]
        order = np.lexsort((nv, seg))
        seg_s, nv_s = seg[order], nv[order]
        new_run = np.empty(n_edges, dtype=bool)
        new_run[0] = True
        new_run[1:] = (seg_s[1:] != seg_s[:-1]) | (nv_s[1:] != nv_s[:-1])
        run_id = np.cumsum(new_run) - 1
        cnt = np.bincount(run_id)
        starts = np.flatnonzero(new_run)
        run_seg, run_label = seg_s[starts], nv_s[starts]
        # per segment: max count wins; runs are label-ascending within a
        # segment and lexsort is stable, so first-per-segment after a
        # -cnt sort is (max count, min label)
        o2 = np.lexsort((-cnt, run_seg))
        first = np.empty(len(o2), dtype=bool)
        first[0] = True
        first[1:] = run_seg[o2][1:] != run_seg[o2][:-1]
        new_label = label.copy()
        new_label[run_seg[o2][first]] = run_label[o2][first]
        if np.array_equal(new_label, label):
            break
        if prev is not None and np.array_equal(new_label, prev):
            # 2-cycle {label, new_label}: keep the lexicographically smaller
            cmp = label != new_label
            i0 = np.flatnonzero(cmp)[0]
            label = label if label[i0] < new_label[i0] else new_label
            break
        prev = label
        label = new_label
    return label


def _make_lpa_kernel(superstep: int, blocks_path: str):
    """One superstep: merge shadows+messages, run the block to local mode
    fixpoint, emit state (kind=0), changed-only boundary labels (kind=1),
    the refreshed shadow (one packed kind=3 row routed to self, see
    plans.csr.pack_shadow), the superstep-start labels
    (kind=4, routed to self — next superstep's prev-prev state for the
    cross-block cycle damper), and a changed count (kind=2).

    Initial labels are ``label(v) = v`` (lpa() semantics), so a remote
    neighbour with no shadow entry is KNOWN to still hold its own vid —
    changed-only messaging therefore needs no full first exchange (unlike
    kcore, whose degree seeds are not computable receiver-side).

    Cycle damper: the in-sweep 2-cycle breaker only sees oscillation INSIDE
    a block; a cross-block 2-cycle (e.g. a bridge edge whose endpoints swap
    labels every superstep) oscillates at superstep granularity. When a
    vertex's end-of-superstep label equals its label two supersteps ago and
    differs from last superstep's, the pair {prev, current} is a 2-cycle:
    take the elementwise min — deterministic, phase-independent, and a
    no-op on monotone trajectories.

    The kernel is a plain grouped map over state+messages; it fetches its
    CSR block from the store at ``blocks_path`` (plans.block_cache) — the
    load-once-compute-many shape shared with kcore/sssp_csr/csr_pagerank."""

    def quiescent(sm_pdf) -> bool:
        """Partition-level wake-on-message (the reference's voteToHalt
        shape, mirroring kcore's passthrough): skip the block fetch and the
        mode-fixpoint when (a) no fresh boundary labels arrived AND (b) the
        partition's own previous superstep reported changed == 0 — its
        kind-2 row rides the carry back to itself. (b) is required here,
        unlike kcore: the cross-block cycle damper can rewrite labels AFTER
        the local fixpoint, so a no-message partition with changed > 0 may
        not be at a re-runnable fixpoint yet. With changed == 0 the damper
        provably did not fire (it requires label != prev) and the persisted
        state is a verified mode fixpoint, so a re-run would emit exactly
        these rows."""
        if superstep == 0 or (sm_pdf["kind"] == 1).any():
            return False
        pc = sm_pdf[sm_pdf["kind"] == 2]
        return len(pc) > 0 and int(pc["a"].iloc[0]) == 0

    def kernel(key, sm_pdf):
        if quiescent(sm_pdf):
            # state, shadow and prev-prev labels verbatim; nothing needed
            # from the CSR block — skip the block fetch
            return passthrough(LPA_SCHEMA, sm_pdf, (0, 3, 4))
        blk = load_block(blocks_path, int(key[0]))
        n = blk.n_local
        seg = np.repeat(np.arange(n, dtype=np.int64), blk.out_degrees)
        remote_mask = blk.edge_dst_local < 0
        shadow_vid = np.empty(0, dtype=np.int64)
        shadow_val = np.empty(0, dtype=np.int64)
        prevprev = None

        if superstep == 0:
            label = blk.local_vids.copy()
        else:
            (label,) = blk.per_vertex(sm_pdf, 0, a=np.int64)
            if (sm_pdf["kind"] == 4).any():
                (prevprev,) = blk.per_vertex(sm_pdf, 4, a=np.int64)
            shadow_vid, shadow_val = merge_boundary(sm_pdf)
        prev = label.copy()

        # per-edge remote labels: shadow value, else the neighbour's own vid
        # (its initial label — exact for never-changed vertices)
        remote_label = np.zeros(len(blk.edge_dst_vid), dtype=np.int64)
        if remote_mask.any():
            want = blk.edge_dst_vid[remote_mask]
            vals = want.copy()
            if len(shadow_vid):
                pos = np.minimum(np.searchsorted(shadow_vid, want), len(shadow_vid) - 1)
                hit = shadow_vid[pos] == want
                vals[hit] = shadow_val[pos[hit]]
            remote_label[remote_mask] = vals

        label = _local_mode_fixpoint(blk, label, remote_label)
        if prevprev is not None:
            cyc = (label == prevprev) & (label != prev)
            if cyc.any():
                label = np.where(cyc, np.minimum(label, prev), label)
        changed_mask = label != prev
        changed = np.int64(np.count_nonzero(changed_mask))

        msg_part, msg_vidx = changed_sends(blk, seg, remote_mask & changed_mask[seg])
        return carry_frame(
            LPA_SCHEMA,
            (blk.part, 0, blk.local_vids, {"a": label}),
            (msg_part, 1, blk.local_vids[msg_vidx], {"a": label[msg_vidx]}),
            *shadow_rows(blk.part, shadow_vid, shadow_val),
            (blk.part, 4, blk.local_vids, {"a": prev}),
            (blk.part, 2, -1, {"a": changed}),
        )

    return kernel


def lpa_csr(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int | None = None,
    max_iter: int = 30,
    part_expr=None,
    blocks_dir: str | None = None,
) -> DataFrame:
    """Subgraph-centric LPA: each superstep runs mode-propagation to local
    fixpoint inside every CSR block (remote labels pinned at their
    last-received values), then exchanges only the boundary labels that
    changed — the engine shape of the reference's per-partition
    local-compute-to-convergence programs (e.g. KCore.java:91-99,
    SingleSourceShortestPath.java:407-536), applied to LPA.

    Returns ``(vid long, label long)``. Labels are an LPA labeling but
    (like any asynchronous-schedule LPA) NOT bit-identical to :func:`lpa`'s
    synchronous rounds for a given partitioning other than 1 block; with
    ``num_parts=1`` the local fixpoint IS full synchronous LPA and results
    coincide on graphs that converge without 2-cycling (the cycle-breaker
    picks the lexicographically smaller cycle state, where :func:`lpa` stops
    wherever ``max_iter`` lands). Superstep-level 2-cycles across blocks are
    damped to their elementwise-min state (see _make_lpa_kernel); longer
    oscillations — inherent to synchronous LPA, :func:`lpa` included — exit
    at ``max_iter`` mid-cycle. Deterministic for a fixed partitioning.

    Supersteps scale with how many blocks a label wave must cross, not the
    round count of the wave itself: with a locality-aware ``part_expr`` a
    depth-R propagation inside one block costs one superstep (asserted ≪
    DataFrame rounds in tests/test_lpa.py). The result exposes
    ``lpa_supersteps`` for introspection."""
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    blocks = build_csr_blocks_sym(spark, edges, num_parts, part_expr=part_expr)

    with block_store(spark, blocks, blocks_dir, "goffish_lpa_") as store:
        def step(carry: DataFrame, i: int) -> StepResult:
            kernel = _make_lpa_kernel(i, store.path)
            out, changed = observed_checkpoint(
                carry.groupby("part").applyInPandas(kernel, schema=LPA_SCHEMA),
                F.sum(F.when(F.col("kind") == 2, F.col("a"))),
            )
            # kind-2 rows stay in the carry: each partition's changed count
            # rides back to itself so the kernel's quiescent check can prove
            # its state is a re-runnable fixpoint (1 row/part)
            return StepResult(out, not changed)

        info = SuperstepLoop(spark, max_iter=max_iter, name="lpa_csr").run(
            store.seed(spark, LPA_SCHEMA), step
        )
    # a filter over the loop's checkpoint: it outlives the block store
    result = info.state.filter(F.col("kind") == 0).select(
        "vid", F.col("a").alias("label")
    )
    result.lpa_supersteps = info.supersteps
    return result
