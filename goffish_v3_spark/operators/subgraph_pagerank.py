"""Subgraph-centric PageRank over partition-local CSR blocks.

This is the faithful structural analogue of the reference's PageRank
(sample-hama PageRank.java:19-149) — same numbers as operators.pagerank, same
convergence gate, but executed the way GoFFish executes it:

- every partition holds its vertices' ranks + a **pending local sum**
  (the reference's ``localSums`` map, PageRank.java:28) updated *without any
  shuffle* for edges whose dst is co-located (PageRank.java:120-134);
- only cross-partition contributions become messages, pre-aggregated per
  (dst_part, dst) before the shuffle — exactly the reference's per-target
  bundling of ``remoteSums`` (PageRank.java:136-146) — and summed on
  arrival by the receiving kernel, so they cross the wire in the
  superstep's one exchange with no JVM aggregation in between;
- a distributed superstep is ONE grouped ``applyInPandas`` over
  state+msgs by partition, each task fetching its CSR block from the
  worker-local block store (plans.block_cache) — the vectorized counterpart
  of "deliver messages, then run compute() per subgraph"
  (GraphJobRunner.java:269-331);
- the ε-convergence gate is the reference's all-deltas ≤ ε (PageRank.java:
  108-116), collected driver-side from per-partition delta rows;
- one task: when the graph fits one task, the shared CSR fixpoint driver
  (``plans.block_cache.csr_fixpoint``) runs the whole fixpoint as ONE
  Spark job from the edge table — one task assembles and merges every
  part's block and :func:`_tail_solve` runs superstep 0 (seed or warm
  start) and every later superstep over the merged CSR, with no block
  store and no distributed superstep: the subgraph-centric premise carried
  to the whole graph once it fits one subgraph (same blocks, same update,
  same gate, same superstep count).

Above that budget the blocks are built distributed, written to the block
store once, and each superstep shuffles only boundary contributions
(O(cut size)) instead of O(|E|) — the reason the subgraph-centric model
beats vertex-centric engines (README.md:3), reproduced here with Arrow
batches instead of Writable messages.

Carry columns in the shared protocol (plans.csr): kind 0 = state (vid,
a=rank, b=pending_local_sum); kind 1 = message (vid=dst, a=contribution);
kind 2 = per-partition metric (a=max delta; from the one task,
a=supersteps it ran).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.block_cache import BlockStore, csr_fixpoint, load_block
from goffish_v3_spark.plans.csr import CsrBlock, MergedCsr, carry_frame, owned_edges
from goffish_v3_spark.plans.partitioner import vertex_part
from goffish_v3_spark.plans.superstep import StepResult, SuperstepLoop, observed_checkpoint

OUT_SCHEMA = "part int, kind int, vid long, a double, b double"

ALPHA = 0.85
EPSILON = 1e-3
# the SubgraphRank warm start's local convergence threshold
LOCAL_EPS = 0.05


def _local_pagerank(blk: CsrBlock, alpha: float, eps: float, max_sweeps: int = 200):
    """The SubgraphRank warm start (SubgraphRank.java:117-143 ``LPRCompute``):
    PageRank over the partition-local edge set alone, iterated to the local
    ε before the first global superstep. Returns ranks summing to ~1 over
    the local block (caller scales by n_local/N, :54-61)."""
    n = blk.n_local
    if n == 0:
        return np.empty(0, dtype=np.float64)
    l_mask = blk.edge_dst_local >= 0
    seg = np.repeat(np.arange(n, dtype=np.int64), blk.out_degrees)
    l_seg = seg[l_mask]
    l_dst = blk.edge_dst_local[l_mask]
    l_outdeg = np.bincount(l_seg, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    base_l = (1.0 - alpha) / n
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_deg = np.where(l_outdeg > 0, 1.0 / np.maximum(l_outdeg, 1.0), 0.0)
    for _ in range(max_sweeps):
        contrib = np.zeros(n, dtype=np.float64)
        per_src = r * inv_deg
        np.add.at(contrib, l_dst, per_src[l_seg])
        r_new = alpha * contrib + base_l
        if np.max(np.abs(r_new - r)) <= eps:
            return r_new
        r = r_new
    return r


def _make_kernel(
    superstep: int,
    alpha: float,
    base: float,
    blocks_path: str,
    n_total: int,
    local_init: bool = False,
):
    def kernel(key, sm_pdf):
        blk = load_block(blocks_path, int(key[0]))
        n_local = blk.n_local

        if superstep == 0:
            # a kind=-1 seed row is all a part gets: ranks start at 1/N
            ranks = np.full(n_local, 1.0 / n_total)
            pending = np.zeros(n_local, dtype=np.float64)
        else:
            ranks, pending = blk.per_vertex(sm_pdf, 0, a=np.float64, b=np.float64)

        # deliver messages: one pre-summed row per (sending part, dst), so a
        # vid may get several rows — np.add.at sums duplicates
        msg_rows = sm_pdf[sm_pdf["kind"] == 1]
        if len(msg_rows):
            midx = blk.pos(msg_rows["vid"].to_numpy(dtype=np.int64))
            np.add.at(pending, midx, msg_rows["a"].to_numpy(dtype=np.float64))

        # rank update (skipped on superstep 0: ranks are the 1/N init and the
        # first pass only seeds contributions — PageRank.java:41-75)
        if superstep == 0:
            if local_init:
                # SubgraphRank: local PR to ε inside the block, scaled by
                # |block|/|G| (SubgraphRank.java:54-61,117-143)
                new_ranks = _local_pagerank(blk, alpha, LOCAL_EPS) * (
                    n_local / n_total
                )
            else:
                new_ranks = ranks
            delta = np.inf
        else:
            new_ranks = alpha * pending + base
            delta = float(np.max(np.abs(new_ranks - ranks))) if n_local else 0.0

        # contribution pass over the block's out-edges (PageRank.java:120-141)
        outdeg = blk.out_degrees
        new_pending = np.zeros(n_local, dtype=np.float64)
        out_msgs_part = np.empty(0, dtype=np.int32)
        out_msgs_vid = np.empty(0, dtype=np.int64)
        out_msgs_val = np.empty(0, dtype=np.float64)
        if blk.edge_dst_vid.size:
            with np.errstate(divide="ignore", invalid="ignore"):
                per_src = np.where(outdeg > 0, new_ranks / np.maximum(outdeg, 1), 0.0)
            contrib = np.repeat(per_src, outdeg)
            local_mask = blk.edge_dst_local >= 0
            np.add.at(new_pending, blk.edge_dst_local[local_mask], contrib[local_mask])
            # pre-aggregate remote contributions per (dst_part, dst) before
            # the shuffle — the reference's remoteSums bundling
            r_vid = blk.edge_dst_vid[~local_mask]
            r_part = blk.edge_dst_part[~local_mask]
            r_val = contrib[~local_mask]
            if r_vid.size:
                order = np.lexsort((r_vid, r_part))
                vid_s, part_s, val_s = r_vid[order], r_part[order], r_val[order]
                boundaries = np.concatenate(
                    ([True], (vid_s[1:] != vid_s[:-1]) | (part_s[1:] != part_s[:-1]))
                )
                grp = np.cumsum(boundaries) - 1
                sums = np.zeros(grp[-1] + 1, dtype=np.float64)
                np.add.at(sums, grp, val_s)
                first = np.nonzero(boundaries)[0]
                out_msgs_vid = vid_s[first]
                out_msgs_part = part_s[first]
                out_msgs_val = sums

        return carry_frame(
            OUT_SCHEMA,
            (blk.part, 0, blk.local_vids, {"a": new_ranks, "b": new_pending}),
            (out_msgs_part, 1, out_msgs_vid, {"a": out_msgs_val}),
            (blk.part, 2, -1, {"a": delta}),
        )

    return kernel


def _tail_solve(
    m: MergedCsr, alpha: float, eps: float, total: int, gated: bool, local_init: bool
):
    """The one-task fixpoint: up to ``total`` supersteps over the merged
    CSR, superstep 0 included — ranks seeded at 1/N or, with
    ``local_init``, by the SubgraphRank warm start per block scaled by
    |block|/N, then the distributed kernel's synchronous update ``rank' =
    alpha * pending + base`` and, when ``gated``, its stop on ``max|delta|
    <= eps``, over the global CSR instead of per block plus messages.
    Returns ``(supersteps, ranks)`` in merged order."""
    n = m.n
    base = (1.0 - alpha) / n
    if local_init:
        ranks = np.concatenate(
            [_local_pagerank(b, alpha, LOCAL_EPS) * (b.n_local / n) for b in m.blocks]
        )
    else:
        ranks = np.full(n, 1.0 / n)
    outdeg = np.diff(m.indptr)
    done = 1
    while done < total:
        with np.errstate(divide="ignore", invalid="ignore"):
            per_src = np.where(outdeg > 0, ranks / np.maximum(outdeg, 1), 0.0)
        pending = np.bincount(
            m.dst_idx, weights=np.repeat(per_src, outdeg), minlength=n
        )
        new_ranks = alpha * pending + base
        delta = float(np.max(np.abs(new_ranks - ranks)))
        ranks = new_ranks
        done += 1
        if gated and delta <= eps:
            break
    return done, ranks


def csr_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int | None = None,
    alpha: float = ALPHA,
    eps: float = EPSILON,
    max_iter: int = 100,
    blocks: DataFrame | None = None,
    fixed_iterations: int | None = None,
    local_init: bool = False,
    blocks_dir: str | None = None,
) -> DataFrame:
    """PageRank over CSR blocks; returns ``(vid long, rank double)`` equal to
    operators.pagerank within float tolerance (same update order).

    ``fixed_iterations`` runs exactly that many global rank updates (the
    SQL-oracle comparison mode). ``local_init`` enables the SubgraphRank
    warm start: PageRank over each partition's local edges to ``LOCAL_EPS``
    convergence before the first global superstep (SubgraphRank.java:117-143)
    — the superstep-saving inner loop; the global phase still converges to
    the plain PageRank fixpoint.

    :func:`plans.block_cache.csr_fixpoint` picks the path: below the
    one-task budget one more job runs everything (:func:`_tail_solve`);
    above it the supersteps fetch their CSR block from the worker-local
    block store (plans.block_cache), so only state and messages cross the
    shuffle; ``blocks_dir``, the store's directory, must point at
    executor-visible storage on a multi-executor cluster."""
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    gated = fixed_iterations is None
    total = max_iter if gated else fixed_iterations + 1

    def solve(m: MergedCsr):
        steps, ranks = _tail_solve(m, alpha, eps, total, gated, local_init)
        return steps, [(m.owner, 0, m.vids, {"a": ranks})]

    info = csr_fixpoint(
        SuperstepLoop(spark, max_iter=total, name="csr_pagerank"),
        OUT_SCHEMA,
        owned_edges(edges, lambda c: vertex_part(c, num_parts)),
        solve,
        lambda store: _csr_step(store, alpha, eps, gated, local_init),
        blocks=blocks,
        blocks_dir=blocks_dir,
        prefix="goffish_pr_",
    )
    # the loop's state is a filter over a checkpointed frame: it outlives
    # the block store without another checkpoint
    result = info.state.filter(F.col("kind") == 0).select(
        "vid", F.col("a").alias("rank")
    )
    result.pr_supersteps = info.supersteps  # introspection for tests/bench
    return result


def subgraph_rank(spark: SparkSession, edges: DataFrame, **kw) -> DataFrame:
    """SubgraphRank (sample-hama SubgraphRank.java:16-192): block PageRank
    with the local-convergence warm start; converges to the same scores as
    plain PageRank in fewer global supersteps."""
    return csr_pagerank(spark, edges, local_init=True, **kw)


def _csr_step(store: BlockStore, alpha, eps, gated, local_init):
    """The distributed SuperstepLoop step over the kernel's kind 0/1 carry,
    started from the per-part seed rows and stopping on the ε-gate when
    ``gated``; the graph is above the one-task budget.

    Every superstep, superstep 0 (the seed pass, or the SubgraphRank warm
    start) included, is one Spark job with one exchange: the kernel's kind
    0 (state) and kind 1 (message) rows of the previous superstep are
    grouped by ``part`` and handed to the kernel. Messages need no JVM
    aggregation on the way: the sending kernel already sums them per
    ``(dst_part, dst)`` and the receiving kernel sums what arrives from
    several partitions with ``np.add.at``. The kind 2 max-delta rides the
    checkpoint as an Observation, so the ε-gate adds no job either."""
    base = (1.0 - alpha) / store.n_vertices
    kind2_a = F.max(F.when(F.col("kind") == 2, F.col("a")))

    def step(carry: DataFrame, i: int) -> StepResult:
        kernel = _make_kernel(
            i, alpha, base, store.path, store.n_vertices, local_init=local_init
        )
        out, delta = observed_checkpoint(
            carry.groupby("part").applyInPandas(kernel, schema=OUT_SCHEMA), kind2_a
        )
        return StepResult(
            out.filter(F.col("kind") != 2),
            gated and delta is not None and delta <= eps,
        )

    return step
