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
- each superstep is ONE cogrouped ``applyInPandas`` over (csr ⋅ state+msgs)
  grouped by partition — the vectorized counterpart of "deliver messages,
  then run compute() per subgraph" (GraphJobRunner.java:269-331);
- the ε-convergence gate is the reference's all-deltas ≤ ε (PageRank.java:
  108-116), collected driver-side from per-partition delta rows.

At scale this shuffles only boundary contributions (O(cut size)) per
superstep instead of O(|E|) — the reason the subgraph-centric model beats
vertex-centric engines (README.md:3), reproduced here with Arrow batches
instead of Writable messages.

Output row protocol from the kernel (single DataFrame, demuxed by ``kind``
like the reference's MessageType demux, GraphJobRunner.java:440-493):
kind 0 = state (vid, a=rank, b=pending_local_sum), routed to own part;
kind 1 = message (vid=dst, a=contribution), routed to dst part;
kind 2 = per-partition metric (a=max delta).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.csr import CsrBlock, build_csr_blocks
from goffish_v3_spark.plans.superstep import no_aqe

OUT_SCHEMA = "part int, kind int, vid long, a double, b double"

ALPHA = 0.85
EPSILON = 1e-3


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


_PR_EMPTY = {"part": "int32", "kind": "int32", "vid": "int64", "a": "f8", "b": "f8"}


def _make_kernel(
    superstep: int,
    alpha: float,
    base: float,
    local_init: bool = False,
    local_eps: float = 0.05,
    n_total: int | None = None,
    blocks_path: str | None = None,
):
    def body(blk: CsrBlock, sm_pdf: pd.DataFrame) -> pd.DataFrame:
        n_local = blk.n_local

        state_rows = sm_pdf[sm_pdf["kind"] == 0]
        msg_rows = sm_pdf[sm_pdf["kind"] == 1]

        # align state to the block's sorted vid order
        idx = blk.align(state_rows["vid"].to_numpy(dtype=np.int64))
        ranks = np.empty(n_local, dtype=np.float64)
        pending = np.zeros(n_local, dtype=np.float64)
        ranks[idx] = state_rows["a"].to_numpy(dtype=np.float64)
        pending[idx] = state_rows["b"].to_numpy(dtype=np.float64)

        # deliver messages: one pre-summed row per (sending part, dst), so a
        # vid may get several rows — np.add.at sums duplicates
        if len(msg_rows):
            midx = blk.align(msg_rows["vid"].to_numpy(dtype=np.int64))
            np.add.at(pending, midx, msg_rows["a"].to_numpy(dtype=np.float64))

        # rank update (skipped on superstep 0: ranks are the 1/N init and the
        # first pass only seeds contributions — PageRank.java:41-75)
        if superstep == 0:
            if local_init:
                # SubgraphRank: local PR to ε inside the block, scaled by
                # |block|/|G| (SubgraphRank.java:54-61,117-143)
                new_ranks = _local_pagerank(blk, alpha, local_eps) * (
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

        n_msg = len(out_msgs_vid)
        return pd.DataFrame(
            {
                "part": np.concatenate(
                    [np.full(n_local, blk.part, dtype=np.int32), out_msgs_part,
                     np.array([blk.part], dtype=np.int32)]
                ),
                "kind": np.concatenate(
                    [np.zeros(n_local, dtype=np.int32), np.ones(n_msg, dtype=np.int32),
                     np.array([2], dtype=np.int32)]
                ),
                "vid": np.concatenate(
                    [blk.local_vids, out_msgs_vid, np.array([-1], dtype=np.int64)]
                ),
                "a": np.concatenate(
                    [new_ranks, out_msgs_val, np.array([delta], dtype=np.float64)]
                ),
                "b": np.concatenate(
                    [new_pending, np.zeros(n_msg), np.array([0.0])]
                ),
            }
        )

    if blocks_path is None:

        def kernel(keys, csr_pdf: pd.DataFrame, sm_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(csr_pdf) == 0:
                return pd.DataFrame(
                    {"part": [], "kind": [], "vid": [], "a": [], "b": []}
                ).astype(_PR_EMPTY)
            return body(CsrBlock(csr_pdf.iloc[0]), sm_pdf)

        return kernel

    def cached_kernel(key, sm_pdf: pd.DataFrame) -> pd.DataFrame:
        from goffish_v3_spark.plans.block_cache import load_block

        blk = load_block(blocks_path, int(key[0]))
        if blk is None:
            # every partition has state rows (init_rows seeds them all), so a
            # missing block means executors can't see blocks_path — raise
            # instead of silently dropping the partition's ranks
            raise RuntimeError(
                f"CSR block for part {int(key[0])} not found under "
                f"{blocks_path}; on a multi-executor cluster pass blocks_dir= "
                "on storage visible to every executor"
            )
        return body(blk, sm_pdf)

    return cached_kernel


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
    local_eps: float = 0.05,
    cache_blocks: bool = False,
    blocks_dir: str | None = None,
) -> DataFrame:
    """PageRank over CSR blocks; returns ``(vid long, rank double)`` equal to
    operators.pagerank within float tolerance (same update order).

    ``fixed_iterations`` runs exactly that many global rank updates (the
    SQL-oracle comparison mode). ``local_init`` enables the SubgraphRank
    warm start: PageRank over each partition's local edges to ``local_eps``
    convergence before the first global superstep (SubgraphRank.java:117-143)
    — the superstep-saving inner loop; the global phase still converges to
    the plain PageRank fixpoint.

    ``cache_blocks`` serves CSR blocks from the worker-local cache
    (plans.block_cache) so supersteps re-ship only state+messages, not the
    adjacency; ``blocks_dir`` must point at executor-visible storage on a
    multi-executor cluster (enforced by resolve_blocks_dir)."""
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    own_blocks = blocks is None
    if own_blocks:
        blocks = build_csr_blocks(spark, edges, num_parts)

    # N = all vertices (reference SS0 vertex-count broadcast → driver agg)
    n = int(
        blocks.select(F.sum("n_local").alias("n")).collect()[0]["n"]
    )
    base = (1.0 - alpha) / n

    # init state rows straight out of the blocks (vid, rank=1/N, pending=0)
    init_rank = 1.0 / n

    def init_rows(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                vids = np.frombuffer(r["local_vids"], dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "part": np.full(len(vids), r["part"], dtype=np.int32),
                        "kind": np.zeros(len(vids), dtype=np.int32),
                        "vid": vids,
                        "a": np.full(len(vids), init_rank),
                        "b": np.zeros(len(vids)),
                    }
                )

    state = blocks.mapInPandas(init_rows, schema=OUT_SCHEMA).localCheckpoint(eager=True)
    msgs = spark.createDataFrame([], "part int, kind int, vid long, a double, b double")

    blocks_path, owned = None, False
    if cache_blocks:
        from goffish_v3_spark.plans.block_cache import resolve_blocks_dir, write_blocks

        blocks_path, owned = resolve_blocks_dir(spark, blocks_dir, prefix="goffish_pr_")
        write_blocks(blocks, blocks_path)
        if own_blocks:
            blocks.unpersist()

    try:
        with no_aqe(spark):
            state, supersteps = _csr_loop(
                blocks, state, msgs, alpha, base, eps, max_iter,
                fixed_iterations=fixed_iterations,
                local_init=local_init, local_eps=local_eps, n_total=n,
                blocks_path=blocks_path,
            )

        result = state.select("vid", F.col("a").alias("rank"))
        result = result.localCheckpoint(eager=True)
    finally:
        if owned:
            import shutil

            shutil.rmtree(blocks_path, ignore_errors=True)
    result.pr_supersteps = supersteps  # introspection for tests/bench
    if own_blocks and not cache_blocks:
        blocks.unpersist()
    return result


def subgraph_rank(spark: SparkSession, edges: DataFrame, **kw) -> DataFrame:
    """SubgraphRank (sample-hama SubgraphRank.java:16-192): block PageRank
    with the local-convergence warm start; converges to the same scores as
    plain PageRank in fewer global supersteps."""
    return csr_pagerank(spark, edges, local_init=True, **kw)


def _csr_loop(
    blocks, state, msgs, alpha, base, eps, max_iter,
    fixed_iterations=None, local_init=False, local_eps=0.05, n_total=None,
    blocks_path=None,
):
    """Run the supersteps; return ``(state rows, supersteps run)``.

    A superstep is one Spark job with one exchange: the kernel's kind 0
    (state) and kind 1 (message) rows of the previous superstep are grouped
    by ``part`` and handed to the kernel. Messages need no JVM aggregation
    on the way: the sending kernel already sums them per ``(dst_part, dst)``
    and the receiving kernel sums what arrives from several partitions with
    ``np.add.at``. The kind 2 max-delta rides the checkpoint as an
    Observation, so the ε-gate adds no job either."""
    total = max_iter if fixed_iterations is None else fixed_iterations + 1
    i = 0
    for i in range(total):
        kernel = _make_kernel(
            i, alpha, base, local_init=local_init, local_eps=local_eps, n_total=n_total,
            blocks_path=blocks_path,
        )
        mixed = state.unionByName(msgs)
        if blocks_path is not None:
            # every part already has state rows (init_rows), no seeds needed
            out = mixed.groupby("part").applyInPandas(kernel, schema=OUT_SCHEMA)
        else:
            out = (
                blocks.groupby("part")
                .cogroup(mixed.groupby("part"))
                .applyInPandas(kernel, schema=OUT_SCHEMA)
            )
        # the ε-gate's max-delta rides the checkpoint materialization as an
        # Observation — ONE Spark job per superstep (the kcore/sssp pattern),
        # not a second collect() job over the kind=2 rows
        obs = Observation(f"csr_pr_step_{i}")
        out = out.observe(
            obs, F.max(F.when(F.col("kind") == 2, F.col("a"))).alias("delta")
        ).localCheckpoint(eager=True)
        state = out.filter(F.col("kind") == 0)
        msgs = out.filter(F.col("kind") == 1)
        if fixed_iterations is None:
            delta = obs.get["delta"]
            if delta is not None and delta <= eps:
                break

    return state, i + 1


