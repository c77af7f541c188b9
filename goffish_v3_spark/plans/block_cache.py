"""Worker-local CSR block store — the one way a CSR kernel gets its block.

The reference holds each partition's object graph in JVM heap for the whole
job (hama GraphJobRunner.java:105-126 loads once, computes many supersteps).
This module gives the CSR operators (``lpa_csr``, and ``csr_pagerank``/
``subgraph_rank``, ``sssp_csr``, ``core_numbers`` and ``k_core`` above the
one-task budget) that load-once shape:

- :func:`block_store` writes the blocks ONCE to a parquet directory
  partitioned by ``part``, reading their sizes in the same job, and owns
  the directory's lifecycle (a tempdir it created is removed when the
  operator returns or raises; a caller-supplied ``blocks_dir`` is kept);
- superstep kernels run as plain ``state.groupby(part).applyInPandas`` over
  state + messages only — the adjacency never re-enters the shuffle or the
  Arrow channel — and fetch their block via :func:`load_block`, which reads
  the 1-row parquet file on first use and caches the deserialized
  :class:`CsrBlock` in the (reused) Python worker process;
- the cache is LRU-capped so a worker that serves many partitions holds at
  most ``MAX_BLOCKS`` blocks (~per-partition CSR size each);
- :func:`csr_fixpoint` is the one driver of the fixpoint CSR engines
  (``csr_pagerank``/``subgraph_rank``, ``sssp_csr``, ``core_numbers``/
  ``k_core``). It sizes the owner-tagged edge rows in one job. When the
  graph fits one task (:func:`fits_one_task`, the byte rule against
  ``CONSOLIDATE_BUDGET_BYTES``), the engine's solve runs over every block
  merged in ONE task and one job, with no store; otherwise the blocks are
  built from the same rows, the store is written and the engine's
  distributed supersteps run. The components meta phase
  (``operators.spanning_forest.meta_forest``) applies the same rule to its
  meta table; ``lpa_csr``, whose labels depend on superstep synchrony,
  always runs distributed.

Cluster shape: each executor's python workers cache only the partitions
scheduled onto them; with stable partitioning the scheduler tends to
re-offer the same partitions, so steady-state supersteps read no block data
at all. A task landing on a cold worker pays one local parquet read of its
own block — O(|E|/P), not O(|E|). With a non-local master the store must sit
on storage every executor sees, so ``blocks_dir`` is required there.
"""

from __future__ import annotations

import shutil
from collections import OrderedDict
from contextlib import contextmanager
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from goffish_v3_spark.plans.csr import (
    CsrBlock, MergedCsr, assemble_blocks, blocks_from_owned, carry_frame, schema_dtypes,
)
from goffish_v3_spark.plans.superstep import (
    RunInfo, StepFn, StepResult, SuperstepLoop, no_aqe, observed_checkpoint,
)

MAX_BLOCKS = 64
# a fixpoint runs inside one task that merges every block when the merged
# in-memory CSR fits this many bytes (fits_one_task)
CONSOLIDATE_BUDGET_BYTES = 512 << 20

_CACHE: "OrderedDict[tuple[str, int, tuple], CsrBlock]" = OrderedDict()

_FIELDS = (
    "n_local",
    "n_edges",
    "local_vids",
    "indptr",
    "edge_dst_vid",
    "edge_dst_part",
    "edge_dst_local",
    "edge_w",
)


def _resolve_blocks_dir(spark, blocks_dir: str | None, prefix: str):
    """Pick the block-store path; returns ``(path, owned)`` where ``owned``
    means a tempdir was created here and must be removed afterwards.

    On a multi-executor cluster a driver-local tempdir is INVISIBLE to
    executors — ``load_block`` would find nothing and every kernel would
    fail — so with a non-local master an explicit ``blocks_dir`` on shared
    storage (DFS / object store / shared FS) is required and this raises
    loudly instead of mkdtemp-ing. A caller-supplied dir is never deleted:
    it doubles as the block checkpoint for resume."""
    if blocks_dir is not None:
        return blocks_dir, False
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        raise ValueError(
            f"a CSR operator on a multi-executor cluster (master={master!r}) "
            "requires blocks_dir= on storage visible to every executor "
            "(DFS/object store); a driver-local tempdir would make every "
            "block load fail"
        )
    import tempfile

    return tempfile.mkdtemp(prefix=prefix), True


def fits_one_task(n_edges: int, n_vertices: int) -> bool:
    """Whether a graph of ``n_edges`` and ``n_vertices`` fits one task: a
    merged CSR (plans.csr.MergedCsr) plus a kernel's per-edge and
    per-vertex arrays, ~40 B/edge and ~24 B/vertex, against
    ``CONSOLIDATE_BUDGET_BYTES``, read at call time."""
    return 40 * n_edges + 24 * n_vertices <= CONSOLIDATE_BUDGET_BYTES


@dataclass(frozen=True)
class BlockStore:
    """A written block store: its path, its parts (the drivers seed one row
    per part) and the vertex count (PageRank's base rank), read while
    writing."""

    path: str
    parts: list[int]
    n_vertices: int

    def seed(self, spark, schema: str) -> DataFrame:
        """Superstep 0's input in a kernel's ``schema`` (``part, kind, vid,
        ...``): one ``kind=-1`` row per part, later columns null."""
        width = len(schema_dtypes(schema))
        return spark.createDataFrame(
            [(p, -1, -1) + (None,) * (width - 3) for p in self.parts], schema
        )


@contextmanager
def block_store(spark, blocks: DataFrame, blocks_dir: str | None, prefix: str):
    """Write ``blocks`` to the block store for the duration of a CSR
    operator; yields a :class:`BlockStore`. Kernels read the store, so the
    write is the blocks' one use and they need not be persisted.

    ``blocks_dir=None`` uses a fresh local-mode tempdir named ``prefix*``,
    removed on exit whether the operator returns or raises; an explicit
    ``blocks_dir`` is kept."""
    path, owned = _resolve_blocks_dir(spark, blocks_dir, prefix)
    try:
        # the block sizes ride the write job as an Observation
        obs = Observation()
        write_blocks(
            blocks.observe(
                obs,
                F.collect_list("part").alias("parts"),
                F.sum("n_local").alias("n_vertices"),
            ),
            path,
        )
        stats = obs.get
        yield BlockStore(
            path=path,
            parts=sorted(int(p) for p in stats["parts"]),
            n_vertices=int(stats["n_vertices"] or 0),
        )
    finally:
        if owned:
            shutil.rmtree(path, ignore_errors=True)


def write_blocks(blocks: DataFrame, path: str) -> None:
    """Persist CSR blocks partitioned by ``part`` (one 1-row file each).

    ``path`` must be visible to every executor — local disk in local mode,
    DFS/object storage on a cluster (where it doubles as the block
    checkpoint for resume)."""
    blocks.write.mode("overwrite").partitionBy("part").parquet(path)


def _block_files(path: str, part: int):
    """List the parquet file(s) for one partition plus a freshness token
    folding EVERY file's (name, size, mtime) — not just the first, so a
    partial overwrite that adds/replaces one file of several can never be
    served from a stale cache entry (ADVICE r3). Supports plain paths and
    URI schemes (hdfs://, s3://, …) via pyarrow.fs so executors on a real
    cluster can read a DFS block store."""
    if "://" in path:
        from pyarrow import fs as pafs

        filesystem, base = pafs.FileSystem.from_uri(path)
        sel = pafs.FileSelector(f"{base}/part={int(part)}", allow_not_found=True)
        infos = sorted(
            (i for i in filesystem.get_file_info(sel) if i.path.endswith(".parquet")),
            key=lambda i: i.path,
        )
        files = [i.path for i in infos]
        token = tuple((i.path, i.size, i.mtime_ns) for i in infos) or None
        return filesystem, files, token

    import glob
    import os

    files = sorted(glob.glob(os.path.join(path, f"part={int(part)}", "*.parquet")))
    token = None
    if files:
        token = tuple((f, os.stat(f).st_size, os.stat(f).st_mtime_ns) for f in files)
    return None, files, token


def load_block(path: str, part: int) -> CsrBlock:
    """Fetch the block for ``part`` — worker-process-local LRU cache over
    the parquet store. A missing block raises: every state, seed or message
    row for a partition implies its block was written, so absence means the
    executors cannot see ``path`` — a silent empty result would end the
    loop with a wrong (partial) answer.

    The cache key includes the block file's (name, size, mtime) freshness
    token, so re-running write_blocks into the SAME directory for a
    different graph (long-lived Python workers, reused blocks_dir) can
    never serve the previous graph's blocks — a stat per superstep call,
    not a re-read."""
    import pyarrow.parquet as pq

    filesystem, files, token = _block_files(path, part)
    if not files:
        raise RuntimeError(
            f"CSR block for part {int(part)} not found under {path}; on a "
            "multi-executor cluster pass blocks_dir= on storage visible to "
            "every executor"
        )
    if len(files) > 1:
        # write_blocks emits exactly one 1-row file per part= dir; more than
        # one means a duplicate part row or a partial overwrite (object
        # storage) — reading files[0] would silently serve an arbitrary
        # glob-ordered half of the store (ADVICE r3)
        raise RuntimeError(
            f"CSR block store corrupt: {len(files)} parquet files under "
            f"{path}/part={int(part)} (expected exactly 1); rewrite the "
            "block store with write_blocks"
        )
    key = (path, int(part), token)
    blk = _CACHE.get(key)
    if blk is not None:
        _CACHE.move_to_end(key)
        return blk

    tbl = pq.read_table(files[0], filesystem=filesystem)
    row = {name: tbl.column(name)[0].as_py() for name in _FIELDS}
    row["part"] = int(part)
    blk = CsrBlock(row)
    _CACHE[key] = blk
    while len(_CACHE) > MAX_BLOCKS:
        _CACHE.popitem(last=False)
    return blk


def clear_cache() -> None:
    _CACHE.clear()


def csr_fixpoint(
    loop: SuperstepLoop,
    schema: str,
    rows: DataFrame,
    solve,
    make_step,
    blocks: DataFrame | None = None,
    sym: bool = False,
    blocks_dir: str | None = None,
    prefix: str = "goffish_",
    finalize=None,
) -> RunInfo:
    """Run a fixpoint CSR engine on the path its graph's size picks; returns
    ``loop``'s :class:`RunInfo`. Callers read the kind-0 rows of its state.

    The input is owner-tagged edge ``rows`` (``plans.csr.owned_edges``, of
    ``plans.csr.symmetrized`` edges when ``sym``) or, when given, a
    caller's ``blocks``. One aggregate job sizes it: rows and distinct vids
    over src ∪ dst (raw rows are never fewer than the blocks' deduplicated
    edges), or the blocks' ``n_edges``/``n_local`` sums. The rows are not
    persisted for the next job: on an already cached edge table the cache
    build cost more than re-reading it.

    - When it fits one task (:func:`fits_one_task`), one ``repartition(1)
      .mapInPandas`` job assembles every part's block, merges them
      (:class:`plans.csr.MergedCsr`) and calls ``solve(m) -> (supersteps,
      sections)``, the ``plans.csr.carry_frame`` sections of its result. A
      kind-2 row carries the superstep count, in the schema's first value
      column, to the checkpoint's Observation. No block store is written.
    - Otherwise the blocks built from the same rows go to the
      :func:`block_store` and ``loop`` runs ``make_step(store)`` from its
      seed rows; ``finalize(state, store)``, when given, turns the final
      carry into the result while the store exists."""
    spark = loop.spark
    given = blocks is not None
    with no_aqe(spark):  # one job: AQE would run each shuffle stage as its own
        if given:
            n_edges, n_vertices = blocks.agg(F.sum("n_edges"), F.sum("n_local")).first()
        else:
            n_ends, n_vertices = (
                rows.select(F.explode(F.array("src", "dst")).alias("vid"))
                .agg(F.count("*"), F.count_distinct("vid"))
                .first()
            )
            n_edges = n_ends // 2
    if fits_one_task(n_edges or 0, n_vertices or 0):
        return loop.run(blocks if given else rows, _one_task_step(schema, solve, given))
    if not given:
        blocks = blocks_from_owned(rows, sym=sym)
    with block_store(spark, blocks, blocks_dir, prefix) as store:
        info = loop.run(store.seed(spark, schema), make_step(store))
        if finalize is not None:
            info.state = finalize(info.state, store)
        return info


def _one_task_step(schema: str, solve, given: bool) -> StepFn:
    """:func:`csr_fixpoint`'s one step below the budget. The empty graph
    yields no rows and counts one superstep."""
    metric = list(schema_dtypes(schema))[3]

    def fn(it):
        pdf = pd.concat(list(it) or [pd.DataFrame()], ignore_index=True)
        if len(pdf) == 0:
            yield carry_frame(schema, (0, 2, -1, {metric: 1}))
            return
        if given:
            blocks = [CsrBlock(r) for r in pdf.sort_values("part").to_dict("records")]
        else:
            blocks = assemble_blocks(pdf)
        steps, sections = solve(MergedCsr(blocks))
        yield carry_frame(schema, *sections, (blocks[0].part, 2, -1, {metric: steps}))

    def step(source: DataFrame, i: int) -> StepResult:
        out, steps = observed_checkpoint(
            source.repartition(1).mapInPandas(fn, schema=schema),
            F.max(F.when(F.col("kind") == 2, F.col(metric))),
        )
        return StepResult(out, True, supersteps=int(steps))

    return step
