"""Partition-local CSR adjacency blocks — the engine's subgraph substrate.

The reference materializes each partition's subgraphs as JVM object graphs
(hama Subgraph.java:32-156: HashMaps of Vertex objects holding edge
ArrayLists). Our equivalent is a *columnar block per partition*: the
out-adjacency of all vertices owned by a partition, packed as numpy arrays
(CSR: indptr + per-edge dst arrays) and carried through Spark as binary
columns inside Arrow record batches — one row per partition.

Why this shape at 100 TB:
- built in ONE ``applyInPandas`` pass after one shuffle by ``part``;
- persisted once and reused by every superstep of every algorithm — the
  analogue of the reference building its Partition objects once at load
  (GraphJobRunner.java:105-126);
- per-edge dst partition + local index are *precomputed Spark-side*
  (xxhash64 ownership, plans.partitioner), so kernels never re-hash and
  message routing is an array lookup (the reference needed a 3-superstep
  handshake + a broadcast routing table for the same information,
  LongTextAdjacencyListReader.java:130-233);
- kernels are pure vectorized numpy over the block — the "run a sequential
  algorithm over the whole subgraph" trick (SURVEY.md §4 P2/P3) without
  per-row Python.

Block schema (one row per partition)::

    part int, n_local long, n_edges long,
    local_vids binary,      -- int64[n_local], sorted
    indptr binary,          -- int64[n_local+1]
    edge_dst_vid binary,    -- int64[n_edges]
    edge_dst_part binary,   -- int32[n_edges]
    edge_dst_local binary,  -- int32[n_edges]  (index into local_vids, -1 remote)
    edge_w binary           -- float64[n_edges]
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.partitioner import vertex_part

CSR_SCHEMA = (
    "part int, n_local long, n_edges long, local_vids binary, indptr binary, "
    "edge_dst_vid binary, edge_dst_part binary, edge_dst_local binary, edge_w binary"
)


class CsrBlock:
    """Deserialized view of one partition's CSR block."""

    __slots__ = (
        "part",
        "local_vids",
        "indptr",
        "edge_dst_vid",
        "edge_dst_part",
        "edge_dst_local",
        "edge_w",
    )

    def __init__(self, row_or_pdf):
        r = row_or_pdf
        self.part = int(r["part"])
        self.local_vids = np.frombuffer(r["local_vids"], dtype=np.int64)
        self.indptr = np.frombuffer(r["indptr"], dtype=np.int64)
        self.edge_dst_vid = np.frombuffer(r["edge_dst_vid"], dtype=np.int64)
        self.edge_dst_part = np.frombuffer(r["edge_dst_part"], dtype=np.int32)
        self.edge_dst_local = np.frombuffer(r["edge_dst_local"], dtype=np.int32)
        self.edge_w = np.frombuffer(r["edge_w"], dtype=np.float64)

    @property
    def n_local(self) -> int:
        return len(self.local_vids)

    @property
    def out_degrees(self) -> np.ndarray:
        return np.diff(self.indptr)

    def align(self, vids: np.ndarray) -> np.ndarray:
        """Positions of ``vids`` within local_vids (which is sorted)."""
        return np.searchsorted(self.local_vids, vids)


class MergedCsr:
    """Every partition's block merged into one global CSR, for a fixpoint
    that finishes inside one task (tail consolidation).

    Block ``i``'s vertices occupy global positions ``offs[i]:offs[i+1]`` in
    block order; ``indptr``/``dst_idx`` index those positions, so a remote
    edge points at its dst's slot in the owner's range."""

    __slots__ = ("blocks", "offs", "n", "indptr", "dst_idx", "_sort_idx", "_sorted")

    def __init__(self, blocks: list[CsrBlock]):
        self.blocks = blocks
        self.offs = np.concatenate(
            ([0], np.cumsum([b.n_local for b in blocks]))
        ).astype(np.int64)
        self.n = int(self.offs[-1])
        all_vids = np.concatenate([b.local_vids for b in blocks])
        self._sort_idx = np.argsort(all_vids)
        self._sorted = all_vids[self._sort_idx]
        dst_parts = []
        for i, b in enumerate(blocks):
            loc = b.edge_dst_local
            g = np.empty(len(loc), dtype=np.int64)
            lm = loc >= 0
            g[lm] = loc[lm] + self.offs[i]
            if (~lm).any():
                g[~lm] = self.pos(b.edge_dst_vid[~lm])
            dst_parts.append(g)
        self.dst_idx = np.concatenate(dst_parts)
        self.indptr = np.concatenate(
            [[0]] + [np.diff(b.indptr) for b in blocks]
        ).cumsum()

    def pos(self, vids: np.ndarray) -> np.ndarray:
        """Global positions of ``vids``; raises on a vid no block owns."""
        p = np.searchsorted(self._sorted, vids)
        if not np.array_equal(self._sorted[np.minimum(p, self.n - 1)], vids):
            raise RuntimeError("consolidation: unknown vertex id")
        return self._sort_idx[p]

    def state_pos(self, vids: np.ndarray) -> np.ndarray:
        """Global positions of the state rows' ``vids``. Every vertex must
        carry one state row (kernels re-emit full state each superstep); a
        gap would leave the caller's np.empty slots as garbage, so a count
        mismatch raises."""
        if len(vids) != self.n:
            raise RuntimeError(
                f"consolidation: {len(vids)} state rows for {self.n} vertices"
            )
        return self.pos(vids)


def _assemble_block(
    part: int,
    local_vids: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    dst_part: np.ndarray,
    w: np.ndarray,
) -> pd.DataFrame:
    """One partition's CSR block row from its sorted ``local_vids`` and the
    out-edges of those vertices.

    Multi-edges are deduplicated here in numpy, keeping the min weight: all
    edges of a src land in its owner partition, so per-partition dedup is
    complete — this replaces a full edge-table groupBy(src,dst) exchange
    that used to run before the partition shuffle."""
    if len(src):
        # sort by (src, dst, w) then keep first of each (src, dst)
        order = np.lexsort((w, dst, src))
        src, dst, dst_part, w = src[order], dst[order], dst_part[order], w[order]
        keep = np.concatenate(
            ([True], (src[1:] != src[:-1]) | (dst[1:] != dst[:-1]))
        )
        src, dst, dst_part, w = src[keep], dst[keep], dst_part[keep], w[keep]

    # indptr over sorted local vids
    indptr = np.zeros(len(local_vids) + 1, dtype=np.int64)
    if len(src):
        counts = np.bincount(
            np.searchsorted(local_vids, src), minlength=len(local_vids)
        )
        indptr[1:] = np.cumsum(counts)

    # local index of each dst (or -1 if owned by another partition)
    dst_local = np.full(len(dst), -1, dtype=np.int32)
    if len(dst) and len(local_vids):
        pos = np.searchsorted(local_vids, dst)
        pos_clipped = np.minimum(pos, len(local_vids) - 1)
        is_local = (dst_part == part) & (local_vids[pos_clipped] == dst)
        dst_local[is_local] = pos_clipped[is_local].astype(np.int32)

    return pd.DataFrame(
        {
            "part": [part],
            "n_local": [len(local_vids)],
            "n_edges": [len(dst)],
            "local_vids": [local_vids.tobytes()],
            "indptr": [indptr.tobytes()],
            "edge_dst_vid": [dst.tobytes()],
            "edge_dst_part": [dst_part.tobytes()],
            "edge_dst_local": [dst_local.tobytes()],
            "edge_w": [w.tobytes()],
        }
    )


def _edge_arrays(pdf: pd.DataFrame):
    return (
        pdf["src"].to_numpy(dtype=np.int64),
        pdf["dst"].to_numpy(dtype=np.int64),
        pdf["dst_part"].to_numpy(dtype=np.int32),
        pdf["w"].to_numpy(dtype=np.float64),
    )


def _build_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """Assemble one partition's CSR from its tagged rows.

    Rows: kind 'v' → (vid) owned vertex; kind 'e' → (src, dst, w, dst_part).
    """
    vrows = pdf[pdf["kind"] == "v"]
    local_vids = np.sort(vrows["src"].to_numpy(dtype=np.int64))
    return _assemble_block(
        int(pdf["part"].iloc[0]), local_vids, *_edge_arrays(pdf[pdf["kind"] == "e"])
    )


def _build_block_sym(pdf: pd.DataFrame) -> pd.DataFrame:
    """Assemble one partition's CSR from symmetric edge rows (no 'v' rows:
    in a symmetrized graph every vertex appears as a src)."""
    src, dst, dst_part, w = _edge_arrays(pdf)
    return _assemble_block(
        int(pdf["part"].iloc[0]), np.unique(src), src, dst, dst_part, w
    )


def build_csr_blocks_sym(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int,
    persist: bool = True,
    part_expr=None,
) -> DataFrame:
    """Symmetrized-graph CSR in ONE shuffle: edges(src, dst, w) → both
    directions tagged with the owner partition → groupBy(part) builder kernel
    (self-loops dropped, multi-edges min-w-deduped numpy-side).

    The general :func:`build_csr_blocks` pays a groupBy(src,dst) dedup
    exchange plus a distinct vertex scan before the partition shuffle; for
    undirected algorithms (k-core, WCC-style) this builder collapses all of
    that into the single partition exchange. ``part_expr`` overrides vertex
    ownership as in :func:`build_csr_blocks` (locality-aware layouts)."""
    part_of = part_expr or (lambda c: vertex_part(c, num_parts))
    e = edges.select("src", "dst", F.col("w").cast("double").alias("w")).filter(
        F.col("src") != F.col("dst")
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    tagged = sym.select(
        "src",
        "dst",
        "w",
        part_of(F.col("src")).alias("part"),
        part_of(F.col("dst")).alias("dst_part"),
    )
    blocks = tagged.groupBy("part").applyInPandas(_build_block_sym, schema=CSR_SCHEMA)
    if persist:
        blocks = blocks.persist()
        blocks.count()
    return blocks


def build_csr_blocks(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int,
    persist: bool = True,
    part_expr=None,
) -> DataFrame:
    """edges(src, dst, w) → one CSR block row per partition (persisted).

    Vertices are owned by ``part(vid) = pmod(xxhash64(vid), P)``; a vertex
    with no out-edges still appears in its partition's block (rank sinks,
    matching the reference's sink-less Vertex objects).

    ``part_expr(vid_col) -> Column`` overrides the ownership function —
    e.g. range partitioning for locality-aware layouts (the analogue of the
    reference's METIS pre-partitioning, SURVEY §4 P1), which is what makes
    partition-local computation collapse supersteps on high-diameter graphs.
    """
    part_of = part_expr or (lambda c: vertex_part(c, num_parts))
    # multi-edge dedup (min weight, matching operators.pagerank's edge dedup
    # so the CSR and DataFrame paths agree on out-degrees) happens numpy-side
    # in the builder kernel: every (src,dst) copy lands in src's owner
    # partition, so per-partition dedup is complete and the edge table rides
    # a SINGLE exchange (the groupBy(part) below) instead of paying a
    # groupBy(src,dst) exchange first. Trade-off: duplicate edge rows travel
    # through the shuffle — on a mostly-duplicate input, dedup first.
    e = edges.select(
        "src",
        "dst",
        F.col("w").cast("double").alias("w"),
        part_of(F.col("src")).alias("part"),
        part_of(F.col("dst")).alias("dst_part"),
        F.lit("e").alias("kind"),
    )
    # v rows carry NO nulls: a null in an int64 column turns the whole
    # pandas-side column float64 inside applyInPandas, silently corrupting
    # full-range xxhash64 vids (> 2^53) — dst/dst_part mirror the vertex
    # itself and are ignored by the builder for kind='v'
    v = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
        .select(
            F.col("vid").alias("src"),
            F.col("vid").alias("dst"),
            F.lit(0.0).alias("w"),
            part_of(F.col("vid")).alias("part"),
            part_of(F.col("vid")).alias("dst_part"),
            F.lit("v").alias("kind"),
        )
    )
    tagged = e.unionByName(v)
    blocks = tagged.groupBy("part").applyInPandas(_build_block, schema=CSR_SCHEMA)
    if persist:
        blocks = blocks.persist()
        blocks.count()
    return blocks
