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


class _VertexIndex:
    """Vid lookups shared by :class:`CsrBlock` and :class:`MergedCsr`; a
    subclass provides ``n`` and ``_vid_sort() -> (sorted vids, permutation
    to positions or None for the identity)``."""

    __slots__ = ()

    def pos(self, vids: np.ndarray) -> np.ndarray:
        """Positions of ``vids``; raises on a vid this CSR does not own —
        ``np.searchsorted`` alone would return a wrong slot silently."""
        sorted_vids, perm = self._vid_sort()
        p = np.searchsorted(sorted_vids, vids)
        if len(vids) and (
            len(sorted_vids) == 0
            or not np.array_equal(sorted_vids[np.minimum(p, len(sorted_vids) - 1)], vids)
        ):
            raise RuntimeError(f"{type(self).__name__}: vertex id not owned")
        return p if perm is None else perm[p]

    def per_vertex(self, pdf: pd.DataFrame, kind: int, **cols) -> list[np.ndarray]:
        """The columns ``cols`` (``name=dtype``) of ``pdf``'s kind-``kind``
        rows as arrays in this CSR's vertex order. Kernels re-emit full
        state every superstep, so the rows must hold exactly one per vertex:
        a count mismatch or a vid this CSR does not own raises instead of
        leaving ``np.empty`` slots as garbage."""
        rows = pdf[pdf["kind"] == kind]
        if len(rows) != self.n:
            raise RuntimeError(
                f"{type(self).__name__}: {len(rows)} kind-{kind} rows for {self.n} vertices"
            )
        idx = self.pos(rows["vid"].to_numpy(dtype=np.int64))
        out = []
        for name, dtype in cols.items():
            a = np.empty(self.n, dtype=dtype)
            a[idx] = rows[name].to_numpy(dtype=dtype)
            out.append(a)
        return out


class CsrBlock(_VertexIndex):
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

    n = n_local

    @property
    def out_degrees(self) -> np.ndarray:
        return np.diff(self.indptr)

    def _vid_sort(self):
        return self.local_vids, None


class MergedCsr(_VertexIndex):
    """Every partition's block merged into one global CSR, for a fixpoint
    that runs inside one task (``plans.block_cache.csr_fixpoint``).

    Each block's vertices occupy one contiguous range of global positions,
    in block order (``vids``, owned by partition ``owner``); ``indptr``/
    ``dst_idx`` index those positions, so a remote edge points at its dst's
    slot in the owner's range, and ``w`` holds the edge weights in the same
    order."""

    __slots__ = ("blocks", "n", "vids", "owner", "indptr", "dst_idx", "_sort_idx", "_sorted")

    def __init__(self, blocks: list[CsrBlock]):
        self.blocks = blocks
        sizes = [b.n_local for b in blocks]
        offs = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
        self.n = int(offs[-1])
        self.vids = np.concatenate([b.local_vids for b in blocks])
        self.owner = np.repeat(np.array([b.part for b in blocks], dtype=np.int32), sizes)
        self._sort_idx = np.argsort(self.vids)
        self._sorted = self.vids[self._sort_idx]
        dst_parts = []
        for i, b in enumerate(blocks):
            loc = b.edge_dst_local
            g = np.empty(len(loc), dtype=np.int64)
            lm = loc >= 0
            g[lm] = loc[lm] + offs[i]
            if (~lm).any():
                g[~lm] = self.pos(b.edge_dst_vid[~lm])
            dst_parts.append(g)
        self.dst_idx = np.concatenate(dst_parts)
        self.indptr = np.concatenate(
            [[0]] + [np.diff(b.indptr) for b in blocks]
        ).cumsum()

    @property
    def w(self) -> np.ndarray:
        return np.concatenate([b.edge_w for b in self.blocks])

    def _vid_sort(self):
        return self._sorted, self._sort_idx


# ---------------------------------------------------------------------------
# The carry protocol shared by the CSR kernels
# ---------------------------------------------------------------------------
#
# A superstep's carry is one frame, ``part int, kind int, vid long, <value
# columns>``, grouped by ``part`` into the next superstep's kernel and
# demuxed there by ``kind`` (the reference's MessageType demux,
# GraphJobRunner.java:440-493):
#
#   0  state, one row per owned vertex, routed to its own part;
#   1  message, routed to the target vertex's part;
#   2  per-part metric (changed count, max delta, ...), one row per part;
#   3  packed shadow: the last-received boundary values, one binary row per
#      part routed to itself (see :func:`pack_shadow`).
#
# Superstep 0 gets one kind -1 seed row per part (``BlockStore.seed``); an
# engine may add kinds of its own (LPA's 4, the prev-prev labels).

_NP_TYPES = {"int": np.int32, "long": np.int64, "double": np.float64, "binary": object}


def schema_dtypes(schema: str) -> dict[str, object]:
    """``{column: numpy dtype}`` of a kernel's DDL ``schema``."""
    return {
        name: _NP_TYPES[typ]
        for name, typ in (col.split() for col in schema.split(","))
    }


def carry_frame(schema: str, *sections) -> pd.DataFrame:
    """A kernel's output frame in ``schema`` from row sections ``(part,
    kind, vid, cols)``: ``vid`` is an array (or a scalar for a one-row
    section), ``part``/``kind`` and each ``cols`` value an array of the
    section's length or a scalar broadcast over it. A column a section
    leaves out is 0 (binary: null). No sections → the empty frame."""
    dtypes = schema_dtypes(schema)
    columns = {name: [np.empty(0, dtype=dtype)] for name, dtype in dtypes.items()}
    for part, kind, vid, cols in sections:
        values = {**cols, "part": part, "kind": kind, "vid": vid}
        for name, dtype in dtypes.items():
            value = values.get(name, None if dtype is object else 0)
            columns[name].append(
                np.broadcast_to(np.asarray(value, dtype=dtype), (np.size(vid),))
            )
    return pd.DataFrame({name: np.concatenate(c) for name, c in columns.items()})


def pack_shadow(vid: np.ndarray, val: np.ndarray) -> bytes:
    """Shadow channel wire format: int64[vid] ++ int64[val], one binary cell.

    A partition's shadow (last-received remote values) covers its whole
    boundary — on a dense graph that is nearly every vertex, and re-emitting
    it as one (vid, value) ROW per entry every superstep made the shadow
    ~97% of k-core's carry (measured 608k of 620k rows/superstep on the
    1.2M-edge copart graph — chain walls 4-7 s). Packing it into one binary
    row per partition keeps the same information at ~30x fewer rows through
    Arrow, the chain checkpoint and the changed-count scan."""
    return vid.tobytes() + val.tobytes()


def unpack_shadow(payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    return (
        np.frombuffer(payload, dtype=np.int64, count=n),
        np.frombuffer(payload, dtype=np.int64, count=n, offset=8 * n),
    )


def shadow_rows(part: int, vid: np.ndarray, val: np.ndarray) -> list[tuple]:
    """The packed kind-3 section of a carry frame (``vid=-1``, ``a`` = entry
    count, ``payload`` = :func:`pack_shadow`); none for an empty shadow."""
    if not len(vid):
        return []
    return [(part, 3, -1, {"a": len(vid), "payload": pack_shadow(vid, val)})]


def merge_boundary(sm_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Sorted ``(vid, value)`` lookup from the boundary channel: the kind-3
    packed shadows (last-received values) overridden by kind-1 fresh
    message rows (``a`` = value). A vid appears at most once per source (one
    owner per vid); the stable sort keeps the fresh message LAST so it wins
    the dedup. What a vid missing from the lookup means is the engine's
    rule."""
    sh = sm_pdf[sm_pdf["kind"] == 3]
    msg = sm_pdf[sm_pdf["kind"] == 1]
    packed = [unpack_shadow(p, int(n)) for p, n in zip(sh["payload"], sh["a"])]
    svid = np.concatenate([v for v, _ in packed] + [msg["vid"].to_numpy(dtype=np.int64)])
    sval = np.concatenate([e for _, e in packed] + [msg["a"].to_numpy(dtype=np.int64)])
    order = np.argsort(svid, kind="stable")
    svid, sval = svid[order], sval[order]
    if len(svid):
        keep = np.concatenate((svid[1:] != svid[:-1], [True]))
        svid, sval = svid[keep], sval[keep]
    return svid, sval


def changed_sends(
    blk: CsrBlock, seg: np.ndarray, send_edge: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``(dst part, local vertex index)`` of each distinct (neighbour
    partition, vertex) pair over the edges ``send_edge`` — one message per
    pair, deduplicated before the shuffle. ``seg`` is each edge's source
    index."""
    if not send_edge.any():
        return np.empty(0, dtype=np.int32), np.empty(0, dtype=np.int64)
    uniq = np.unique(
        np.stack([blk.edge_dst_part[send_edge].astype(np.int64), seg[send_edge]], axis=1),
        axis=0,
    )
    return uniq[:, 0].astype(np.int32), uniq[:, 1]


def passthrough(schema: str, sm_pdf: pd.DataFrame, kinds: tuple) -> pd.DataFrame:
    """A quiescent partition's output (wake-on-message at partition
    granularity, the reference's voteToHalt shape): its rows of ``kinds``
    re-emitted verbatim plus a changed=0 kind-2 marker — no block load, no
    numpy pass, no sends. When a partition may take it is the engine's
    rule."""
    keep = sm_pdf[sm_pdf["kind"].isin(kinds)]
    if len(keep) == 0:  # defensive: a group always carries kind-0 state
        return carry_frame(schema)
    marker = carry_frame(schema, (keep["part"].iloc[0], 2, -1, {}))
    return pd.concat([keep[list(marker.columns)], marker], ignore_index=True)


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


def assemble_blocks(pdf: pd.DataFrame) -> list[CsrBlock]:
    """Every partition's :class:`CsrBlock`, in part order, from
    :func:`owned_edges` rows — :func:`blocks_from_owned` inside one task,
    block for block array-equal to it: a part owns every vid tagged with it
    as a src or a dst (sinks included) and the out-edges of those vids. On
    :func:`symmetrized` rows every dst is also a src of its owner, so the
    vertex sets equal the ``sym`` builder's."""
    src, dst, dst_part, w = _edge_arrays(pdf)
    part = pdf["part"].to_numpy(dtype=np.int32)
    vids = np.concatenate((src, dst))
    owner = np.concatenate((part, dst_part))
    order = np.lexsort((vids, owner))
    vids, owner = vids[order], owner[order]
    if len(vids):
        keep = np.concatenate(
            ([True], (vids[1:] != vids[:-1]) | (owner[1:] != owner[:-1]))
        )
        vids, owner = vids[keep], owner[keep]
    by_part = np.argsort(part, kind="stable")
    e_part = part[by_part]
    blocks = []
    for p in np.unique(owner):
        v_lo, v_hi = np.searchsorted(owner, [p, p + 1])
        e_lo, e_hi = np.searchsorted(e_part, [p, p + 1])
        e = by_part[e_lo:e_hi]
        row = _assemble_block(int(p), vids[v_lo:v_hi], src[e], dst[e], dst_part[e], w[e])
        blocks.append(CsrBlock(row.iloc[0]))
    return blocks


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


def symmetrized(edges: DataFrame) -> DataFrame:
    """``edges(src, dst, w)`` in both directions with self-loops dropped:
    the undirected graph the symmetric engines (k-core, ``lpa_csr``) run
    on; every vertex is a src of it."""
    e = edges.select("src", "dst", "w").filter(F.col("src") != F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))


def owned_edges(edges: DataFrame, part_of) -> DataFrame:
    """``edges(src, dst, w)`` tagged with the owner partition of each end,
    ``part_of(vid_col) -> Column``: ``(src, dst, w double, part, dst_part)``,
    the rows :func:`blocks_from_owned` and :func:`assemble_blocks` build
    blocks from — ownership is computed Spark-side, never re-hashed in
    numpy."""
    return edges.select(
        "src",
        "dst",
        F.col("w").cast("double").alias("w"),
        part_of(F.col("src")).alias("part"),
        part_of(F.col("dst")).alias("dst_part"),
    )


def blocks_from_owned(tagged: DataFrame, sym: bool = False) -> DataFrame:
    """:func:`owned_edges` rows → one CSR block row per partition, in ONE
    shuffle (groupBy(part) into the builder kernel, whose numpy-side min-w
    multi-edge dedup is complete because every (src,dst) copy lands in
    src's owner partition — the CSR and DataFrame engines agree on
    out-degrees). With ``sym`` (:func:`symmetrized` rows) every vertex is a
    src; otherwise one ``v`` row per distinct ``(vid, part)`` end puts
    sinks in their block (the reference's sink-less Vertex objects).
    Not persisted: a block store's write is the blocks' one use."""
    if sym:
        return tagged.groupBy("part").applyInPandas(_build_block_sym, schema=CSR_SCHEMA)
    # v rows carry NO nulls: a null in an int64 column turns the whole
    # pandas-side column float64 inside applyInPandas, silently
    # corrupting full-range xxhash64 vids (> 2^53) — dst/dst_part mirror
    # the vertex itself and are ignored by the builder for kind='v'
    ends = tagged.select(F.col("src").alias("vid"), "part").unionByName(
        tagged.select(F.col("dst").alias("vid"), F.col("dst_part").alias("part"))
    )
    v = ends.distinct().select(
        F.col("vid").alias("src"),
        F.col("vid").alias("dst"),
        F.lit(0.0).alias("w"),
        "part",
        F.col("part").alias("dst_part"),
        F.lit("v").alias("kind"),
    )
    return (
        tagged.withColumn("kind", F.lit("e"))
        .unionByName(v)
        .groupBy("part")
        .applyInPandas(_build_block, schema=CSR_SCHEMA)
    )


def build_csr_blocks_sym(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int,
    part_expr=None,
) -> DataFrame:
    """:func:`build_csr_blocks` of the :func:`symmetrized` graph, with no
    sink-vertex scan (a symmetric graph has no sinks), and not persisted."""
    part_of = part_expr or (lambda c: vertex_part(c, num_parts))
    return blocks_from_owned(owned_edges(symmetrized(edges), part_of), sym=True)


def build_csr_blocks(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int,
    part_expr=None,
) -> DataFrame:
    """edges(src, dst, w) → one CSR block row per partition (persisted),
    through :func:`owned_edges` and :func:`blocks_from_owned`.

    Vertices are owned by ``part(vid) = pmod(xxhash64(vid), P)``.
    ``part_expr(vid_col) -> Column`` overrides the ownership function —
    e.g. range partitioning for locality-aware layouts (the analogue of the
    reference's METIS pre-partitioning, SURVEY §4 P1), which is what makes
    partition-local computation collapse supersteps on high-diameter graphs.
    """
    part_of = part_expr or (lambda c: vertex_part(c, num_parts))
    blocks = blocks_from_owned(owned_edges(edges, part_of)).persist()
    blocks.count()
    return blocks
