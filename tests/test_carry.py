"""The CSR kernels' shared carry protocol (plans.csr): output frames, the
aligned state read, the packed boundary channel, changed-only sends and the
quiescent passthrough. Pure numpy/pandas — no Spark session."""

import numpy as np
import pandas as pd
import pytest

from goffish_v3_spark.operators.kcore import OUT_SCHEMA as KCORE_SCHEMA
from goffish_v3_spark.operators.lpa import LPA_SCHEMA
from goffish_v3_spark.operators.sssp import SSSP_SCHEMA
from goffish_v3_spark.operators.subgraph_pagerank import OUT_SCHEMA as PR_SCHEMA
from goffish_v3_spark.plans.csr import (
    CsrBlock,
    MergedCsr,
    carry_frame,
    changed_sends,
    merge_boundary,
    pack_shadow,
    passthrough,
    shadow_rows,
    unpack_shadow,
)

I32, I64, F64 = np.dtype("int32"), np.dtype("int64"), np.dtype("float64")
OBJ = np.dtype("object")


def _block(part, local_vids, adj, owner):
    """A CsrBlock for ``part`` owning ``local_vids`` (sorted), with out-edges
    ``adj[v]`` and ``owner[v]`` the part of each dst."""
    local_vids = np.asarray(local_vids, dtype=np.int64)
    dst = [d for v in local_vids for d in adj.get(int(v), [])]
    indptr = np.concatenate(([0], np.cumsum([len(adj.get(int(v), [])) for v in local_vids])))
    dst = np.asarray(dst, dtype=np.int64)
    dst_part = np.asarray([owner[int(d)] for d in dst], dtype=np.int32)
    dst_local = np.asarray(
        [int(np.searchsorted(local_vids, d)) if owner[int(d)] == part else -1 for d in dst],
        dtype=np.int32,
    )
    return CsrBlock(
        {
            "part": part,
            "local_vids": local_vids.tobytes(),
            "indptr": indptr.astype(np.int64).tobytes(),
            "edge_dst_vid": dst.tobytes(),
            "edge_dst_part": dst_part.tobytes(),
            "edge_dst_local": dst_local.tobytes(),
            "edge_w": np.ones(len(dst)).tobytes(),
        }
    )


# a 4-cycle 10-11-20-21-10 split over two parts
OWNER = {10: 0, 11: 0, 20: 1, 21: 1}
ADJ = {10: [11, 21], 11: [10, 20], 20: [11, 21], 21: [10, 20]}
B0 = _block(0, [10, 11], ADJ, OWNER)
B1 = _block(1, [20, 21], ADJ, OWNER)


@pytest.mark.parametrize(
    "schema, want",
    [
        (PR_SCHEMA, {"a": F64, "b": F64}),
        (SSSP_SCHEMA, {"d": F64, "p": I64}),
        (KCORE_SCHEMA, {"a": I64, "payload": OBJ}),
        (LPA_SCHEMA, {"a": I64, "payload": OBJ}),
    ],
    ids=["pagerank", "sssp", "kcore", "lpa"],
)
def test_frame_dtypes_per_schema(schema, want):
    want = {"part": I32, "kind": I32, "vid": I64, **want}
    full = carry_frame(
        schema,
        (3, 0, np.array([5, 6], dtype=np.int64), {}),
        (np.array([1], dtype=np.int32), 1, np.array([7]), {}),
        (3, 2, -1, {}),
    )
    empty = carry_frame(schema)
    for frame in (full, empty):
        assert list(frame.columns) == list(want)
        assert dict(frame.dtypes) == want
    assert len(empty) == 0
    assert list(full["part"]) == [3, 3, 1, 3] and list(full["kind"]) == [0, 0, 1, 2]


def test_frame_sections_broadcast_and_fill():
    out = carry_frame(
        SSSP_SCHEMA,
        (0, 0, np.array([10, 11]), {"d": np.array([0.5, 1.5]), "p": 9}),
        (0, 2, -1, {"p": 4}),
    )
    assert list(out["vid"]) == [10, 11, -1]
    assert list(out["d"]) == [0.5, 1.5, 0.0]  # left out → 0
    assert list(out["p"]) == [9, 9, 4]  # scalar broadcast over the section
    kc = carry_frame(KCORE_SCHEMA, (0, 0, np.array([10]), {}), *shadow_rows(
        0, np.array([20], dtype=np.int64), np.array([2], dtype=np.int64)))
    assert kc["payload"].iloc[0] is None  # binary left out → null
    assert list(kc["kind"]) == [0, 3] and int(kc["a"].iloc[1]) == 1


def test_shadow_round_trip_and_empty_shadow():
    vid = np.array([3, 1 << 62, -5], dtype=np.int64)
    val = np.array([7, 8, 9], dtype=np.int64)
    v, e = unpack_shadow(pack_shadow(vid, val), 3)
    assert list(v) == list(vid) and list(e) == list(val)
    assert shadow_rows(0, np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)) == []


def _boundary(shadows, msgs):
    """A kernel input: packed kind-3 rows per ``shadows`` (vid→val dicts)
    and kind-1 message rows ``msgs`` (vid, val)."""
    sections = [
        s for sh in shadows for s in shadow_rows(
            0, np.array(sorted(sh), dtype=np.int64),
            np.array([sh[k] for k in sorted(sh)], dtype=np.int64))
    ]
    sections.append((0, 1, np.array([v for v, _ in msgs], dtype=np.int64),
                     {"a": np.array([x for _, x in msgs], dtype=np.int64)}))
    return carry_frame(KCORE_SCHEMA, *sections)


def test_fresh_message_overrides_packed_shadow():
    vid, val = merge_boundary(_boundary([{20: 5, 21: 6}], [(21, 2), (30, 1)]))
    assert list(vid) == [20, 21, 30]
    assert list(val) == [5, 2, 1]  # 21's message beats its shadow entry


def test_merge_boundary_empty_channels():
    for shadows, msgs, want in (
        ([], [], []),
        ([{20: 5}], [], [(20, 5)]),
        ([], [(20, 3)], [(20, 3)]),
    ):
        vid, val = merge_boundary(_boundary(shadows, msgs))
        assert list(zip(vid.tolist(), val.tolist())) == want
        assert vid.dtype == I64 and val.dtype == I64


@pytest.mark.parametrize("kinds", [(0, 3), (0, 3, 4), (0,)])
def test_passthrough_keeps_exactly_the_given_kinds(kinds):
    sm = carry_frame(
        LPA_SCHEMA,
        (1, 0, np.array([10, 11]), {"a": 7}),
        (1, 1, np.array([20]), {"a": 9}),
        *shadow_rows(1, np.array([20], dtype=np.int64), np.array([7], dtype=np.int64)),
        (1, 4, np.array([10, 11]), {"a": 6}),
        (1, 2, -1, {"a": 3}),
    )
    out = passthrough(LPA_SCHEMA, sm, kinds)
    body = out.iloc[:-1]
    pd.testing.assert_frame_equal(
        body.reset_index(drop=True),
        sm[sm["kind"].isin(kinds)].reset_index(drop=True),
    )
    marker = out.iloc[-1]
    assert (marker["part"], marker["kind"], marker["vid"], marker["a"]) == (1, 2, -1, 0)
    assert dict(out.dtypes) == dict(carry_frame(LPA_SCHEMA).dtypes)
    assert len(passthrough(LPA_SCHEMA, sm[sm["kind"] == 2], kinds)) == 0


def test_changed_sends_one_row_per_part_and_vertex():
    # vertex 0 (vid 10) has a local edge to 11 and a remote one to 21;
    # vertex 1 (vid 11) one remote edge to 20 — both remote dsts are part 1
    seg = np.repeat(np.arange(B0.n_local), B0.out_degrees)
    part, vidx = changed_sends(B0, seg, B0.edge_dst_local < 0)
    assert part.dtype == I32 and vidx.dtype == I64
    assert list(zip(part.tolist(), vidx.tolist())) == [(1, 0), (1, 1)]
    part, vidx = changed_sends(B0, seg, np.zeros(len(seg), dtype=bool))
    assert len(part) == len(vidx) == 0


def test_per_vertex_aligns_block_and_merged():
    sm = carry_frame(
        KCORE_SCHEMA,
        (0, 0, np.array([11, 10]), {"a": np.array([2, 1])}),
        (0, 1, np.array([21]), {"a": 5}),
    )
    (est,) = B0.per_vertex(sm, 0, a=np.int64)
    assert list(est) == [1, 2]
    m = MergedCsr([B0, B1])
    state = carry_frame(KCORE_SCHEMA, (0, 0, np.array([21, 10, 20, 11]), {"a": np.arange(4)}))
    (est,) = m.per_vertex(state, 0, a=np.int64)
    assert list(m.vids) == [10, 11, 20, 21] and list(m.owner) == [0, 0, 1, 1]
    assert list(est) == [1, 3, 2, 0]


@pytest.mark.parametrize("kind", [0, 1])
def test_unowned_vid_raises(kind):
    """A kind-0 or kind-1 row whose vid the block does not own raises —
    ``np.searchsorted`` alone would return a wrong slot silently."""
    stray = np.array([10, 15], dtype=np.int64)  # 15 is no vertex of part 0
    sm = carry_frame(KCORE_SCHEMA, (0, kind, stray, {"a": 1}))
    with pytest.raises(RuntimeError, match="not owned"):
        if kind == 0:
            B0.per_vertex(sm, 0, a=np.int64)
        else:
            B0.pos(sm["vid"].to_numpy())
    with pytest.raises(RuntimeError, match="not owned"):
        MergedCsr([B0, B1]).pos(np.array([99], dtype=np.int64))


def test_state_row_count_mismatch_raises():
    sm = carry_frame(KCORE_SCHEMA, (0, 0, np.array([10]), {"a": 1}))
    with pytest.raises(RuntimeError, match="1 kind-0 rows for 2 vertices"):
        B0.per_vertex(sm, 0, a=np.int64)


@pytest.mark.parametrize("kind", [0, 1])
def test_kernel_rejects_unowned_row(monkeypatch, kind):
    """Through a real kernel: PageRank's superstep-1 kernel on part 0 with a
    stray vid among its state rows, or in a message, raises instead of
    scattering into a wrong slot."""
    from goffish_v3_spark.operators import subgraph_pagerank

    monkeypatch.setattr(subgraph_pagerank, "load_block", lambda path, part: B0)
    kernel = subgraph_pagerank._make_kernel(1, 0.85, 0.0375, "unused", 4)
    good = carry_frame(PR_SCHEMA, (0, 0, np.array([10, 11]), {"a": 0.25, "b": 0.1}))
    assert len(kernel((0,), good)) > 0
    stray = carry_frame(PR_SCHEMA, (0, kind, np.array([21]), {"a": 0.25}))
    bad = pd.concat([good.iloc[1:] if kind == 0 else good, stray], ignore_index=True)
    with pytest.raises(RuntimeError, match="not owned"):
        kernel((0,), bad)
