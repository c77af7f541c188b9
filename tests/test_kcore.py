"""k-core vs closed forms and the peeling oracle."""

import numpy as np

from goffish_v3_spark.operators.kcore import core_numbers, k_core
from tests import graphs
from tests.oracles import kcore_oracle


def test_clique_core(spark):
    df = graphs.to_df(spark, graphs.clique(6))
    got = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    assert got == {v: 5 for v in range(6)}


def test_chain_core_is_one(spark):
    df = graphs.to_df(spark, graphs.chain(15))
    got = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    assert set(got.values()) == {1}


def test_k_core_subgraph(spark):
    # K5 + a pendant vertex: 4-core keeps the clique only
    edges = graphs.clique(5) + [(4, 99)]
    df = graphs.to_df(spark, edges)
    members = {r.vid for r in k_core(spark, df, k=4).collect()}
    assert members == {0, 1, 2, 3, 4}


def test_ba_vs_oracle(spark):
    edges = graphs.barabasi_albert(80, m=2)
    df = graphs.to_df(spark, edges)
    got = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    assert got == kcore_oracle(edges)


def test_core_numbers_block_cache_mode_matches(spark, tmp_path):
    """An explicit blocks_dir and the default local-mode tempdir return the
    same core numbers, equal to the peeling oracle."""
    edges = graphs.barabasi_albert(250, m=4, seed=13)
    df = graphs.to_df(spark, edges)
    a = {r.vid: r.core for r in core_numbers(spark, df, num_parts=4).collect()}
    b = {
        r.vid: r.core
        for r in core_numbers(
            spark, df, num_parts=4, blocks_dir=str(tmp_path / "kcore_blocks")
        ).collect()
    }
    assert a == b == kcore_oracle(edges)


def test_block_cache_reused_dir_not_stale(spark, tmp_path):
    """Re-running into the SAME blocks_dir with a DIFFERENT graph must not
    serve the first graph's cached blocks from long-lived Python workers
    (cache key includes the block file's freshness token)."""
    from goffish_v3_spark.operators.kcore import core_numbers
    from tests.oracles import kcore_oracle as core_numbers_oracle

    d = str(tmp_path / "shared_blocks")
    g1 = graphs.clique(6)
    g2 = graphs.disjoint_cliques(3, 4)
    df1, df2 = graphs.to_df(spark, g1), graphs.to_df(spark, g2)
    a = {r.vid: r.core for r in core_numbers(spark, df1, num_parts=4, blocks_dir=d).collect()}
    b = {r.vid: r.core for r in core_numbers(spark, df2, num_parts=4, blocks_dir=d).collect()}
    assert a == core_numbers_oracle(g1)
    assert b == core_numbers_oracle(g2)


def _induced_degrees(edges, k):
    """(vid, degree inside the k-core) from the peeling oracle."""
    core = kcore_oracle(edges)
    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    members = {v for v, c in core.items() if c >= k}
    return {(v, len(adj[v] & members)) for v in members}


def test_k_core_distributed_matches_oracle(spark, monkeypatch):
    """k_core run distributed to fixpoint (tail consolidation off through a
    zero byte budget) on a hub-ish graph: changed-only messages and the
    pinned-remote local fixpoint give the oracle's k-core and induced
    degrees."""
    from goffish_v3_spark.plans import block_cache

    monkeypatch.setattr(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0)
    edges = graphs.barabasi_albert(200, m=3, seed=5)
    df = graphs.to_df(spark, edges)
    got = {(r.vid, r.deg) for r in k_core(spark, df, k=3, num_parts=4).collect()}
    assert got == _induced_degrees(edges, 3)


def test_core_numbers_raises_without_convergence(spark, monkeypatch):
    """On the distributed path (budget forced to 0): the one task reaches
    the fixpoint in its one superstep, so only the loop can fail to."""
    import pytest

    from goffish_v3_spark.plans import block_cache

    monkeypatch.setattr(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0)
    df = graphs.to_df(spark, graphs.barabasi_albert(80, m=2))
    with pytest.raises(RuntimeError, match="max_iter=1"):
        core_numbers(spark, df, max_iter=1)


def test_block_cache_rejects_multi_file_part(spark, tmp_path):
    """>1 parquet file under one part= dir (duplicate part row / partial
    overwrite) must raise, not silently serve an arbitrary file (ADVICE r3)."""
    import glob
    import shutil

    import pytest

    from goffish_v3_spark.plans.block_cache import clear_cache, load_block, write_blocks
    from goffish_v3_spark.plans.csr import build_csr_blocks_sym

    d = str(tmp_path / "blocks")
    blocks = build_csr_blocks_sym(spark, graphs.to_df(spark, graphs.clique(5)), 2)
    write_blocks(blocks, d)
    blocks.unpersist()
    clear_cache()
    part_dirs = sorted(glob.glob(f"{d}/part=*"))
    assert part_dirs, "no part dirs written"
    files = glob.glob(f"{part_dirs[0]}/*.parquet")
    assert len(files) == 1
    part = int(part_dirs[0].rsplit("=", 1)[1])
    assert load_block(d, part) is not None
    shutil.copy(files[0], files[0].replace(".parquet", "_dup.parquet"))
    clear_cache()
    with pytest.raises(RuntimeError, match="corrupt"):
        load_block(d, part)

def test_quiescent_partition_passthrough_skips_block():
    """A partition with no incoming kind-1 messages at superstep ≥ 2 must be
    served by the verbatim passthrough — proven by the cached kernel NOT
    touching its CSR block (a nonexistent blocks_path would raise)."""
    import numpy as np
    import pandas as pd

    from goffish_v3_spark.operators.kcore import _make_kernel
    from goffish_v3_spark.plans.csr import pack_shadow, unpack_shadow

    kernel = _make_kernel(2, blocks_path="/nonexistent/blocks")
    packed = pack_shadow(
        np.array([20, 21], dtype=np.int64), np.array([1, 4], dtype=np.int64)
    )
    sm = pd.DataFrame(
        {
            "part": np.array([1, 1, 1], dtype=np.int32),
            "kind": np.array([0, 0, 3], dtype=np.int32),  # state + packed shadow
            "vid": np.array([10, 11, -1], dtype=np.int64),
            "a": np.array([2, 3, 2], dtype=np.int64),
            "payload": [None, None, packed],
        }
    )
    out = kernel((1,), sm)
    state = out[out["kind"] == 0].sort_values("vid")
    assert list(state["vid"]) == [10, 11] and list(state["a"]) == [2, 3]
    shadows = out[out["kind"] == 3]
    assert len(shadows) == 1
    svid, sval = unpack_shadow(
        shadows["payload"].iloc[0], int(shadows["a"].iloc[0])
    )
    assert list(svid) == [20, 21] and list(sval) == [1, 4]
    marker = out[out["kind"] == 2]
    assert len(marker) == 1 and int(marker["a"].iloc[0]) == 0
    assert not (out["kind"] == 1).any()  # quiescent partitions send nothing

    # a kind-1 message wakes the partition: the kernel now needs its block,
    # and with a bogus path that must raise (i.e. passthrough NOT taken)
    import pytest

    awake = pd.concat(
        [sm, pd.DataFrame({"part": np.array([1], dtype=np.int32),
                           "kind": np.array([1], dtype=np.int32),
                           "vid": np.array([20], dtype=np.int64),
                           "a": np.array([1], dtype=np.int64)})],
        ignore_index=True,
    )
    with pytest.raises(Exception):
        kernel((1,), awake)

    # superstep 1 must never take the passthrough even without messages
    # (a no-remote-edge partition still owes its first local pass)
    kernel1 = _make_kernel(1, blocks_path="/nonexistent/blocks")
    with pytest.raises(Exception):
        kernel1((1,), sm)


def test_tail_consolidation_matches_distributed(spark, monkeypatch):
    """The one-task path (merged-block global fixpoint) must reproduce the
    distributed rounds (budget forced to 0) exactly on both the full
    decomposition and the capped k-core."""
    from goffish_v3_spark.plans import block_cache

    edges = graphs.barabasi_albert(250, m=3, seed=5)
    df = graphs.to_df(spark, edges)
    oracle = kcore_oracle(edges)

    consolidated = {r.vid: r.core for r in core_numbers(spark, df).collect()}
    kc = {r.vid: r.deg for r in k_core(spark, df, k=3).collect()}
    with monkeypatch.context() as m:
        m.setattr(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0)
        budget_zero = {r.vid: r.core for r in core_numbers(spark, df).collect()}
        kd = {r.vid: r.deg for r in k_core(spark, df, k=3).collect()}
    assert consolidated == budget_zero == oracle
    assert kc == kd == dict(_induced_degrees(edges, 3))


def _csr(edges):
    sym = sorted(set(edges) | {(v, u) for u, v in edges})
    src = np.array([u for u, _ in sym], dtype=np.int64)
    dst = np.array([v for _, v in sym], dtype=np.int64)
    return src, dst


def _hindex(values) -> int:
    vals = sorted(values, reverse=True)
    return max([0] + [min(i + 1, x) for i, x in enumerate(vals)])


def test_frontier_fixpoint_matches_plain():
    """The frontier-filtered h-index fixpoint equals the peeling oracle on a
    fully-local CSR and, in a partition block's pinned-remote form, the
    plain Jacobi fixpoint."""
    from goffish_v3_spark.operators.kcore import _hindex_fixpoint_frontier
    from tests.oracles import kcore_oracle as _oracle

    edges = graphs.barabasi_albert(120, m=3, seed=9)
    src, dst = _csr(edges)
    vids = np.unique(src)
    n = len(vids)
    deg = np.bincount(np.searchsorted(vids, src), minlength=n)
    indptr = np.concatenate(([0], np.cumsum(deg)))
    dst_idx = np.searchsorted(vids, dst)

    est = _hindex_fixpoint_frontier(indptr, dst_idx, deg.astype(np.int64).copy())
    want = _oracle(edges)
    assert {int(vids[i]): int(est[i]) for i in range(n)} == want

    # a partition block's local fixpoint: remote neighbours are pinned
    # entries past n (never updated or woken); the frontier sweeps reach the
    # same fixpoint as a synchronous Jacobi loop from the same upper bounds
    rng = np.random.default_rng(3)
    edges = graphs.barabasi_albert(150, m=3, seed=11)
    src, dst = _csr(edges)
    vids = np.unique(src)
    local = vids[vids % 3 != 0]  # the block owns 2/3 of the vertices
    keep = np.isin(src, local)
    src, dst = src[keep], dst[keep]
    n = len(local)
    deg = np.bincount(np.searchsorted(local, src), minlength=n)
    indptr = np.concatenate(([0], np.cumsum(deg)))
    is_local = np.isin(dst, local)
    dst_idx = np.searchsorted(local, dst)
    n_remote = int((~is_local).sum())
    assert n_remote > 0
    dst_idx[~is_local] = n + np.arange(n_remote)
    pinned = rng.integers(0, 8, size=n_remote)
    start = np.minimum(deg, rng.integers(1, 12, size=n))

    got = _hindex_fixpoint_frontier(
        indptr, dst_idx, np.concatenate((start, pinned)).astype(np.int64)
    )
    assert list(got[n:]) == list(pinned)  # pinned entries never move

    est = np.concatenate((start, pinned)).tolist()
    while True:
        new = [
            min(est[v], _hindex(est[j] for j in dst_idx[indptr[v]:indptr[v + 1]]))
            for v in range(n)
        ]
        if new == est[:n]:
            break
        est[:n] = new
    assert list(got[:n]) == est[:n]
