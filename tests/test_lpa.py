"""LPA: exact label match vs the synchronous deterministic oracle, plus the
subgraph-centric CSR kernel (local mode fixpoint per block, P3)."""

from pyspark.sql import functions as F

from goffish_v3_spark.operators.lpa import lpa, lpa_csr
from tests import graphs
from tests.oracles import lpa_oracle


def anchored_chain(n: int) -> list[tuple[int, int]]:
    """clique(3) on {0,1,2} + path 2-3-…-n: the clique anchors label 0, so
    synchronous LPA propagates a 0-wave one hop per round (~n rounds) with no
    bipartite oscillation — the high-diameter LPA fixture."""
    return graphs.clique(3) + [(i, i + 1) for i in range(2, n)]


def _check(spark, edges, **kw):
    df = graphs.to_df(spark, edges)
    got = {r.vid: r.label for r in lpa(spark, df, **kw).collect()}
    want = lpa_oracle(edges, **kw)
    assert got == want


def test_two_islands_communities(spark):
    edges = graphs.two_islands_bridge()
    _check(spark, edges)
    # LPA should find (at least) the two island communities
    df = graphs.to_df(spark, edges)
    labels = {r.vid: r.label for r in lpa(spark, df).collect()}
    island_a = {labels[v] for v in labels if v < 1000}
    island_b = {labels[v] for v in labels if v >= 1000}
    assert len(island_a) <= 3 and len(island_b) <= 3


def test_clique_single_community(spark):
    _check(spark, graphs.clique(10))
    # at its fixpoint after 2 rounds: fixed mode stops early, same labels
    _check(spark, graphs.clique(10), fixed_iterations=6)


def test_chain_fixed_iterations(spark):
    _check(spark, graphs.chain(20), fixed_iterations=4)


def test_ba_fixed_iterations(spark):
    _check(spark, graphs.barabasi_albert(120, m=2), fixed_iterations=4)


# ---- subgraph-centric CSR kernel ----


def test_csr_single_partition_is_synchronous_lpa(spark):
    """With one block the local fixpoint IS full synchronous LPA, so results
    match the oracle run to convergence (non-oscillating fixtures)."""
    for edges in (graphs.clique(10), graphs.disjoint_cliques(4, 6), anchored_chain(40)):
        df = graphs.to_df(spark, edges)
        got = {r.vid: r.label for r in lpa_csr(spark, df, num_parts=1).collect()}
        want = lpa_oracle(edges, max_iter=10_000)
        assert got == want


def test_csr_disjoint_cliques_hash_partitioned(spark):
    """Cliques split across hash blocks still collapse to their min label."""
    edges = graphs.disjoint_cliques(6, 6)
    df = graphs.to_df(spark, edges)
    labels = {r.vid: r.label for r in lpa_csr(spark, df, num_parts=8).collect()}
    for c in range(6):
        base = c * 100
        assert {labels[base + i] for i in range(6)} == {base}


def test_csr_determinism(spark):
    edges = graphs.two_islands_bridge()
    df = graphs.to_df(spark, edges)
    a = sorted((r.vid, r.label) for r in lpa_csr(spark, df, num_parts=8).collect())
    b = sorted((r.vid, r.label) for r in lpa_csr(spark, df, num_parts=8).collect())
    assert a == b
    # labels only travel along edges: every label is a vid of the same island
    labels = dict(a)
    assert all(labels[v] < 1000 for v in labels if v < 1000)


def test_csr_cross_block_two_cycle_converges(spark):
    """A bridge edge whose endpoints sit in different blocks label-swaps
    every superstep (the in-block breaker can't see it); the kind=4
    prev-prev damper must converge it to the min label well before
    max_iter."""
    edges = [(0, 1)]
    df = graphs.to_df(spark, edges)
    res = lpa_csr(
        spark, df, num_parts=2, part_expr=lambda c: c.cast("int") % 2
    )
    labels = {r.vid: r.label for r in res.collect()}
    assert labels == {0: 0, 1: 0}
    assert res.lpa_supersteps <= 5, res.lpa_supersteps


def test_csr_superstep_collapse_on_anchored_chain(spark):
    """The P3 payoff for LPA: the 0-wave on a 400-hop anchored chain needs
    ~400 synchronous rounds (one hop per round — operators/lpa.py `lpa` runs
    one round per superstep), but the CSR kernel with range-partitioned
    blocks crosses a whole block per superstep: supersteps ≈ #blocks."""
    n = 400
    edges = anchored_chain(n)
    # python oracle: converged labels are all 0 (and needs ~n rounds)
    want = lpa_oracle(edges, max_iter=2 * n)
    assert set(want.values()) == {0}
    parts = 8
    span = (n + parts) // parts
    df = graphs.to_df(spark, edges)
    res = lpa_csr(
        spark,
        df,
        num_parts=parts,
        part_expr=lambda c: F.floor(c / span).cast("int"),
    )
    got = {r.vid: r.label for r in res.collect()}
    assert got == want
    assert res.lpa_supersteps <= parts + 2, res.lpa_supersteps


def test_csr_block_cache_mode_matches(spark, tmp_path):
    """An explicit blocks_dir gives exactly the default tempdir's labels
    (same kernel, same schedule), and hash-split cliques still match the
    synchronous oracle."""
    for edges in (graphs.two_islands_bridge(), graphs.disjoint_cliques(4, 6)):
        df = graphs.to_df(spark, edges)
        tmpdirred = sorted((r.vid, r.label) for r in lpa_csr(spark, df, num_parts=4).collect())
        explicit = sorted(
            (r.vid, r.label)
            for r in lpa_csr(
                spark, df, num_parts=4, blocks_dir=str(tmp_path / "lpa_blocks"),
            ).collect()
        )
        assert tmpdirred == explicit
    assert dict(explicit) == lpa_oracle(edges, max_iter=10_000)


def test_lpa_quiescent_passthrough_requires_proof_of_fixpoint():
    """LPA's partition passthrough needs BOTH no fresh messages AND the
    partition's own prior changed==0 (kind-2 row riding the carry) — the
    cycle damper can leave a non-fixpoint state when changed>0. Proven by
    the cached kernel not touching its CSR block (bogus path would raise)."""
    import numpy as np
    import pandas as pd
    import pytest

    from goffish_v3_spark.operators.lpa import _make_lpa_kernel
    from goffish_v3_spark.plans.csr import pack_shadow, unpack_shadow

    kernel = _make_lpa_kernel(2, blocks_path="/nonexistent/blocks")
    # the shadow {20: 7} rides as one packed kind-3 row (vid=-1, a=entries)
    packed = pack_shadow(np.array([20], dtype=np.int64), np.array([7], dtype=np.int64))
    base = pd.DataFrame(
        {
            "part": np.array([1, 1, 1, 1, 1], dtype=np.int32),
            "kind": np.array([0, 0, 4, 4, 3], dtype=np.int32),
            "vid": np.array([10, 11, 10, 11, -1], dtype=np.int64),
            "a": np.array([7, 7, 7, 7, 1], dtype=np.int64),
            "payload": [None, None, None, None, packed],
        }
    )
    changed0 = pd.DataFrame(
        {"part": np.array([1], dtype=np.int32), "kind": np.array([2], dtype=np.int32),
         "vid": np.array([-1], dtype=np.int64), "a": np.array([0], dtype=np.int64)}
    )
    quiet = pd.concat([base, changed0], ignore_index=True)
    out = kernel((1,), quiet)
    state = out[out["kind"] == 0].sort_values("vid")
    assert list(state["vid"]) == [10, 11] and list(state["a"]) == [7, 7]
    assert (out[out["kind"] == 4]["a"] == 7).all()          # prevprev preserved
    shadow = out[out["kind"] == 3]                           # shadow preserved
    assert len(shadow) == 1
    svid, sval = unpack_shadow(shadow["payload"].iloc[0], int(shadow["a"].iloc[0]))
    assert list(svid) == [20] and list(sval) == [7]
    marker = out[out["kind"] == 2]
    assert len(marker) == 1 and int(marker["a"].iloc[0]) == 0
    assert not (out["kind"] == 1).any()

    # prior changed > 0 → must NOT passthrough even without messages
    changed2 = changed0.assign(a=np.array([2], dtype=np.int64))
    with pytest.raises(Exception):
        kernel((1,), pd.concat([base, changed2], ignore_index=True))

    # a fresh message → must wake regardless of prior changed == 0
    msg = pd.DataFrame(
        {"part": np.array([1], dtype=np.int32), "kind": np.array([1], dtype=np.int32),
         "vid": np.array([20], dtype=np.int64), "a": np.array([9], dtype=np.int64)}
    )
    with pytest.raises(Exception):
        kernel((1,), pd.concat([quiet, msg], ignore_index=True))
