"""SSSP vs Dijkstra oracle (unit + weighted, directed + undirected)."""

import math

import pytest
from pyspark.sql import functions as F

from goffish_v3_spark.operators.sssp import sssp, sssp_csr
from tests import graphs
from tests.oracles import sssp_oracle


def _check(spark, edges3, source, weighted, directed):
    df = graphs.to_df(spark, edges3, weighted=True)
    got = {
        r.vid: r.dist
        for r in sssp(
            spark, df, source=source, weighted=weighted, directed=directed
        ).collect()
    }
    used = edges3 if weighted else [(u, v, 1.0) for u, v, _ in edges3]
    want = sssp_oracle(used, source, directed=directed)
    for v, d in got.items():
        if math.isinf(d):
            assert v not in want
        else:
            assert want[v] == d, f"vertex {v}: {want[v]} != {d}"


def test_chain_unit(spark):
    edges = [(u, v, 1.0) for u, v in graphs.chain(20)]
    _check(spark, edges, source=0, weighted=False, directed=True)


def test_chain_unreachable_when_directed(spark):
    edges = [(u, v, 1.0) for u, v in graphs.chain(10)]
    df = graphs.to_df(spark, edges, weighted=True)
    got = {r.vid: r.dist for r in sssp(spark, df, source=5, directed=True).collect()}
    assert got[9] == 4.0
    assert math.isinf(got[0])


def test_weighted(spark):
    edges = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0), (2, 3, 10.0)]
    _check(spark, edges, source=0, weighted=True, directed=True)


def test_ba_undirected(spark):
    edges = [(u, v, 1.0) for u, v in graphs.barabasi_albert(120, m=2)]
    _check(spark, edges, source=0, weighted=False, directed=False)


def _check_csr(spark, edges3, source, weighted, directed, **kw):
    df = graphs.to_df(spark, edges3, weighted=True)
    res = sssp_csr(
        spark, df, source=source, weighted=weighted, directed=directed, **kw
    )
    got = {r.vid: r.dist for r in res.collect()}
    used = edges3 if weighted else [(u, v, 1.0) for u, v, _ in edges3]
    want = sssp_oracle(used, source, directed=directed)
    for v, d in got.items():
        if math.isinf(d):
            assert v not in want
        else:
            assert want[v] == d, f"vertex {v}: {want[v]} != {d}"
    return res


def test_csr_weighted_directed(spark):
    edges = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0), (2, 3, 10.0)]
    _check_csr(spark, edges, source=0, weighted=True, directed=True, num_parts=2)


def test_csr_ba_undirected(spark):
    edges = [(u, v, 1.0) for u, v in graphs.barabasi_albert(120, m=2)]
    _check_csr(spark, edges, source=0, weighted=False, directed=False, num_parts=4)


def test_csr_matches_df_engine(spark):
    """Kernel and DataFrame paths agree on distances vertex-for-vertex."""
    edges = [(u, v, 1.0 + ((u * 7 + v) % 5)) for u, v in graphs.barabasi_albert(150, m=3)]
    df = graphs.to_df(spark, edges, weighted=True)
    a = {
        r.vid: r.dist
        for r in sssp(spark, df, source=0, weighted=True, directed=False).collect()
    }
    b = {
        r.vid: r.dist
        for r in sssp_csr(
            spark, df, source=0, weighted=True, directed=False, num_parts=4
        ).collect()
    }
    assert a == b


def _distributed(monkeypatch):
    """Force sssp_csr onto its distributed path (one-task budget 0)."""
    from goffish_v3_spark.plans import block_cache

    monkeypatch.setattr(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0)


def test_csr_superstep_collapse_on_chain(spark, monkeypatch):
    """The P3 payoff: on a 400-hop chain range-partitioned into 8 blocks,
    the distributed kernel converges in O(#partitions) supersteps — the
    DataFrame Bellman-Ford needs O(diameter) = 400 (reference rationale:
    SingleSourceShortestPath.java:407-536 local-Dijkstra-per-superstep)."""
    _distributed(monkeypatch)
    n = 400
    edges = [(u, v, 1.0) for u, v in graphs.chain(n)]
    df = graphs.to_df(spark, edges, weighted=True)
    parts = 8
    span = (n + parts - 1) // parts
    res = _check_csr(
        spark,
        edges,
        source=0,
        weighted=False,
        directed=True,
        num_parts=parts,
        part_expr=lambda c: F.floor(c / span).cast("int"),
    )
    assert res.sssp_supersteps <= parts + 2, res.sssp_supersteps


def test_parent_pointers_valid(spark):
    edges = [(u, v, 1.0) for u, v in graphs.two_islands_bridge()]
    df = graphs.to_df(spark, edges, weighted=True)
    rows = sssp(spark, df, source=0, directed=False).collect()
    dist = {r.vid: r.dist for r in rows}
    parent = {r.vid: r.parent for r in rows}
    for v, p in parent.items():
        if p != -1:
            assert dist[v] == dist[p] + 1.0


def test_csr_block_cache_mode_matches(spark, tmp_path):
    """An explicit blocks_dir and the local-mode tempdir default return
    identical distances and parents, and the distances match Dijkstra."""
    edges = [(u, v, w) for (u, v), w in zip(graphs.barabasi_albert(120, m=2),
             [1.0 + (i % 5) for i in range(10_000)])]
    tmpdirred = {
        (r.vid): (r.dist, r.parent)
        for r in _check_csr(
            spark, edges, source=0, weighted=True, directed=True, num_parts=4
        ).collect()
    }
    explicit = {
        (r.vid): (r.dist, r.parent)
        for r in _check_csr(
            spark, edges, source=0, weighted=True, directed=True, num_parts=4,
            blocks_dir=str(tmp_path / "sssp_blocks"),
        ).collect()
    }
    assert tmpdirred == explicit


def test_df_engine_raises_without_convergence(spark):
    import pytest

    df = graphs.to_df(spark, graphs.chain(10))
    with pytest.raises(RuntimeError, match="max_iter=3"):
        sssp(spark, df, source=0, max_iter=3)


def test_csr_raises_without_convergence(spark, monkeypatch):
    """Distributed path: the one task converges in its one superstep."""
    import pytest

    _distributed(monkeypatch)
    df = graphs.to_df(spark, graphs.chain(10))
    with pytest.raises(RuntimeError, match="max_iter=1"):
        sssp_csr(spark, df, source=0, num_parts=4, max_iter=1)


def test_negative_weight_rejected_by_both_engines(spark):
    import pytest

    df = graphs.to_df(spark, [(0, 1, 1.0), (1, 2, -2.0), (0, 2, 5.0)], weighted=True)
    with pytest.raises(ValueError, match="negative"):
        sssp(spark, df, source=0, weighted=True)
    with pytest.raises(ValueError, match="negative"):
        sssp_csr(spark, df, source=0, weighted=True, num_parts=2)


def _dist_parent(res):
    return {r.vid: (r.dist, r.parent) for r in res.collect()}


def _ba_weighted():
    return [(u, v, 1.0 + ((u * 7 + v) % 5)) for u, v in graphs.barabasi_albert(150, m=3)]


WEIGHTED_DIRECTED = [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0), (2, 3, 10.0)]


@pytest.mark.parametrize(
    "edges, directed", [(_ba_weighted(), False), (WEIGHTED_DIRECTED, True)],
    ids=["ba_undirected", "weighted_directed"],
)
def test_csr_one_task_equals_df_engine(spark, monkeypatch, edges, directed):
    """Below the budget sssp_csr runs sssp's synchronous sweeps in one task:
    distances AND parents equal sssp's; the distributed path (budget 0)
    gives the same distances."""
    df = graphs.to_df(spark, edges, weighted=True)
    kw = {"source": 0, "weighted": True, "directed": directed}
    want = _dist_parent(sssp(spark, df, **kw))
    one = sssp_csr(spark, df, num_parts=4, **kw)
    assert one.sssp_supersteps == 1
    assert _dist_parent(one) == want
    _distributed(monkeypatch)
    dist = _dist_parent(sssp_csr(spark, df, num_parts=4, **kw))
    assert {v: d for v, (d, _) in dist.items()} == {v: d for v, (d, _) in want.items()}


@pytest.mark.parametrize("budget", ["default", "zero"])
def test_csr_absent_source_leaves_all_unreachable(spark, monkeypatch, budget):
    """A source that is no vertex of the graph reaches nothing, on both
    paths: every distance inf, every parent -1."""
    if budget == "zero":
        _distributed(monkeypatch)
    df = graphs.to_df(spark, graphs.barabasi_albert(60, m=2))
    got = _dist_parent(sssp_csr(spark, df, source=10**9, num_parts=4))
    assert len(got) == 60
    assert all(math.isinf(d) and p == -1 for d, p in got.values())
