"""PageRank vs the reference-semantics oracle (allclose 1e-6, north_rule)."""

import pytest

from goffish_v3_spark.operators.pagerank import pagerank, pagerank_with_info
from tests import graphs
from tests.oracles import pagerank_oracle


def _check(spark, edges, **kw):
    _assert_oracle(pagerank(spark, graphs.to_df(spark, edges), **kw), edges, **kw)


def _assert_oracle(scores, edges, **kw):
    got = {r.vid: r.rank for r in scores.collect()}
    want = pagerank_oracle(edges, **kw)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"vertex {v}"


def test_chain(spark):
    _check(spark, graphs.chain(10))


def test_star_hub(spark):
    _check(spark, graphs.star_hub(50))


def test_clique(spark):
    _check(spark, graphs.clique(8))


def test_two_islands(spark):
    _check(spark, graphs.two_islands_bridge())


def test_barabasi_albert(spark):
    _check(spark, graphs.barabasi_albert(150, m=3))


def test_fixed_iterations(spark):
    _check(spark, graphs.barabasi_albert(80, m=2), fixed_iterations=5)


def test_fixed_iterations_one_job_per_superstep(spark):
    """Each fixed-mode superstep is one Spark job that materializes its
    state: four more supersteps run exactly four more jobs, and the ranks
    still match the oracle. Broadcast joins are off, as for any rank state
    past the broadcast threshold: a test-sized state is broadcast into the
    adjacency join, which costs each superstep a broadcast job besides its
    own."""
    from tests.test_subgraph_pagerank import _job_ids

    edges = graphs.barabasi_albert(80, m=2)
    df = graphs.to_df(spark, edges)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        jobs = {}
        for k in (4, 8):
            out, ids = _job_ids(
                spark, f"pr_fixed_{k}", lambda: pagerank(spark, df, fixed_iterations=k)
            )
            jobs[k] = len(ids)
    finally:
        spark.conf.set(key, prev)
    assert jobs[8] - jobs[4] == 4, jobs
    _assert_oracle(out, edges, fixed_iterations=8)


def test_converges_and_reports_info(spark):
    df = graphs.to_df(spark, graphs.barabasi_albert(100))
    scores, info = pagerank_with_info(spark, df)
    assert info.converged
    assert info.supersteps > 1
    assert scores.count() == 100


def test_checkpoint_resume_equivalence(spark, tmp_path):
    """north_rule: kill after superstep k, resume, identical final output."""
    edges = graphs.barabasi_albert(100, m=2)
    df = graphs.to_df(spark, edges)
    full = {r.vid: r.rank for r in pagerank(spark, df).collect()}

    ckpt = str(tmp_path / "ck")
    # run only 3 supersteps then "crash"
    pagerank(
        spark, df, checkpoint_dir=ckpt, run_id="r1", max_iter=3, checkpoint_every=1
    )
    # resume from the checkpoint and run to convergence
    resumed = pagerank(
        spark, df, checkpoint_dir=ckpt, run_id="r1", resume=True, checkpoint_every=1
    )
    got = {r.vid: r.rank for r in resumed.collect()}
    assert set(got) == set(full)
    for v in full:
        assert got[v] == pytest.approx(full[v], abs=1e-12)


def test_empty_edges(spark):
    from goffish_v3_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "src long, dst long, w double")
    out = pagerank(spark, empty)
    assert out.count() == 0
    assert out.columns == ["vid", "rank"]


def test_personalized_pagerank_matches_python(spark):
    """PPR with teleport_vid: all (1-alpha) mass on the source; fixed
    iterations match a dense python unroll exactly (same update rule)."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (0, 2)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, w double"
    )
    src = 0
    got = {
        r.vid: r.rank
        for r in pagerank(
            spark, df, fixed_iterations=8, teleport_vid=src
        ).collect()
    }
    # python reference (same dangling-mass-drop convention)
    out = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    verts = sorted({v for e in edges for v in e})
    rank = {v: (1.0 if v == src else 0.0) for v in verts}
    for _ in range(8):
        contrib = {v: 0.0 for v in verts}
        for a, targets in out.items():
            for b in targets:
                contrib[b] += rank[a] / len(targets)
        rank = {
            v: 0.85 * contrib[v] + ((1.0 - 0.85) if v == src else 0.0)
            for v in verts
        }
    assert got.keys() == rank.keys()
    for v in verts:
        assert abs(got[v] - rank[v]) < 1e-9
    # teleport concentrates mass near the source vs uniform pagerank
    assert got[src] > got[3]
