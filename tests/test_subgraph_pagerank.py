"""CSR-block subgraph-centric PageRank: equals the oracle AND the DataFrame
implementation; partition-count invariant."""

import pytest

from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank
from tests import graphs
from tests.oracles import pagerank_oracle


def _check(spark, edges, num_parts=4):
    df = graphs.to_df(spark, edges)
    got = {r.vid: r.rank for r in csr_pagerank(spark, df, num_parts=num_parts).collect()}
    want = pagerank_oracle(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), f"vertex {v}"


def test_chain(spark):
    _check(spark, graphs.chain(10))


def test_star_hub(spark):
    _check(spark, graphs.star_hub(50))


def test_two_islands(spark):
    _check(spark, graphs.two_islands_bridge())


def test_ba(spark):
    _check(spark, graphs.barabasi_albert(150, m=3))


def test_partition_invariance(spark):
    edges = graphs.barabasi_albert(100, m=2)
    df = graphs.to_df(spark, edges)
    results = []
    for p in (1, 3, 8):
        r = {x.vid: x.rank for x in csr_pagerank(spark, df, num_parts=p).collect()}
        results.append(r)
    for v in results[0]:
        assert results[0][v] == pytest.approx(results[1][v], abs=1e-9)
        assert results[0][v] == pytest.approx(results[2][v], abs=1e-9)


def test_csr_routing_with_hash_range_vids(spark):
    """Regression: vertex rows must not introduce nulls into the int64 dst
    column — pandas would coerce it to float64 and corrupt xxhash64-range
    vids (> 2^53), misrouting every cross-partition message."""
    import numpy as np
    import pyspark.sql.functions as F

    from goffish_v3_spark.plans.csr import CsrBlock, build_csr_blocks
    from tests.graphs import barabasi_albert, to_df

    df = to_df(spark, barabasi_albert(200, m=3, seed=11))
    # remap vids through xxhash64 so they span the full 64-bit range
    e = df.select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
        "w",
    )
    blocks = {r["part"]: CsrBlock(r) for r in build_csr_blocks(spark, e, 4).collect()}
    for b in blocks.values():
        remote = b.edge_dst_local < 0
        rvid, rpart = b.edge_dst_vid[remote], b.edge_dst_part[remote]
        for q in np.unique(rpart):
            tgt = blocks[int(q)]
            vids = rvid[rpart == q]
            pos = np.searchsorted(tgt.local_vids, vids)
            ok = (pos < len(tgt.local_vids)) & (
                tgt.local_vids[np.minimum(pos, len(tgt.local_vids) - 1)] == vids
            )
            assert ok.all(), f"misrouted messages from part {b.part} to {q}"


def test_csr_pagerank_hash_range_vids_matches_df(spark):
    import pyspark.sql.functions as F

    from goffish_v3_spark.operators.pagerank import pagerank
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank
    from tests.graphs import barabasi_albert, to_df

    df = to_df(spark, barabasi_albert(150, m=3, seed=5))
    e = df.select(
        F.xxhash64(F.col("src").cast("string")).alias("src"),
        F.xxhash64(F.col("dst").cast("string")).alias("dst"),
        "w",
    )
    a = pagerank(spark, e, fixed_iterations=5)
    # csr superstep 0 only seeds contributions → k rank updates = k+1 supersteps
    b = csr_pagerank(spark, e, num_parts=4, max_iter=6, eps=0.0)
    joined = a.withColumnRenamed("rank", "r1").join(
        b.withColumnRenamed("rank", "r2"), "vid"
    )
    assert joined.count() == a.count()
    mx = joined.select(F.max(F.abs(F.col("r1") - F.col("r2"))).alias("d")).collect()[0]["d"]
    assert mx < 1e-9


def test_subgraph_rank_converges_to_pagerank_fixpoint(spark):
    """SubgraphRank's local-PR warm start (SubgraphRank.java:117-143) changes
    the trajectory, not the fixpoint: ε-converged scores match plain
    PageRank, in no more global supersteps."""
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank, subgraph_rank
    from tests.graphs import barabasi_albert, to_df

    df = to_df(spark, barabasi_albert(200, m=3, seed=9))
    eps = 1e-5
    cold = csr_pagerank(spark, df, num_parts=4, eps=eps)
    warm = subgraph_rank(spark, df, num_parts=4, eps=eps)
    a = {r.vid: r.rank for r in cold.collect()}
    b = {r.vid: r.rank for r in warm.collect()}
    assert set(a) == set(b)
    for v in a:
        assert b[v] == pytest.approx(a[v], abs=5 * eps), f"vertex {v}"
    assert warm.pr_supersteps <= cold.pr_supersteps


def test_csr_fixed_iterations_matches_df_fixed(spark):
    """fixed_iterations mode (the oracle gate's mode) equals the DataFrame
    engine's fixed-iteration scores."""
    import pyspark.sql.functions as F

    from goffish_v3_spark.operators.pagerank import pagerank

    edges = graphs.barabasi_albert(120, m=2, seed=3)
    df = graphs.to_df(spark, edges)
    a = pagerank(spark, df, fixed_iterations=5)
    b = csr_pagerank(spark, df, num_parts=4, fixed_iterations=5)
    j = a.withColumnRenamed("rank", "r1").join(b.withColumnRenamed("rank", "r2"), "vid")
    assert j.count() == a.count()
    mx = j.select(F.max(F.abs(F.col("r1") - F.col("r2")))).collect()[0][0]
    assert mx < 1e-12


def test_csr_eps_mode_one_job_per_superstep(spark):
    """The ε-gate's max-delta must ride the per-superstep checkpoint as an
    Observation — a separate collect() job per superstep would double the
    loop's job count (VERDICT r2)."""
    from goffish_v3_spark.plans.csr import build_csr_blocks

    df = graphs.to_df(spark, graphs.barabasi_albert(100, m=2, seed=7))
    sc = spark.sparkContext
    # build blocks OUTSIDE the job group — block construction alone costs ~6
    # jobs and would drown the per-superstep signal we're gating on
    blocks = build_csr_blocks(spark, df, 4)
    sc.setJobGroup("csr_pr_job_count", "one job per superstep")
    try:
        res = csr_pagerank(
            spark, df, num_parts=4, eps=0.0, max_iter=12, blocks=blocks
        )
        supersteps = res.pr_supersteps
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup("csr_pr_job_count"))
    njobs = len(jobs)
    # stage ids per job, skipped stages included; the final-result
    # checkpoint is the last job and the supersteps run just before it
    stages = [len(tracker.getJobInfo(j).stageIds) for j in jobs]
    blocks.unpersist()
    # the 100-vertex BA graph converges to an exact 0.0 delta around step 10,
    # so the loop may legitimately stop one step shy of max_iter — pin only a
    # floor, the job-count bound below is the actual regression gate
    assert 8 <= supersteps <= 12
    # fixed jobs inside the group: N agg, init-state checkpoint, final-result
    # checkpoint (+1 slack); a collect-per-superstep loop would put njobs at
    # ~2x supersteps + setup
    assert supersteps <= njobs <= supersteps + 4, (supersteps, njobs)
    # one message exchange per superstep: the kernel's kind=1 rows go
    # straight into the next superstep's groupby("part"); a JVM
    # re-aggregation of the messages would add a sixth stage to each job
    # (superstep 0 has no messages to exchange yet)
    steady = stages[-supersteps - 1:-1][1:]
    assert steady and all(n == 5 for n in steady), stages


def test_csr_dedups_multi_edges_like_dataframe_pagerank(spark):
    """Review finding: duplicate edge rows must not double out-degrees or
    contributions in the CSR path."""
    import pyspark.sql.functions as F

    from goffish_v3_spark.operators.pagerank import pagerank
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank

    rows = [(1, 2, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    a = pagerank(spark, e, fixed_iterations=4)
    b = csr_pagerank(spark, e, num_parts=2, max_iter=5, eps=0.0)
    j = a.withColumnRenamed("rank", "r1").join(b.withColumnRenamed("rank", "r2"), "vid")
    mx = j.select(F.max(F.abs(F.col("r1") - F.col("r2")))).collect()[0][0]
    assert mx < 1e-12


def test_block_cache_mode_matches(spark, tmp_path):
    """Cache-mode csr_pagerank (grouped map + worker-local blocks) equals the
    cogrouped path bit-for-bit (same kernel, same update order)."""
    edges = graphs.barabasi_albert(150, m=3)
    df = graphs.to_df(spark, edges)
    base = {
        r.vid: r.rank
        for r in csr_pagerank(spark, df, num_parts=4, fixed_iterations=6).collect()
    }
    cached = {
        r.vid: r.rank
        for r in csr_pagerank(
            spark, df, num_parts=4, fixed_iterations=6,
            cache_blocks=True, blocks_dir=str(tmp_path / "pr_blocks"),
        ).collect()
    }
    assert base == cached
