"""Superstep loop: checkpoint/resume + metrics table (north_rule gates)."""

import pyspark.sql.functions as F
import pytest

from goffish_v3_spark.plans.superstep import StepResult, SuperstepLoop


def _inc_step(spark):
    def step(state, i):
        new = state.withColumn("x", F.col("x") + 1)
        return StepResult(new, converged=False, delta=1.0, messages=0)

    return step


def test_runs_max_iter_and_counts(spark):
    init = spark.range(10).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    loop = SuperstepLoop(spark, max_iter=5)
    info = loop.run(init, _inc_step(spark))
    assert info.supersteps == 5
    assert not info.converged
    assert all(r.x == 5 for r in info.state.collect())


def test_checkpoint_resume_continues(spark, tmp_path):
    ckpt = str(tmp_path)
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    loop = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="r", max_iter=3)
    loop.run(init, _inc_step(spark))
    assert loop.last_committed_superstep() == 2

    loop2 = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="r", max_iter=7)
    info = loop2.run(init, _inc_step(spark), resume=True)
    # resumed from superstep 3, ran 4 more
    assert info.supersteps == 4
    assert all(r.x == 7 for r in info.state.collect())


def test_metrics_rows_written(spark, tmp_path):
    ckpt = str(tmp_path)
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    loop = SuperstepLoop(spark, checkpoint_dir=ckpt, run_id="m", max_iter=3)
    loop.run(init, _inc_step(spark))
    m = loop.metrics()
    rows = m.filter(F.col("part") == -1).collect()
    assert {r.superstep for r in rows} == {0, 1, 2}
    assert all(r.run_id == "m" for r in rows)
    assert set(m.columns) >= {"run_id", "superstep", "part", "rows", "msgs", "wall_ms", "delta", "extra"}


def test_convergence_stops_early(spark):
    init = spark.range(4).select(F.col("id").alias("vid"), F.lit(0).alias("x"))

    def step(state, i):
        new = state.withColumn("x", F.col("x") + 1)
        return StepResult(new, converged=(i == 2), delta=0.0)

    info = SuperstepLoop(spark, max_iter=10).run(init, step)
    assert info.converged
    assert info.supersteps == 3


def _chain_step(seen, n):
    """A step that runs ``n`` supersteps per call and records its ``i``."""

    def step(state, i):
        seen.append(i)
        return StepResult(state, converged=False, supersteps=n)

    return step


def test_multi_superstep_step_advances_index(spark):
    seen = []
    init = spark.range(2).select(F.col("id").alias("vid"))
    info = SuperstepLoop(spark, max_iter=9).run(init, _chain_step(seen, 3))
    assert seen == [0, 3, 6]
    assert info.supersteps == 9
    assert not info.converged


def test_max_iter_caps_summed_supersteps(spark):
    seen = []
    init = spark.range(2).select(F.col("id").alias("vid"))
    info = SuperstepLoop(spark, max_iter=7).run(init, _chain_step(seen, 3))
    assert seen == [0, 3, 6]
    assert info.supersteps == 7


def test_must_converge_raises_with_name_and_max_iter(spark):
    init = spark.range(2).select(F.col("id").alias("vid"))
    loop = SuperstepLoop(spark, max_iter=4, name="demo", must_converge=True)
    with pytest.raises(
        RuntimeError, match="demo did not converge within max_iter=4 supersteps"
    ):
        loop.run(init, _chain_step([], 1))


def test_max_iter_below_one_rejected(spark):
    with pytest.raises(ValueError, match="max_iter=0"):
        SuperstepLoop(spark, max_iter=0)


def test_observed_checkpoint_reads_aggregate_in_one_job(spark):
    from goffish_v3_spark.plans.superstep import observed_checkpoint
    from tests.test_subgraph_pagerank import _job_ids

    df = spark.range(10).select(F.col("id").alias("vid"))
    (out, total), jobs = _job_ids(
        spark, "observed_checkpoint", lambda: observed_checkpoint(df, F.sum("vid"))
    )
    assert total == 45
    assert len(jobs) == 1
    assert sorted(r.vid for r in out.collect()) == list(range(10))


@pytest.mark.parametrize("op", ["csr_pagerank", "core_numbers", "lpa_csr"])
def test_csr_operators_reject_max_iter_zero(spark, op):
    from goffish_v3_spark.operators import kcore, lpa, subgraph_pagerank
    from tests import graphs

    run = {
        "csr_pagerank": subgraph_pagerank.csr_pagerank,
        "core_numbers": kcore.core_numbers,
        "lpa_csr": lpa.lpa_csr,
    }[op]
    df = graphs.to_df(spark, graphs.barabasi_albert(60, m=2, seed=3))
    with pytest.raises(ValueError, match="max_iter"):
        run(spark, df, num_parts=4, max_iter=0)


def test_csr_pagerank_fixed_iterations_zero_runs_superstep_0(spark):
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank
    from tests import graphs

    df = graphs.to_df(spark, graphs.barabasi_albert(60, m=2, seed=3))
    res = csr_pagerank(spark, df, num_parts=4, fixed_iterations=0)
    assert res.pr_supersteps == 1
    ranks = [r.rank for r in res.collect()]
    assert len(ranks) == 60
    assert all(r == pytest.approx(1 / 60) for r in ranks)


def test_pagerank_partition_metrics_persisted(spark, tmp_path):
    """north_rule: per-partition lineage + metrics — a checkpointed PageRank
    run with partition_metrics=True persists per-(superstep, part) row
    counts next to the state store, readable back as parquet (VERDICT r3 #9)."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.pagerank import pagerank_with_info
    from tests import graphs

    df = graphs.to_df(spark, graphs.barabasi_albert(120, m=2, seed=3))
    scores, info = pagerank_with_info(
        spark,
        df,
        fixed_iterations=3,
        checkpoint_dir=str(tmp_path),
        checkpoint_every=1,
        partition_metrics=True,
    )
    n_vertices = scores.count()
    m = spark.read.parquet(f"{tmp_path}/{info.run_id}/metrics")
    # one global row (part=-1) per committed superstep
    assert m.filter(F.col("part") == -1).count() == 3
    # per-partition rows cover every vertex exactly once per superstep
    per_part = (
        m.filter(F.col("part") >= 0)
        .groupBy("superstep")
        .agg(F.sum("rows").alias("total"))
        .collect()
    )
    assert len(per_part) == 3
    assert all(r.total == n_vertices for r in per_part)


def test_partition_first_dedup_is_single_exchange(spark):
    """The one-exchange setup layout (pagerank/sssp/lpa/csr builders) rests
    on Spark's subset-clustering rule: HashPartitioning(src) must satisfy
    the ClusteredDistribution of a (src,dst) dedup, a groupBy(src) and a
    src-join without further exchanges. Guard it against Spark upgrades by
    counting Exchange nodes in the optimized plan."""
    from pyspark.sql import functions as F

    e = spark.range(1000).select(
        (F.col("id") % 50).alias("src"), ((F.col("id") * 13 + 7) % 50).alias("dst")
    )
    # planner-inserted shuffles print ENSURE_REQUIREMENTS; the one
    # deliberate user repartition prints REPARTITION_BY_NUM — the dedup,
    # groupBy and join must add ZERO of the former
    deduped = e.repartition(8, "src").dropDuplicates(["src", "dst"])
    dplan = deduped._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in dplan, dplan
    assert dplan.count("REPARTITION_BY_NUM") == 1, dplan
    # cached (as the operators do), the out-degree groupBy and the src-join
    # add NO shuffle exchange on top of the cached partitioning
    deduped = deduped.persist()
    try:
        deduped.count()
        outdeg = deduped.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        adj = deduped.join(outdeg.hint("merge"), "src")
        plan = adj._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "ENSURE_REQUIREMENTS" not in plan, (
            "planner inserted a shuffle over the cached src-partitioned "
            f"table:\n{plan}"
        )
    finally:
        deduped.unpersist()


def _scc_cyclic17(spark):
    # the 17-vertex graph of test_scc.test_matches_duckdb_definition_oracle
    pairs = sorted(
        {(i % 17, (i * 5 + 3) % 17) for i in range(40)}
        | {((i * 7) % 17, i % 17) for i in range(15)}
    )
    return spark.createDataFrame([p for p in pairs if p[0] != p[1]], "src long, dst long")


# Spark jobs per call on BA(60, 2, seed 3) at 4 parts (no trailing action).
# Each round is one observed localCheckpoint job; the rest are the AQE
# stages and broadcasts around the loops. The hand-rolled loops these
# replaced ran 94, 214, 34, 42 and 25.
FIXPOINT_JOB_COUNTS = {
    "scc": 7,
    "scc_cyclic17": 19,
    "kmeans_partition": 23,
    "spanning_forest": 22,
    "meta_diameter": 10,
}


@pytest.mark.parametrize("name", sorted(FIXPOINT_JOB_COUNTS))
def test_fixpoint_operator_jobs_per_call(spark, name):
    from goffish_v3_spark.operators import kmeans_partition, scc, spanning_forest, stats
    from tests import graphs
    from tests.test_subgraph_pagerank import _job_ids

    def ba():
        return graphs.to_df(spark, graphs.barabasi_albert(60, m=2, seed=3))

    run = {
        "scc": lambda: scc.scc(spark, ba()),
        "scc_cyclic17": lambda: scc.scc(spark, _scc_cyclic17(spark)),
        "kmeans_partition": lambda: kmeans_partition.kmeans_partition(spark, ba(), k=4),
        "spanning_forest": lambda: spanning_forest.spanning_forest(spark, ba(), num_parts=4),
        "meta_diameter": lambda: stats.meta_diameter(spark, ba(), 4),
    }[name]
    _, jobs = _job_ids(spark, f"fixpoint_jobs_{name}", run)
    assert len(jobs) <= FIXPOINT_JOB_COUNTS[name], (name, len(jobs))
