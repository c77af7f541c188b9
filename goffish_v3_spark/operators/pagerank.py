"""PageRank with the reference's exact semantics.

Reproduces sample-hama PageRank.java:19-149 (update rule at :107):
``rank' = ALPHA · Σ_in(rank_u / outdeg_u) + (1 − ALPHA)/N``, ALPHA = 0.85,
converged when **every** |Δ| ≤ EPSILON (= 1e-3 in the reference; the
all-converged gate at :108-116 becomes our driver-side ``max(abs(Δ)) ≤ ε``).
Notably there is **no dangling-mass redistribution** — vertices without
out-edges simply leak rank (reference behaviour, see SURVEY.md §7.3) — and N
counts *all* vertices (src ∪ dst).

Spark shape per superstep (one job):

    contrib = state ⋈ adj on vid=src          -- adj pre-annotated with outdeg
            → groupBy(dst).agg(sum(rank/deg)) -- map-side partial agg = the
                                              -- reference's local/remote sum
                                              -- split (PageRank.java:120-141)
    rank'   = α·contrib + (1−α)/N             -- left join back onto state
    delta   = agg(max(abs(rank' − rank)))     -- driver convergence gate

The contribution aggregation is skew-safe via partial (map-side) aggregation:
reducer fan-in per hot dst is bounded by the mapper count, not its in-degree.
Out-degree skew on the state⋈adj side is left to AQE's skew-join handling:
explicit hub salting measured 0.45-1.03x of this plan on every fixture
(BENCH/BASELINE.md "Hub salting") and was removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.superstep import (
    RunInfo, StepResult, SuperstepLoop, observed_checkpoint,
)

ALPHA = 0.85
EPSILON = 1e-3


def pagerank_with_info(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = ALPHA,
    eps: float = EPSILON,
    max_iter: int = 100,
    fixed_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
    checkpoint_every: int = 5,
    partition_metrics: bool = False,
    teleport_vid: int | None = None,
) -> tuple[DataFrame, RunInfo]:
    """Run PageRank; return (scores ``(vid, rank)``, RunInfo).

    ``teleport_vid`` switches to personalized PageRank: all teleport mass
    (the ``1−α`` term) lands on that single vertex instead of spreading
    uniformly, and the walk starts there (init = indicator). Same superstep
    plan — the only change is the teleport term becoming a per-vertex
    expression — so every scale property (the one-exchange setup, the
    cached adjacency) carries over.

    ``fixed_iterations`` disables the ε-gate and runs exactly that many rank
    updates (used by SQL-oracle comparisons, which unroll a fixed count).
    """
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # ONE edge-table exchange for the whole setup: hash-partition by src
    # once, then dedup on (src,dst), the out-degree groupBy("src") and the
    # adjacency join are all partition-local — HashPartitioning(src)
    # satisfies every downstream clustering requirement (src is a subset of
    # each grouping/join key set), so Catalyst inserts no further exchange
    # and the cached adjacency inherits exactly the (src, n_shuffle)
    # partitioning the per-superstep state⋈adj join needs. The previous
    # shape paid four edge-size exchanges here (distinct by (src,dst),
    # groupBy(src), the join, and an explicit repartition) — measured 14.2 s
    # of a 37.5 s 10-superstep run at 5.5 M edges / 4 cores. Skew note: a
    # giant out-degree hub lands in one setup partition, but that is the
    # same src-partitioned layout the adjacency cache uses by design.
    e = (
        edges.select("src", "dst")
        .repartition(n_shuffle, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    vertices = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
    )
    n = vertices.count()
    if n == 0:
        empty = spark.createDataFrame([], "vid long, rank double")
        e.unpersist()
        return empty, RunInfo(run_id="empty", supersteps=0, converged=True,
                              wall_s=0.0, state=empty)
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # adjacency annotated with source out-degree once, reused every superstep.
    # Persist it pre-partitioned (inherited from e's one setup exchange — the
    # groupBy and the join add none) AND pre-sorted on the join key: the
    # cached plan keeps its outputPartitioning/outputOrdering, so every
    # superstep's state⋈adj sort-merge join skips both the exchange and the
    # sort on the (large) adjacency side — only the (small) state side
    # shuffles per superstep. Measured 4.5× per-superstep at 5.5M edges/32
    # cores.
    adj = e.join(outdeg, "src").sortWithinPartitions("src").persist()
    adj.count()

    # static vertex dimension, pre-partitioned + sorted like adj: in fixed-
    # iteration mode the rank update depends ONLY on the contributions
    # (rank' = α·Σ + base), so the update join runs against this cached
    # table and the per-superstep plan shuffles just (a) the state into
    # join1 and (b) the contributions — the old-state side of the update
    # join costs no exchange and no sort. ε-mode needs the previous rank for
    # the delta, so it joins against the live state and skips this cache.
    vdim = None
    if fixed_iterations is not None:
        vdim = (
            vertices.repartition(n_shuffle, "vid").sortWithinPartitions("vid").persist()
        )
        vdim.count()  # materialize while e (vertices' parent) is still cached
        init_src = vdim
    else:
        init_src = vertices

    # sever the (possibly expensive) upstream plan from the iterative loop
    if teleport_vid is None:
        init_rank = F.lit(1.0 / n)
        base = F.lit((1.0 - alpha) / n)
    else:
        init_rank = F.when(
            F.col("vid") == teleport_vid, F.lit(1.0)
        ).otherwise(F.lit(0.0))
        base = F.when(
            F.col("vid") == teleport_vid, F.lit(1.0 - alpha)
        ).otherwise(F.lit(0.0))
    init = init_src.withColumn("rank", init_rank).localCheckpoint(eager=True)
    e.unpersist()

    def step(state: DataFrame, i: int) -> StepResult:
        contrib = (
            state.join(adj, state.vid == adj.src)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        if fixed_iterations is not None:
            new_state = vdim.join(contrib, vdim.vid == contrib.dst, "left").select(
                "vid",
                (alpha * F.coalesce(F.col("s"), F.lit(0.0)) + base).alias("rank"),
            )
            return StepResult(
                new_state.localCheckpoint(eager=True), i + 1 >= fixed_iterations
            )
        new_state = state.join(contrib, state.vid == contrib.dst, "left").select(
            "vid",
            (alpha * F.coalesce(F.col("s"), F.lit(0.0)) + base).alias("rank"),
            F.col("rank").alias("_old"),
        )
        # ONE job per superstep: the ε-gate rides along the localCheckpoint
        # materialization as an observed metric (reference's all-converged
        # gate, PageRank.java:108-116, evaluated driver-side)
        out, delta = observed_checkpoint(
            new_state, F.max(F.abs(F.col("rank") - F.col("_old")))
        )
        return StepResult(out.select("vid", "rank"), delta <= eps, delta=float(delta))

    from goffish_v3_spark.plans.partitioner import vertex_part

    loop = SuperstepLoop(
        spark,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        max_iter=(fixed_iterations if fixed_iterations is not None else max_iter),
        checkpoint_every=checkpoint_every,
        partition_metrics=partition_metrics,
        # rank state carries no part column; ownership is computable
        # (plans.partitioner), so per-partition lineage metrics derive it
        partition_expr=vertex_part(F.col("vid"), n_shuffle),
    )
    info = loop.run(init, step, resume=resume)
    adj.unpersist()
    if vdim is not None:
        vdim.unpersist()
    return info.state, info


def pagerank(spark: SparkSession, edges: DataFrame, **kw) -> DataFrame:
    """Return ``(vid long, rank double)`` at convergence."""
    scores, _ = pagerank_with_info(spark, edges, **kw)
    return scores
