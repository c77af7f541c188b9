"""KMeans-style balanced graph partitioning (edge-crossing minimization).

Semantics: sample-hama KMeans.java:66-614 — partition the vertex set into k
clusters that are (a) roughly balanced and (b) minimize cross-cluster edges,
by seeding k centers, growing clusters outward (BFS), and iterating
(GPS-inspired, per the reference's header comment at KMeans.java:66). The
reference runs seed-selection supersteps, BFS-growth supersteps, and
edge-crossing counts; we reproduce the same three phases declaratively:

1. **Seeding**: k deterministic seeds — the top-degree vertex of each of k
   hash strata (a degree-weighted analogue of the reference's random center
   pick, but reproducible).
2. **Growth**: synchronous BFS rounds; each unassigned vertex adopts the
   cluster of an assigned neighbour, tie-breaking toward the *currently
   smallest* cluster (driver-observed sizes) then the smallest cluster id —
   the balance heuristic standing in for the reference's swap phase.
3. **Metrics**: `edge_crossings` — the reference's objective
   (KMeans.java:79,195-202) as one join+filter aggregation.

Unreached vertices (disconnected from every seed, or still unassigned
after ``max_rounds`` — growth does not raise) fall back to
``pmod(xxhash64(vid), k)``. Deterministic end-to-end.

Growth and refinement run on ``plans.superstep.SuperstepLoop``: each round
is one frontier⋈edges shuffle (frontier shrinks as assignment saturates)
and one checkpoint job that also observes the k cluster sizes the next
round's tie-break broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.superstep import (
    StepResult, SuperstepLoop, observed_checkpoint,
)


def _undirected(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def kmeans_partition(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 30,
    refine_rounds: int = 3,
    id_strata: bool = False,
) -> DataFrame:
    """Return ``(vid long, cluster int)`` covering every vertex.

    ``id_strata`` swaps the xxhash64 stratum/fallback for ``pmod(vid, k)``
    — same algorithm, but with a DuckDB-expressible seed so the oracle gate
    can replay every growth and refine round as unrolled SQL CTEs (xxhash64
    has no DuckDB twin; the mod-k variant is the same trick meta_graph uses).
    ``max_rounds=0`` / ``refine_rounds=0`` skip growth / refinement.
    """
    stratum_of = (
        (lambda c: F.pmod(c, F.lit(k)))
        if id_strata
        else (lambda c: F.pmod(F.xxhash64(c), F.lit(k)))
    )
    # cluster sizes for the next round's tie-break, observed per checkpoint
    size_agg = F.array(*[F.count_if(F.col("cluster") == c) for c in range(k)])

    def size_of(c):
        return F.element_at(F.array(*[F.lit(n) for n in sizes]), c + 1)

    und = _undirected(edges).persist()
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))

    # phase 1 — deterministic seeds: max-degree vertex per hash stratum,
    # ties broken by vid (KMeans.java seed supersteps, reproducibly)
    seeds = (
        deg.withColumn("stratum", stratum_of(F.col("src")).cast("int"))
        .groupBy("stratum")
        .agg(F.max(F.struct("deg", F.col("src").alias("vid"))).alias("m"))
        .select(F.col("m.vid").alias("vid"), F.col("stratum").alias("cluster"),
                F.lit(True).alias("fresh"))
    )
    labels, sizes = observed_checkpoint(seeds, size_agg)

    def grow(labels: DataFrame, _i: int) -> StepResult:
        # unassigned neighbours of the frontier (last round's fresh rows)
        # adopt the smallest candidate cluster (balance heuristic)
        nonlocal sizes
        newly = (
            labels.filter("fresh").join(und, F.col("vid") == und.src)
            .select(F.col("dst").alias("vid"), "cluster")
            .join(labels.select(F.col("vid").alias("a_vid")),
                  F.col("vid") == F.col("a_vid"), "left_anti")
            .withColumn("sz", size_of(F.col("cluster")))
            .groupBy("vid")
            .agg(F.min(F.struct("sz", "cluster")).alias("m"))
            .select("vid", F.col("m.cluster").alias("cluster"), F.lit(True).alias("fresh"))
        )
        labels, grown = observed_checkpoint(
            labels.withColumn("fresh", F.lit(False)).unionByName(newly), size_agg
        )
        converged, sizes = sum(grown) == sum(sizes), grown
        return StepResult(labels, converged)

    if max_rounds > 0:
        labels = SuperstepLoop(
            spark, max_iter=max_rounds, name="kmeans_partition growth"
        ).run(labels, grow).state

    # fall back for vertices unreachable from every seed; build the universe
    # from the RAW edges so self-loop-only vertices stay covered
    allv = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    rest = allv.join(labels, "vid", "left_anti").select(
        "vid", stratum_of(F.col("vid")).cast("int").alias("cluster")
    )
    out, sizes = observed_checkpoint(
        labels.select("vid", "cluster").unionByName(rest), size_agg
    )

    # refinement — the analogue of the reference's swap phase
    # (KMeans.java iterated improvement): each vertex synchronously adopts
    # its neighbourhood's majority cluster, ties broken toward the smaller
    # then lower-id cluster; repairs regions the seed growth never reached
    def refine(out: DataFrame, _i: int) -> StepResult:
        nonlocal sizes
        neigh = (
            out.withColumnRenamed("vid", "nv")
            .join(und, F.col("nv") == und.src)
            .groupBy(F.col("dst").alias("vid"), "cluster")
            .agg(F.count("*").alias("votes"))
            .withColumn("sz", size_of(F.col("cluster")))
            .groupBy("vid")
            .agg(
                F.max(
                    F.struct(
                        "votes",
                        (-F.col("sz")).alias("neg_sz"),
                        (-F.col("cluster")).alias("neg_c"),
                    )
                ).alias("m")
            )
            .select("vid", (-F.col("m.neg_c")).cast("int").alias("cluster"))
        )
        out, sizes = observed_checkpoint(
            out.withColumnRenamed("cluster", "old").join(neigh, "vid", "left")
            .select("vid", F.coalesce("cluster", "old").alias("cluster")),
            size_agg,
        )
        return StepResult(out, False)

    if refine_rounds > 0:
        out = SuperstepLoop(
            spark, max_iter=refine_rounds, name="kmeans_partition refine"
        ).run(out, refine).state

    und.unpersist()
    return out


def edge_crossings(edges: DataFrame, labels: DataFrame) -> int:
    """The reference's objective (KMeans.java:79,195-202): #edges whose
    endpoints land in different clusters."""
    la = labels.select(F.col("vid").alias("src"), F.col("cluster").alias("ca"))
    lb = labels.select(F.col("vid").alias("dst"), F.col("cluster").alias("cb"))
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .join(la, "src")
        .join(lb, "dst")
        .filter(F.col("ca") != F.col("cb"))
        .count()
    )
