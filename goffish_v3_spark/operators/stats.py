"""Graph statistics — the reference's utility programs as single-job aggs.

Covers sample-hama GraphStats.java:61-237 (global |V|, |E|, boundary
vertices, meta-graph adjacency), VertexCount.java:36-64, EdgeList.java:36-54
and MetaGraph.java:30-46. What costs the reference multiple broadcast
supersteps (SS0-1 count exchange, GraphStats.java:77-113) is one declarative
aggregation here; the meta-graph diameter probe-flood (:118-210) is served by
the SSSP operator over the meta edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.partitioner import vertex_part
from goffish_v3_spark.plans.superstep import (
    StepResult, SuperstepLoop, observed_checkpoint,
)


def vertex_count(edges: DataFrame) -> int:
    """VertexCount.java:36 — |V| over src ∪ dst."""
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
        .count()
    )


def edge_list(edges: DataFrame) -> DataFrame:
    """EdgeList.java:36 — the src/dst projection (a sink in the reference)."""
    return edges.select("src", "dst")


def degree_histogram(edges: DataFrame) -> DataFrame:
    """out-degree → #vertices (``(deg long, n_vertices long)``), the skew
    diagnostic for hub skew (SURVEY.md §4 P13)."""
    return (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .groupBy("deg")
        .agg(F.count("*").alias("n_vertices"))
    )


def graph_stats(spark: SparkSession, edges: DataFrame, num_parts: int = 32) -> dict:
    """GraphStats.java:61 — one pass of global aggregates."""
    e = edges.persist()
    nv = vertex_count(e)
    ne = e.count()
    boundary = (
        e.withColumn("sp", vertex_part(F.col("src"), num_parts))
        .withColumn("dp", vertex_part(F.col("dst"), num_parts))
        .filter(F.col("sp") != F.col("dp"))
    )
    n_boundary_edges = boundary.count()
    n_boundary_vertices = boundary.select(F.col("dst").alias("v")).union(
        boundary.select(F.col("src").alias("v"))
    ).distinct().count()
    max_out = e.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    max_in = e.groupBy("dst").count().agg(F.max("count")).collect()[0][0]
    e.unpersist()
    return {
        "vertices": nv,
        "edges": ne,
        "boundary_edges": n_boundary_edges,
        "boundary_vertices": n_boundary_vertices,
        "max_out_degree": max_out,
        "max_in_degree": max_in,
        "num_parts": num_parts,
    }


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Newman degree assortativity over the undirected deduped edge set:
    the Pearson correlation of endpoint degrees across the mirrored
    (both-directions) edge list. One row
    ``(n_directed_edges long, assortativity double)``.

    Computed from exact BIGINT moment sums (n, Σx, Σy, Σx², Σy², Σxy) with a
    single closing double expression
    ``(n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²_sum) · √(n·Σy² − Σy²_sum))`` —
    never a float accumulation — so the value is IEEE-deterministic and the
    DuckDB oracle matches bit-for-bit (the same det-twin discipline as the
    polynomial fingerprints). A k-regular graph has zero variance — the
    statistic is undefined and ``try_divide`` yields NULL (ANSI mode would
    otherwise raise on the zero divisor). Degrees are bounded by
    max-degree so the long sums hold to ~10⁹ edges at web-graph degree
    distributions; beyond that, decompose the sum per partition first.

    Complements GraphStats.java:61-237's degree extrema with the standard
    second-order mixing statistic over the same degree view.
    """
    o = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    deg = (
        o.select(F.col("u").alias("x"))
        .unionAll(o.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    mirrored = o.unionAll(o.select(F.col("v").alias("u"), F.col("u").alias("v")))
    j = mirrored.join(
        deg.select(F.col("x").alias("u"), F.col("deg").alias("ds")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("deg").alias("dt")), "v")
    s = j.agg(
        F.count("*").alias("n"),
        F.sum("ds").alias("sx"),
        F.sum("dt").alias("sy"),
        F.sum(F.col("ds") * F.col("ds")).alias("sxx"),
        F.sum(F.col("dt") * F.col("dt")).alias("syy"),
        F.sum(F.col("ds") * F.col("dt")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.try_divide(num, den).alias("assortativity"),
    )


def meta_graph(edges: DataFrame, num_parts: int, part_expr=None) -> DataFrame:
    """MetaGraph.java:30 — distinct (src_part, dst_part) pairs: the
    communication topology between partitions (reference: between
    subgraphs). ``part_expr(vid_col) -> Column`` overrides the xxhash64
    ownership function (e.g. ``pmod(vid, P)`` for an oracle-comparable
    deterministic layout)."""
    part_of = part_expr or (lambda c: vertex_part(c, num_parts))
    return (
        edges.select(
            part_of(F.col("src")).alias("src_part"),
            part_of(F.col("dst")).alias("dst_part"),
        )
        .filter(F.col("src_part") != F.col("dst_part"))
        .distinct()
    )


def meta_diameter(
    spark: SparkSession,
    edges: DataFrame,
    num_parts: int,
    part_expr=None,
) -> DataFrame:
    """GraphStats.java:118-210 — the meta-graph diameter probe/reply flood,
    as iterated all-pairs min-plus over the (tiny: ≤ num_parts nodes) meta
    edge table. Returns one row
    ``(n_meta_nodes long, n_meta_edges long, diameter long)``; unreachable
    pairs are excluded, matching the reference's reply-only flood.

    Flood round ``i`` adds exactly the pairs at distance ``i + 1``, so the
    first round that adds none is round ``diameter``; with ``n`` meta nodes
    that is at most round ``n - 1``, and the loop is capped there."""
    me, n_meta_edges = observed_checkpoint(
        meta_graph(edges, num_parts, part_expr=part_expr), F.count(F.lit(1))
    )
    und = (
        me.select(F.col("src_part").alias("a"), F.col("dst_part").alias("b"))
        .unionByName(me.select(F.col("dst_part").alias("a"), F.col("src_part").alias("b")))
        .distinct()
        .persist()
    )
    dist, n_nodes = observed_checkpoint(
        und.select(F.col("a").alias("v")).distinct()
        .select(F.col("v").alias("s"), "v", F.lit(0).alias("d")),
        F.count(F.lit(1)),
    )

    def step(dist: DataFrame, i: int) -> StepResult:
        grown = (
            dist.join(und, dist.v == und.a)
            .select("s", F.col("b").alias("v"), (F.col("d") + 1).alias("d"))
            .unionByName(dist)
            .groupBy("s", "v")
            .agg(F.min("d").alias("d"))
        )
        grown, n_new = observed_checkpoint(grown, F.count(F.when(F.col("d") == i + 1, 1)))
        return StepResult(grown, n_new == 0)

    info = SuperstepLoop(
        spark, max_iter=max(n_nodes, 1), name="meta_diameter flood", must_converge=True
    ).run(dist, step)
    und.unpersist()
    diam = info.supersteps - 1
    return spark.createDataFrame(
        [(n_nodes, n_meta_edges, diam)],
        "n_meta_nodes long, n_meta_edges long, diameter long",
    )
