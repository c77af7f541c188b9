"""Graph statistics + meta-graph (GraphStats/VertexCount/MetaGraph parity)."""

import pyspark.sql.functions as F

from goffish_v3_spark.operators.stats import (
    degree_histogram,
    graph_stats,
    meta_graph,
    vertex_count,
)
from tests import graphs


def test_vertex_count(spark):
    df = graphs.to_df(spark, graphs.chain(25))
    assert vertex_count(df) == 25


def test_graph_stats_star(spark):
    df = graphs.to_df(spark, graphs.star_hub(40))
    s = graph_stats(spark, df, num_parts=4)
    assert s["vertices"] == 41
    assert s["edges"] == 40
    assert s["max_in_degree"] == 40
    assert s["max_out_degree"] == 1


def test_degree_histogram(spark):
    df = graphs.to_df(spark, graphs.star_hub(10))
    hist = {r.deg: r.n_vertices for r in degree_histogram(df).collect()}
    assert hist == {1: 10}


def test_meta_graph_nonempty(spark):
    df = graphs.to_df(spark, graphs.barabasi_albert(100, m=2))
    mg = meta_graph(df, num_parts=4)
    rows = mg.collect()
    assert len(rows) > 0
    assert all(r.src_part != r.dst_part for r in rows)


def test_meta_diameter_chain_of_partitions(spark):
    """Chain 0-1-2-...-11 with part = vid % 4 gives a meta graph where every
    partition talks to its cyclic neighbours; known tiny diameter."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.stats import meta_diameter

    df = graphs.to_df(spark, graphs.chain(12))
    row = meta_diameter(
        spark, df, num_parts=4, part_expr=lambda c: F.pmod(c, F.lit(4)).cast("int")
    ).collect()[0]
    # parts 0..3, edges (0,1),(1,2),(2,3),(3,0): a 4-cycle -> diameter 2
    assert row.n_meta_nodes == 4
    assert row.diameter == 2


def test_meta_diameter_two_components(spark):
    """Unreachable partition pairs are excluded, matching the reference's
    reply-only flood (GraphStats.java:118-210)."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.stats import meta_diameter

    # two disjoint 2-partition islands: {0,1} x part0/1, {10,11} x part2/3
    edges = [(0, 1, 1.0), (10, 11, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    part = lambda c: F.when(c < 10, F.pmod(c, F.lit(2))).otherwise(
        2 + F.pmod(c, F.lit(2))
    ).cast("int")
    row = meta_diameter(spark, df, num_parts=4, part_expr=part).collect()[0]
    assert row.n_meta_nodes == 4
    assert row.diameter == 1


def test_degree_assortativity_pendant_triangle(spark):
    """Triangle {1,2,3} + pendant 3-4: exact moments give r = -20/28."""
    from goffish_v3_spark.operators.stats import degree_assortativity

    df = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (3, 4, 1.0)],
        "src long, dst long, w double",
    )
    row = degree_assortativity(df).collect()[0]
    assert row.n_directed_edges == 8
    assert abs(row.assortativity - (-20 / 28)) < 1e-12


def test_degree_assortativity_star_is_minus_one(spark):
    """A star is perfectly disassortative: r = -1."""
    from goffish_v3_spark.operators.stats import degree_assortativity

    df = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 6)], "src long, dst long, w double"
    )
    row = degree_assortativity(df).collect()[0]
    assert abs(row.assortativity - (-1.0)) < 1e-12


def test_degree_assortativity_regular_graph_degenerate(spark):
    """Zero degree variance (4-cycle): the statistic is undefined —
    null/NaN, never a crash."""
    import math

    from goffish_v3_spark.operators.stats import degree_assortativity

    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 0, 1.0)],
        "src long, dst long, w double",
    )
    v = degree_assortativity(df).collect()[0].assortativity
    assert v is None or math.isnan(v)


def test_meta_diameter_ring_is_not_truncated(spark):
    """A 140-partition ring has diameter 70: the flood runs until a round
    adds no pair (at most n_meta_nodes rounds) instead of stopping at a
    fixed round cap."""
    from goffish_v3_spark.operators.stats import meta_diameter

    df = graphs.to_df(spark, graphs.chain(141))
    row = meta_diameter(
        spark, df, num_parts=140, part_expr=lambda c: F.pmod(c, F.lit(140))
    ).collect()[0]
    assert (row.n_meta_nodes, row.n_meta_edges, row.diameter) == (140, 140, 70)
