"""Triangle counting vs closed forms and the oracle."""

from math import comb

from goffish_v3_spark.operators.triangles import (
    triangle_count,
    triangles_per_vertex,
)
from tests import graphs
from tests.oracles import triangle_oracle, triangles_per_vertex_oracle


def test_clique_closed_form(spark):
    for k in (5, 10):
        df = graphs.to_df(spark, graphs.clique(k))
        assert triangle_count(df) == comb(k, 3)


def test_chain_has_none(spark):
    df = graphs.to_df(spark, graphs.chain(30))
    assert triangle_count(df) == 0


def test_ba_vs_oracle(spark):
    edges = graphs.barabasi_albert(150, m=3)
    df = graphs.to_df(spark, edges)
    assert triangle_count(df) == triangle_oracle(edges)


def test_per_vertex_counts(spark):
    edges = graphs.barabasi_albert(100, m=3)
    df = graphs.to_df(spark, edges)
    got = {r.vid: r.triangles for r in triangles_per_vertex(df).collect()}
    assert got == triangles_per_vertex_oracle(edges)


def test_direction_insensitive(spark):
    """Directed edges in either orientation count the same triangles."""
    edges = graphs.clique(6)
    flipped = [(v, u) for u, v in edges]
    assert triangle_count(graphs.to_df(spark, flipped)) == comb(6, 3)


def test_triangle_count_leaves_no_persisted_tables(spark):
    """triangles() must not leak a cached table per call (VERDICT r4 #2): no
    RDD persisted during triangle_count is still persisted after it returns.
    Ids, not counts: Spark's cleaner may unpersist earlier tests' dropped
    RDDs at any time, which a count would read as a change."""
    df = graphs.to_df(spark, graphs.clique(8))

    def persisted():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    before = persisted()
    assert triangle_count(df) == comb(8, 3)
    assert not persisted() - before


def test_degree_orientation_matches_id(spark):
    """The hub-proof degree orientation (wedge-count guard) finds exactly
    the same triangle set as the id orientation."""
    from goffish_v3_spark.operators.triangles import triangles

    edges = graphs.barabasi_albert(150, m=3)
    df = graphs.to_df(spark, edges)
    tid = sorted((r.u, r.v, r.w) for r in triangles(df, orientation="id").collect())
    tdeg = sorted(
        (r.u, r.v, r.w) for r in triangles(df, orientation="degree").collect()
    )
    assert tid == tdeg
    assert triangle_count(df) == triangle_oracle(edges)  # auto default


def test_auto_guard_picks_degree_on_mid_id_hub(spark):
    """A mid-id-range hub makes id-oriented wedges quadratic ((d/2)² at one
    key); the auto guard must detect it via the cheap wedge-count probe and
    route through degree orientation — whose wedge count stays linear-ish."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.triangles import (
        AUTO_HUB_WEDGE_LIMIT_FACTOR,
        _degree_oriented,
        _degree_wedge_count,
        _id_wedge_stats,
        oriented_edges,
        wedge_count,
    )

    n, hub = 2000, 1000
    ring = [(i, (i + 1) % n) for i in range(n)]
    star = [(hub, x) for x in range(n) if x != hub]
    df = graphs.to_df(spark, ring + star)
    o = oriented_edges(df)
    m = o.count()
    idw, maxw, m_probe = _id_wedge_stats(o)
    assert m_probe == m  # the probe's edge count is the table's
    dw = _degree_wedge_count(_degree_oriented(o))
    assert maxw > AUTO_HUB_WEDGE_LIMIT_FACTOR * m  # guard trips (hub key)
    assert dw <= 4 * m  # degree path stays linear-ish
    assert wedge_count(df, "id") == idw
    assert wedge_count(df, "degree") == dw
    # and the auto answer is still exact
    got = triangle_count(df)
    assert got == triangle_oracle(ring + star)


def test_skewed_fixture_deterministic_and_skewed(spark):
    from pyspark.sql import functions as F

    from goffish_v3_spark.sources.synthetic import generate_skewed_edges

    a = generate_skewed_edges(spark, n_edges=20_000, n_vertices=2_000)
    b = generate_skewed_edges(spark, n_edges=20_000, n_vertices=2_000)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    deg = (
        a.select(F.col("src").alias("x"))
        .unionAll(a.select(F.col("dst").alias("x")))
        .groupBy("x")
        .count()
    )
    top, med = deg.agg(F.max("count"), F.median("count")).collect()[0]
    assert top > 50 * med  # genuinely skewed
    # the heavy vertex sits mid-id-range (the id-orientation adversary)
    hub = deg.orderBy(F.desc("count")).first().x
    assert 0.3 * 2000 < hub < 0.7 * 2000


def test_orientation_validation(spark):
    import pytest

    from goffish_v3_spark.operators.triangles import triangles

    df = graphs.to_df(spark, graphs.clique(5))
    with pytest.raises(ValueError, match="orientation"):
        triangles(df, orientation="nope")


def test_local_clustering_coefficient(spark):
    """Triangle {1,2,3} + pendant 3-4: closed-form lcc per vertex."""
    from goffish_v3_spark.operators.triangles import local_clustering_coefficient

    df = graphs.to_df(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    got = {
        r.vid: (r.deg, r.lcc)
        for r in local_clustering_coefficient(df).collect()
    }
    assert got == {1: (2, 1.0), 2: (2, 1.0), 3: (3, 1 / 3), 4: (1, 0.0)}


def test_lcc_clique_all_one(spark):
    from goffish_v3_spark.operators.triangles import local_clustering_coefficient

    rows = local_clustering_coefficient(
        graphs.to_df(spark, graphs.clique(6))
    ).collect()
    assert len(rows) == 6
    assert all(r.deg == 5 and r.lcc == 1.0 for r in rows)


def test_edge_jaccard_closed_forms(spark):
    """Clique(4): every edge has cn=2, jaccard=2/(3+3-2)=0.5.
    Pendant-triangle: per-edge closed forms incl. a zero-cn edge."""
    from goffish_v3_spark.operators.triangles import edge_jaccard

    k4 = edge_jaccard(graphs.to_df(spark, graphs.clique(4))).collect()
    assert len(k4) == 6
    assert all(r.cn == 2 and r.jaccard == 0.5 for r in k4)

    pend = graphs.to_df(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    got = {(r.u, r.v): (r.cn, r.jaccard) for r in edge_jaccard(pend).collect()}
    assert got == {
        (1, 2): (1, 1 / 3),
        (1, 3): (1, 0.25),
        (2, 3): (1, 0.25),
        (3, 4): (0, 0.0),
    }


def test_auto_orientation_probes_in_one_job(spark):
    """``orientation="auto"`` reads the edge count and the wedge maximum
    from ONE aggregate. Jobs per ``triangle_count(df, "auto")`` on BA(60, 2,
    seed 3), local[4], 4 shuffle partitions, AQE on (its shuffle stages run
    as jobs of their own): 11, measured twice — 5 for the id-oriented count
    itself plus 6 for the probe. A separate ``count()`` of the oriented
    edges before the probe made it 14."""
    from tests.test_subgraph_pagerank import _job_ids

    edges = graphs.barabasi_albert(60, m=2, seed=3)
    got, jobs = _job_ids(
        spark, "triangles_auto", lambda: triangle_count(graphs.to_df(spark, edges), "auto")
    )
    assert got == triangle_oracle(edges)
    assert len(jobs) <= 11, len(jobs)
