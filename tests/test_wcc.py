"""WCC: exact canonical labels vs oracle + partition invariance."""

from goffish_v3_spark.operators.wcc import wcc
from tests import graphs
from tests.oracles import wcc_oracle


def _check(spark, edges, num_parts=4):
    df = graphs.to_df(spark, edges)
    got = {r.vid: r.label for r in wcc(spark, df, num_parts=num_parts).collect()}
    want = wcc_oracle(edges)
    assert got == want


def test_chain(spark):
    _check(spark, graphs.chain(50))


def test_disjoint_cliques(spark):
    edges = graphs.disjoint_cliques(10, 6)
    _check(spark, edges)
    df = graphs.to_df(spark, edges)
    labels = wcc(spark, df, num_parts=4)
    assert labels.select("label").distinct().count() == 10


def test_two_islands_with_and_without_bridge(spark):
    withb = graphs.two_islands_bridge()
    _check(spark, withb)
    without = [e for e in withb if e != (19, 1000)]
    df = graphs.to_df(spark, without)
    labels = wcc(spark, df, num_parts=4)
    assert labels.select("label").distinct().count() == 2


def test_barabasi_albert(spark):
    _check(spark, graphs.barabasi_albert(300, m=2))


def test_partition_count_invariance(spark):
    """north_rule / SURVEY §5.2: identical results at 2, 4, 8 partitions."""
    edges = graphs.two_islands_bridge() + graphs.disjoint_cliques(3, 5)
    df = graphs.to_df(spark, edges)
    results = []
    for p in (2, 4, 8):
        results.append(
            sorted((r.vid, r.label) for r in wcc(spark, df, num_parts=p).collect())
        )
    assert results[0] == results[1] == results[2]


def test_ids_near_2_pow_62(spark):
    """Labels near 2^62 (xxhash64-range ids): summing two of them overflows
    a long, which raised ARITHMETIC_OVERFLOW under ANSI mode when the
    hash-min convergence check summed roots."""
    base = 2**62
    edges = [(base + u, base + v) for u, v in graphs.chain(40) + graphs.disjoint_cliques(3, 5)]
    _check(spark, edges)


def test_hash_min_raises_without_convergence(spark):
    import pytest

    df = graphs.to_df(spark, graphs.chain(50))
    with pytest.raises(RuntimeError, match="did not converge"):
        wcc(spark, df, num_parts=4, max_iter=1)
