"""WCC: exact canonical labels vs oracle + partition invariance, on both
meta paths: one task (budget at its default) and distributed Boruvka rounds
(``CONSOLIDATE_BUDGET_BYTES`` forced to 0)."""

import time
from contextlib import contextmanager
from unittest import mock

import numpy as np
import pandas as pd
import pytest

from goffish_v3_spark.operators.wcc import _local_components, wcc
from goffish_v3_spark.plans import block_cache
from tests import graphs
from tests.oracles import wcc_oracle

BUDGETS = ("default", "zero")


@contextmanager
def meta_budget(budget):
    """The one-task budget at its default, or forced to 0 (``"zero"``), which
    sends the components meta phase down its distributed rounds."""
    if budget == "default":
        yield
    else:
        with mock.patch.object(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0):
            yield


def _check(spark, edges, num_parts=4, budgets=BUDGETS):
    df = graphs.to_df(spark, edges)
    want = wcc_oracle(edges)
    for b in budgets:
        with meta_budget(b):
            got = {r.vid: r.label for r in wcc(spark, df, num_parts=num_parts).collect()}
        assert got == want, b


def test_chain(spark):
    _check(spark, graphs.chain(50))


def test_disjoint_cliques(spark):
    edges = graphs.disjoint_cliques(10, 6)
    _check(spark, edges)
    df = graphs.to_df(spark, edges)
    for b in BUDGETS:
        with meta_budget(b):
            labels = wcc(spark, df, num_parts=4)
        assert labels.select("label").distinct().count() == 10, b


def test_two_islands_with_and_without_bridge(spark):
    withb = graphs.two_islands_bridge()
    _check(spark, withb)
    without = [e for e in withb if e != (19, 1000)]
    df = graphs.to_df(spark, without)
    for b in BUDGETS:
        with meta_budget(b):
            labels = wcc(spark, df, num_parts=4)
        assert labels.select("label").distinct().count() == 2, b


def test_barabasi_albert(spark):
    _check(spark, graphs.barabasi_albert(300, m=2))


def test_partition_count_invariance(spark):
    """north_rule / SURVEY §5.2: identical results at 2, 4, 8 partitions."""
    edges = graphs.two_islands_bridge() + graphs.disjoint_cliques(3, 5)
    df = graphs.to_df(spark, edges)
    results = []
    for b in BUDGETS:
        for p in (2, 4, 8):
            with meta_budget(b):
                results.append(
                    sorted((r.vid, r.label) for r in wcc(spark, df, num_parts=p).collect())
                )
    assert all(r == results[0] for r in results)


def test_ids_near_2_pow_62(spark):
    """Labels near 2^62 (xxhash64-range ids): summing two of them overflows
    a long, which raised ARITHMETIC_OVERFLOW under ANSI mode when the old
    hash-min convergence check summed roots."""
    base = 2**62
    edges = [(base + u, base + v) for u, v in graphs.chain(40) + graphs.disjoint_cliques(3, 5)]
    _check(spark, edges)


def test_hash_min_raises_without_convergence(spark):
    """``max_iter`` caps the meta phase's distributed Boruvka rounds. The
    path visits its vertices out of id order: Boruvka merges a path of
    increasing labels in one round."""
    order = [i * 17 % 50 for i in range(50)]
    df = graphs.to_df(spark, list(zip(order[:-1], order[1:])))
    with meta_budget("zero"), pytest.raises(RuntimeError, match="did not converge"):
        wcc(spark, df, num_parts=4, max_iter=1)


@pytest.mark.parametrize("budget", BUDGETS)
def test_max_iter_below_one_raises(spark, budget):
    df = graphs.to_df(spark, graphs.chain(10))
    with meta_budget(budget), pytest.raises(ValueError, match="max_iter"):
        wcc(spark, df, num_parts=4, max_iter=0)


def test_local_components_permuted_path_is_fast():
    """Roots hook, not vertices: a 100,000-vertex path in random vertex
    order takes O(log V) rounds (vertex hooking took ~n/2 rounds, 91 s)."""
    n = 100_000
    order = np.random.default_rng(7).permutation(n).astype(np.int64)
    t0 = time.monotonic()
    got = _local_components(pd.DataFrame({"src": order[:-1], "dst": order[1:]}))
    assert time.monotonic() - t0 < 10
    # one component: the oracle labels every vertex with the min vid, 0
    assert sorted(got.vid) == list(range(n))
    assert (got.label == 0).all()
