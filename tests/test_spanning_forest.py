"""Spanning forest (SpanningForest.java:41-115 semantics): the output must
be an acyclic edge subset that spans every weak component, with labels
matching the WCC oracle groupings."""

import pyspark.sql.functions as F
import pytest

from goffish_v3_spark.operators.spanning_forest import spanning_forest
from tests.graphs import barabasi_albert, chain, disjoint_cliques, to_df, two_islands_bridge
from tests.oracles import wcc_oracle
from tests.test_wcc import BUDGETS, meta_budget


def _forest_props(spark, edges, num_parts, budgets=BUDGETS):
    """Check the forest on each meta path of ``budgets`` (both by default)."""
    for b in budgets:
        with meta_budget(b):
            _forest_props_once(spark, edges, num_parts)


def _forest_props_once(spark, edges, num_parts):
    df = to_df(spark, edges)
    tree, labels = spanning_forest(spark, df, num_parts=num_parts)
    trows = [(r.src, r.dst) for r in tree.collect()]
    lab = {r.vid: r.label for r in labels.collect()}
    oracle = wcc_oracle(edges)
    n_vertices = len(oracle)
    n_components = len(set(oracle.values()))
    # spanning forest edge count
    assert len(trows) == n_vertices - n_components
    assert len(set(trows)) == len(trows)
    # every tree edge is an input edge (canonicalized)
    eset = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    assert all((min(a, b), max(a, b)) in eset for a, b in trows)
    # tree-edge connectivity reproduces the component structure exactly
    tree_cc = wcc_oracle(trows, vertices=list(oracle))
    grouping = {}
    for v, l in tree_cc.items():
        grouping.setdefault(l, set()).add(v)
    oracle_grouping = {}
    for v, l in oracle.items():
        oracle_grouping.setdefault(l, set()).add(v)
    assert set(map(frozenset, grouping.values())) == set(
        map(frozenset, oracle_grouping.values())
    )
    # returned labels are canonical min-vid per component
    assert lab == oracle


@pytest.mark.parametrize("num_parts", [2, 4, 8])
def test_two_islands(spark, num_parts):
    edges = two_islands_bridge(size=15, seed=7)
    _forest_props(spark, edges, num_parts)


def test_disjoint_cliques(spark):
    _forest_props(spark, disjoint_cliques(4, 5), num_parts=4)


def test_chain(spark):
    _forest_props(spark, chain(40), num_parts=4)


def test_scale_free(spark):
    _forest_props(spark, barabasi_albert(120, m=2, seed=3), num_parts=8)


def test_bridge_flag_partition_invariant_count(spark):
    edges = barabasi_albert(80, m=3, seed=9)
    df = to_df(spark, edges)
    oracle = wcc_oracle(edges)
    expected = len(oracle) - len(set(oracle.values()))
    for b in BUDGETS:
        for p in (2, 8):
            with meta_budget(b):
                tree, _ = spanning_forest(spark, df, num_parts=p)
            assert tree.count() == expected, (b, p)


def test_self_loop_singleton_covered(spark):
    """Review finding: a vertex whose only edge is a self-loop is a real
    singleton component and must appear in labels with its own label."""
    df = to_df(spark, [(1, 2), (5, 5)])
    for b in BUDGETS:
        with meta_budget(b):
            tree, labels = spanning_forest(spark, df, num_parts=4)
        lab = {r.vid: r.label for r in labels.collect()}
        assert lab == {1: 1, 2: 1, 5: 5}, b
        assert tree.count() == 1, b


def test_duplicate_and_reversed_edges_same_forest(spark):
    """The global pre-shuffle distinct() is gone: duplicates and reversed
    copies must still yield a valid forest with identical stats (intra
    dedup is numpy-side in _local_forest; cross duplicates collapse in the
    meta contraction)."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.spanning_forest import spanning_forest
    from tests import graphs

    base = graphs.barabasi_albert(120, m=2, seed=9)
    noisy = base + [(b, a) for a, b in base] + base[::3]  # reversed + dups
    for budget in BUDGETS:
        with meta_budget(budget):
            t1, l1 = spanning_forest(spark, graphs.to_df(spark, base), num_parts=4)
            t2, l2 = spanning_forest(spark, graphs.to_df(spark, noisy), num_parts=4)
        # same component labelling
        assert {(r.vid, r.label) for r in l1.collect()} == {
            (r.vid, r.label) for r in l2.collect()
        }
        # same forest size (|V| - #components) and no duplicate tree edges
        te2 = [(r.src, r.dst) for r in t2.collect()]
        assert len(te2) == len(set(te2))
        assert t1.count() == len(te2)


def test_ids_near_2_pow_62(spark):
    """Labels near 2^62 (xxhash64-range ids) through both meta paths: the
    one-task Boruvka and the distributed rounds' pointer jumping (the old
    hash-min's root-sum witness overflowed under ANSI here)."""
    base = 2**62
    edges = [(base + u, base + v) for u, v in chain(40) + disjoint_cliques(3, 5)]
    _forest_props(spark, edges, num_parts=4)
