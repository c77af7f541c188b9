"""KMeans graph partitioning (KMeans.java:66-614 semantics): full coverage,
determinism, rough balance, and crossings below the random-assignment
baseline."""

from collections import Counter, defaultdict

import pyspark.sql.functions as F

from goffish_v3_spark.operators.kmeans_partition import edge_crossings, kmeans_partition
from tests.graphs import barabasi_albert, chain, disjoint_cliques, to_df


def test_covers_all_vertices_and_valid_clusters(spark):
    edges = barabasi_albert(150, m=3, seed=4)
    df = to_df(spark, edges)
    labels = kmeans_partition(spark, df, k=4)
    nv = (
        df.select(F.col("src").alias("v"))
        .unionByName(df.select(F.col("dst").alias("v")))
        .distinct()
        .count()
    )
    rows = labels.collect()
    assert len(rows) == nv
    assert len({r.vid for r in rows}) == nv
    assert all(0 <= r.cluster < 4 for r in rows)


def test_deterministic(spark):
    df = to_df(spark, barabasi_albert(100, m=2, seed=9))
    a = sorted((r.vid, r.cluster) for r in kmeans_partition(spark, df, k=3).collect())
    b = sorted((r.vid, r.cluster) for r in kmeans_partition(spark, df, k=3).collect())
    assert a == b


def test_clusters_respect_structure(spark):
    # 4 disjoint 8-cliques with k=4: zero crossings is achievable and the
    # BFS growth from per-stratum seeds should land well below random (~75%)
    edges = disjoint_cliques(4, 8)
    df = to_df(spark, edges)
    labels = kmeans_partition(spark, df, k=4)
    x = edge_crossings(df, labels)
    total = df.count()
    assert x / total < 0.5


def test_beats_random_on_scale_free(spark):
    edges = barabasi_albert(200, m=2, seed=7)
    df = to_df(spark, edges)
    labels = kmeans_partition(spark, df, k=4)
    x = edge_crossings(df, labels)
    random_labels = (
        df.select(F.col("src").alias("v"))
        .unionByName(df.select(F.col("dst").alias("v")))
        .distinct()
        .select(F.col("v").alias("vid"), F.pmod(F.xxhash64("v"), F.lit(4)).cast("int").alias("cluster"))
    )
    xr = edge_crossings(df, random_labels)
    assert x < xr


def test_self_loop_singleton_covered(spark):
    df = to_df(spark, [(1, 2), (5, 5)])
    labels = kmeans_partition(spark, df, k=2)
    vids = {r.vid for r in labels.collect()}
    assert vids == {1, 2, 5}


def _growth_replay(edges, k, max_rounds):
    """Python replay of seeding + growth + mod-k fallback (id_strata=True):
    the kmeans_partition result without refinement."""
    adj = defaultdict(set)
    verts = set()
    for a, b in edges:
        verts |= {a, b}
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    labels = {}
    for s in range(k):
        stratum = [(len(adj[v]), v) for v in adj if v % k == s]
        if stratum:
            labels[max(stratum)[1]] = s
    frontier = dict(labels)
    for _ in range(max_rounds):
        sizes = Counter(labels.values())
        cand = {}
        for v, c in frontier.items():
            for u in adj[v]:
                if u not in labels:
                    cand[u] = min(cand.get(u, (sizes[c], c)), (sizes[c], c))
        if not cand:
            break
        frontier = {u: c for u, (_, c) in cand.items()}
        labels.update(frontier)
    return {v: labels.get(v, v % k) for v in verts}


def test_refine_rounds_zero_is_growth_plus_fallback(spark):
    # a triangle no seed reaches takes the fallback cluster
    edges = barabasi_albert(80, m=2, seed=5) + [(200, 201), (201, 202), (202, 200)]
    got = kmeans_partition(spark, to_df(spark, edges), k=3, refine_rounds=0, id_strata=True)
    assert {r.vid: r.cluster for r in got.collect()} == _growth_replay(edges, 3, 30)


def test_growth_cap_falls_back_without_error(spark):
    # chain 0..11, k=2 mod strata: seeds 10 (cluster 0) and 9 (cluster 1);
    # two growth rounds reach 11, 8 and 7, vertices 0..6 are further than
    # max_rounds hops from both seeds and take vid % 2
    got = kmeans_partition(
        spark, to_df(spark, chain(12)), k=2, max_rounds=2, refine_rounds=0, id_strata=True
    )
    want = {v: v % 2 for v in range(7)} | {7: 1, 8: 1, 9: 1, 10: 0, 11: 0}
    assert {r.vid: r.cluster for r in got.collect()} == want
    assert want == _growth_replay(chain(12), 2, 2)
