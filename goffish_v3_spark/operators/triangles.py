"""Triangle counting — ordered-orientation self-joins.

Semantics: sample-hama TriangleCount.java:74-392 and the Giraph variant
(giraph examples SubgraphTriangleCount.java:54-212): the graph is treated as
undirected, each triangle counted once via the ordered triple
``vid1 < vid2 < vid3`` (the reference's dedup predicate at :102-104).

The reference spends 3 supersteps of hand-packed messaging (wedge queueing →
wedge extension → closure probing, TriangleCount.java:88-249). In Spark the
same computation is two self-joins over the oriented edge set — Catalyst
plans them as shuffled hash/sort-merge joins with both sides partitioned on
the join key, which *is* the wedge routing, minus the custom byte packing
(ByteArrayHelper.java is subsumed by Tungsten/Arrow, SURVEY.md §4 P4):

    e   = undirected edges oriented src<dst (each pair once)
    wedge(u,v,w)   : e(u,v) ⋈ e(v,w)          -- u<v<w by construction
    triangle       : wedge semi-join e(u,w)

Scale note — the wedge join is THE quadratic-risk operator in this engine
(wedges ∝ Σ per-key fan-in × fan-out; a mid-id-range hub of degree d
contributes ~(d/2)² wedges under id orientation). Two defenses, both here:

- ``orientation="degree"`` orients every edge from its lower-(degree, id)
  endpoint to the higher one; each triangle then has exactly one vertex with
  two out-edges, and per-vertex out-degree is bounded by O(sqrt(m)) for any
  graph, so wedges ≤ m^1.5 worst-case and ≈ m·avg_deg typically — hubs
  contribute ZERO wedges (all their edges point into them). Costs one degree
  aggregation + two degree joins more than the id path.
- ``orientation="auto"`` (default) measures the id-oriented wedge count with
  a cheap O(m) aggregate (never materializing wedges) and falls back to
  degree orientation when it is explosive — the wedge-count guard
  (VERDICT r4 #9). Callers that know their degree distribution can pin
  "id" (uniform-ish graphs, 2-exchange plan) or "degree" (skewed graphs)
  and skip the probe jobs.

Per-vertex counts explode each triangle's three corners and aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# auto mode: switch to degree orientation when ONE wedge-join key would
# produce more wedges than the whole edge count — a single SMJ task holding
# more work than the entire linear pass is the hub/quadratic signature
# (a vertex of degree ~2·sqrt(m) split across its id sits exactly at this
# boundary, the classic orientation threshold). Total wedge volume alone is
# NOT a skew signal: a uniform graph with avg degree d legitimately makes
# ~m·d/4 wedges spread evenly, and the degree path would produce a similar
# volume while paying two extra degree joins (measured: copart sf0.1 id
# 6 s vs degree 17 s at ~equal wedge counts).
AUTO_HUB_WEDGE_LIMIT_FACTOR = 1  # max per-key wedges > factor × m → degree


def oriented_edges(edges: DataFrame, partition_into: int | None = None) -> DataFrame:
    """Undirected edge set, canonical orientation u<v, deduped.

    With ``partition_into`` the dedup rides a single repartition-by-u
    exchange (HashPartitioning(u) satisfies the (u,v) dedup's clustering —
    the one-exchange layout shared with the pagerank/sssp/lpa setups) and
    the output stays hash-partitioned on u for the caller's joins."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    o = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )
    if partition_into is None:
        return o.distinct()
    return o.repartition(partition_into, "u").dropDuplicates(["u", "v"])


def _degree_oriented(o: DataFrame) -> DataFrame:
    """Re-orient id-oriented pairs from the lower-(degree, id) endpoint:
    ``(a, b, db)`` with key(a) < key(b) under key(x) = (deg(x), x); ``db``
    (= deg(b)) rides along so the wedge stage can order wedge endpoints by
    the same key without re-joining degrees."""
    deg = (
        o.select(F.col("u").alias("x"))
        .unionAll(o.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        o.join(deg.select(F.col("x").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )


def _id_wedge_stats(o: DataFrame) -> tuple[int, int, int]:
    """``(total, max_per_key, m)`` id-oriented wedge-join output size
    WITHOUT materializing it, plus the edge count: per key x the join emits
    (#edges with v=x) × (#edges with u=x) rows, and every edge has one v,
    so m = Σ #edges with v=x over the left join's keys — one O(m)
    aggregate."""
    as_v = o.groupBy(F.col("v").alias("x")).agg(F.count("*").alias("n1"))
    as_u = o.groupBy(F.col("u").alias("x")).agg(F.count("*").alias("n2"))
    row = as_v.join(as_u, "x", "left").agg(
        F.sum(F.col("n1") * F.col("n2")).alias("w"),
        F.max(F.col("n1") * F.col("n2")).alias("mx"),
        F.sum("n1").alias("m"),
    ).collect()[0]
    return int(row.w or 0), int(row.mx or 0), int(row.m or 0)


def _id_wedge_count(o: DataFrame) -> int:
    return _id_wedge_stats(o)[0]


def _degree_wedge_count(do: DataFrame) -> int:
    """Degree-oriented wedge count: Σ_a C(outdeg(a), 2)."""
    row = (
        do.groupBy("a")
        .agg(F.count("*").alias("od"))
        .agg((F.sum(F.col("od") * (F.col("od") - 1)) / 2).alias("w"))
        .collect()[0]
    )
    return int(row.w or 0)


def wedge_count(edges: DataFrame, orientation: str = "id") -> int:
    """Size of the wedge-join intermediate under the given orientation —
    the number that decides whether a triangle job is linear-ish or
    quadratic, computed by cheap aggregation (never materializing wedges)."""
    o = oriented_edges(edges)
    if orientation == "id":
        return _id_wedge_count(o)
    if orientation == "degree":
        return _degree_wedge_count(_degree_oriented(o))
    raise ValueError(f"orientation must be 'id' or 'degree', got {orientation!r}")


def _triangles_id(e: DataFrame) -> DataFrame:
    """Two self-joins over id-oriented pairs. The table is hash-partitioned
    on ``u``: the wedge join's e2 side (joined on its u, renamed v) and the
    closure join's edge side (keys (cu, cw) ⊇ {cu}) both reuse that
    partitioning, so of the five edge/wedge-table exchanges the naive plan
    pays only two remain — e1 into the wedge join and the wedges into the
    closure. The three uses of ``e`` share one canonical repartition
    exchange (exchange reuse; no persist — a persist here leaked cached
    tables for the session lifetime, VERDICT r4 #2)."""
    e1 = e.alias("e1")
    e2 = e.select(F.col("u").alias("v"), F.col("v").alias("w")).alias("e2")
    wedges = e1.join(e2, "v").select("u", "v", "w")
    return wedges.join(
        e.select(F.col("u").alias("cu"), F.col("v").alias("cw")),
        (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
        "left_semi",
    )


def _triangles_degree(o: DataFrame) -> DataFrame:
    """Wedge at the triangle's lowest-(degree, id) corner: both out-edges
    (a,b),(a,c) self-join on a; the endpoint pair is kept in key order
    (db,b) < (dc,c), which is exactly how the closing edge {b,c} is stored
    in the oriented table, so the closure is one equi-semi-join. Output
    re-sorted to the reference's vid1<vid2<vid3 triple."""
    do = _degree_oriented(o)
    t1 = do.alias("t1")
    t2 = do.select(
        F.col("a").alias("a2"), F.col("b").alias("c"), F.col("db").alias("dc")
    ).alias("t2")
    wedges = (
        t1.join(t2, F.col("a") == F.col("a2"))
        .filter(
            (F.col("db") < F.col("dc"))
            | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
        )
        .select("a", "b", "c")
    )
    closed = wedges.join(
        do.select(F.col("a").alias("pb"), F.col("b").alias("pc")),
        (F.col("b") == F.col("pb")) & (F.col("c") == F.col("pc")),
        "left_semi",
    )
    t = closed.select(F.array_sort(F.array("a", "b", "c")).alias("t"))
    return t.select(
        F.col("t")[0].alias("u"), F.col("t")[1].alias("v"), F.col("t")[2].alias("w")
    )


def triangles(edges: DataFrame, orientation: str = "auto") -> DataFrame:
    """All triangles as ``(u, v, w)`` with u<v<w, each exactly once.

    ``orientation``: "id" (2-exchange plan, right for uniform-ish degree),
    "degree" (hub-proof, wedges ≤ m^1.5), or "auto" (default — probe the
    per-key wedge maximum with one aggregate and switch to degree when a
    single key would out-produce the whole edge table, the wedge-count
    guard)."""
    if orientation not in ("id", "degree", "auto"):
        raise ValueError(
            f"orientation must be 'id', 'degree' or 'auto', got {orientation!r}"
        )
    n_shuffle = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    e = oriented_edges(edges, partition_into=n_shuffle)
    if orientation == "auto":
        _, maxw, m = _id_wedge_stats(e)
        orientation = (
            "id" if maxw <= AUTO_HUB_WEDGE_LIMIT_FACTOR * max(m, 1) else "degree"
        )
    if orientation == "id":
        return _triangles_id(e)
    return _triangles_degree(e)


def triangle_count(edges: DataFrame, orientation: str = "auto") -> int:
    """Global triangle count (reference's aggregate subgraph value,
    TriangleCount.java:252)."""
    return triangles(edges, orientation=orientation).count()


def triangle_count_df(edges: DataFrame, orientation: str = "auto") -> DataFrame:
    """Global count as a 1-row DataFrame ``(triangles long)`` for oracles."""
    return triangles(edges, orientation=orientation).agg(
        F.count("*").alias("triangles")
    )


def triangles_per_vertex(edges: DataFrame, orientation: str = "auto") -> DataFrame:
    """``(vid long, triangles long)`` — per-vertex incident triangle count."""
    t = triangles(edges, orientation=orientation)
    corners = (
        t.select(F.col("u").alias("vid"))
        .unionAll(t.select(F.col("v").alias("vid")))
        .unionAll(t.select(F.col("w").alias("vid")))
    )
    return corners.groupBy("vid").agg(F.count("*").alias("triangles"))


def edge_jaccard(edges: DataFrame, orientation: str = "auto") -> DataFrame:
    """``(u long, v long, cn long, jaccard double)`` per undirected edge:
    common-neighbor count and neighborhood Jaccard — the link-prediction /
    graph-dedup primitive. Convention matches networkx
    ``jaccard_coefficient`` restricted to existing edges: open
    neighborhoods, so for an edge the union contains both endpoints and
    ``jaccard = cn / (deg(u) + deg(v) − cn)`` (denominator ≥ 2 always —
    never a zero divisor).

    The common-neighbor count of an edge IS its triangle count, so this
    rides the same hub-guarded enumeration as `triangles` (auto orientation
    keeps the wedge join sub-quadratic on skewed graphs) instead of the
    naive N(u)⋈N(v) neighborhood self-join, whose intermediate is Σ deg²
    with no orientation defense. cn and both degrees are exact integers;
    the single double division is IEEE-deterministic (oracle-hash-exact).
    """
    o = oriented_edges(edges)
    deg = (
        o.select(F.col("u").alias("x"))
        .unionAll(o.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    t = triangles(edges, orientation=orientation)
    tri_edges = (
        t.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(t.select(F.col("u").alias("a"), F.col("w").alias("b")))
        .unionAll(t.select(F.col("v").alias("a"), F.col("w").alias("b")))
    )
    cn = tri_edges.groupBy("a", "b").agg(F.count("*").alias("cn"))
    j = (
        o.join(cn, (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")), "left")
        .select("u", "v", F.coalesce(F.col("cn"), F.lit(0)).alias("cn"))
        .join(deg.select(F.col("x").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("deg").alias("dv")), "v")
    )
    return j.select(
        "u",
        "v",
        "cn",
        (
            F.col("cn").cast("double")
            / (F.col("du") + F.col("dv") - F.col("cn"))
        ).alias("jaccard"),
    )


def local_clustering_coefficient(
    edges: DataFrame, orientation: str = "auto"
) -> DataFrame:
    """``(vid long, deg long, lcc double)`` — per-vertex local clustering
    coefficient ``2·tri(v) / (deg(v)·(deg(v)−1))`` over the undirected
    deduped edge set (deg < 2 ⇒ 0.0). The natural per-vertex companion to
    the reference's global TriangleCount aggregate
    (sample-hama TriangleCount.java:252): same triangle enumeration, joined
    back to undirected degree.

    Determinism note: both factors are exact integers (triangle count,
    degree); the single double division is IEEE-deterministic, so the DuckDB
    oracle reproduces the value bit-for-bit — no float-accumulation order
    dependence anywhere.
    """
    o = oriented_edges(edges)
    deg = (
        o.select(F.col("u").alias("vid"))
        .unionAll(o.select(F.col("v").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangles_per_vertex(edges, orientation=orientation)
    lcc = F.when(
        F.col("deg") >= 2,
        2.0
        * F.coalesce(F.col("triangles"), F.lit(0))
        / (F.col("deg") * (F.col("deg") - 1)),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "vid", "left").select("vid", "deg", lcc.alias("lcc"))
