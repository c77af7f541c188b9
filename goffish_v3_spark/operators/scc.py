"""Strongly connected components: FW-BW-Trim coloring on directed graphs.

The directed companion of :mod:`.wcc` (the reference ships only the
undirected ConnectedComponents, ConnectedComponents.java:45-122; SCC is
the north-star graph's missing cycle detector — a nontrivial SCC in a
file-dependency graph IS a circular-import group). Exact algorithm, the
standard distributed decomposition (Orzan's coloring / FW-BW with
trimming, as in e.g. Slota et al.):

repeat until no vertices remain:
  1. **Trim** to fixpoint: a vertex with no incoming or no outgoing
     active edge cannot sit on a cycle — it is its own SCC. This peels
     the DAG-ish bulk in cheap semi-join passes (most real dependency
     graphs are mostly acyclic).
  2. **Forward color** to fixpoint: ``color(u) = max id that reaches u``
     by max-propagation along edges. Roots are ``color(r) = r``.
  3. **Backward mark** within each color class: members that can reach
     their root using same-color vertices only. The marked set of color
     ``r`` is exactly SCC(r), labeled ``scc_id = r`` (= the max member:
     r reaches every member and every member's color is r, so r is the
     largest vertex mutually reachable with any of them).
  4. Remove the marked SCCs and iterate on the remainder.

Labels are therefore canonical (max member id) and the operator works
for any orderable id type — the repo graph's string keys included.

Scale shape: every step is equi-joins + groupBy-max + semi/anti-joins on
the active subgraph. The outer round and the trim, color and mark
fixpoints are :class:`~goffish_v3_spark.plans.superstep.SuperstepLoop`
steps: each round is one ``localCheckpoint`` job whose convergence count
(edges dropped, colors changed, vertices newly marked, vertices left)
rides it as an observed aggregate, so no separate ``count()`` job runs.
The label output is a union of at most two frames per outer round (the
trimmed singletons and the marked SCC), left lazy over those checkpoints.
Worst case is an anti-ordered path (O(V) outer rounds) — trimming
resolves exactly that shape in O(path/2) cheap passes instead, which is
why the trim loop runs first and to fixpoint. Honest round-count note:
forward coloring and backward marking each converge in DIAMETER rounds
of the remaining cyclic subgraph (max propagation moves one hop per
round — a single huge cycle of length L costs L rounds; there is no
pointer-jumping shortcut for directed reachability). That matches the
published FW-BW behavior; dependency graphs have short cycles, but a
pathological ring is latency-bound here exactly as it is in the
reference-class systems. ``max_outer``/``max_inner`` raise loudly
rather than silently truncate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goffish_v3_spark.plans.superstep import (
    StepResult, SuperstepLoop, observed_checkpoint,
)


def _trim(spark: SparkSession, e: DataFrame, max_inner: int):
    """Drop edges until every endpoint has an in- and an out-edge; return
    ``(edges, n_edges)``. A pass's dropped and kept counts ride its
    checkpoint."""
    n_kept = 0

    def step(e: DataFrame, _i: int) -> StepResult:
        nonlocal n_kept
        core = e.select(F.col("src").alias("v")).distinct().join(
            e.select(F.col("dst").alias("v")).distinct(), "v", "left_semi"
        )
        keep = F.col("ks").isNotNull() & F.col("kd").isNotNull()
        flagged, (dropped, n_kept) = observed_checkpoint(
            e.join(core.select(F.col("v").alias("src"), F.lit(1).alias("ks")), "src", "left")
            .join(core.select(F.col("v").alias("dst"), F.lit(1).alias("kd")), "dst", "left")
            .select("src", "dst", keep.alias("keep")),
            F.struct(F.count_if(~F.col("keep")), F.count_if(F.col("keep"))),
        )
        return StepResult(flagged.filter("keep").drop("keep"), dropped == 0)

    loop = SuperstepLoop(spark, max_iter=max_inner, name="scc trim", must_converge=True)
    return loop.run(e, step).state, n_kept


def _forward_color(spark: SparkSession, e: DataFrame, vids: DataFrame, max_inner: int):
    """``(vid, color)``: the max id reaching each vertex along ``e``. The old
    color rides the ``groupBy``, so the changed count rides the checkpoint."""

    def step(color: DataFrame, _i: int) -> StepResult:
        msgs = e.join(color.withColumnRenamed("vid", "src"), "src").select(
            F.col("dst").alias("vid"), "color", F.lit(False).alias("own")
        )
        new, changed = observed_checkpoint(
            color.withColumn("own", F.lit(True)).unionByName(msgs).groupBy("vid").agg(
                F.max("color").alias("color"),
                F.max(F.when(F.col("own"), F.col("color"))).alias("old"),
            ),
            F.count_if(F.col("color") != F.col("old")),
        )
        return StepResult(new.drop("old"), changed == 0)

    loop = SuperstepLoop(spark, max_iter=max_inner, name="scc forward coloring", must_converge=True)
    return loop.run(vids.select("vid", F.col("vid").alias("color")), step).state


def _backward_mark(spark: SparkSession, e: DataFrame, color: DataFrame, max_inner: int):
    """``(vid)``: the vertices that reach their color's root along same-color
    edges — the root's SCC."""
    ce = (
        e.join(color.select(F.col("vid").alias("src"), F.col("color").alias("cs")), "src")
        .join(color.select(F.col("vid").alias("dst"), F.col("color").alias("cd")), "dst")
        .filter(F.col("cs") == F.col("cd"))
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )

    def step(mark: DataFrame, _i: int) -> StepResult:
        new = (
            ce.join(mark.withColumnRenamed("vid", "dst"), "dst")
            .select(F.col("src").alias("vid"), F.lit(True).alias("new"))
            .distinct()
            .join(mark, "vid", "left_anti")
        )
        out, n_new = observed_checkpoint(
            mark.withColumn("new", F.lit(False)).unionByName(new), F.count_if(F.col("new"))
        )
        return StepResult(out.drop("new"), n_new == 0)

    loop = SuperstepLoop(spark, max_iter=max_inner, name="scc backward marking", must_converge=True)
    return loop.run(color.filter(F.col("vid") == F.col("color")).select("vid"), step).state


def scc(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int = 30,
    max_inner: int = 200,
) -> DataFrame:
    """``(vid, scc_id)`` — one row per vertex of ``edges(src, dst)``,
    ``scc_id`` = the MAX member id of the vertex's strongly connected
    component (canonical, partition-invariant). Ids may be any orderable
    type (long vids, the repo graph's string keys, ...)."""
    pairs = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    # vertex universe from the UNFILTERED edges: a vertex whose only edge
    # is a self-loop is still a (singleton) SCC and must get a row
    rem_v = pairs.select(F.col("src").alias("vid")).unionByName(
        pairs.select(F.col("dst").alias("vid"))
    ).distinct()
    rem_e = pairs.filter(F.col("src") != F.col("dst"))
    done: list[DataFrame] = []  # at most two label frames per outer round

    def outer(rem_v: DataFrame, _i: int) -> StepResult:
        nonlocal rem_e
        e, n_e = _trim(spark, rem_e, max_inner)
        core = e.select(F.col("src").alias("vid")).distinct()
        done.append(rem_v.join(core, "vid", "left_anti").withColumn("scc_id", F.col("vid")))
        if n_e == 0:
            return StepResult(core, True)
        color = _forward_color(spark, e, core, max_inner)
        mark = _backward_mark(spark, e, color, max_inner)
        done.append(mark.join(color, "vid").withColumnRenamed("color", "scc_id"))
        rem_v, n_v = observed_checkpoint(core.join(mark, "vid", "left_anti"), F.count(F.lit(1)))
        rem_e = e.join(rem_v.withColumnRenamed("vid", "src"), "src", "left_semi").join(
            rem_v.withColumnRenamed("vid", "dst"), "dst", "left_semi"
        )
        return StepResult(rem_v, n_v == 0)

    SuperstepLoop(
        spark, max_iter=max_outer, name="scc outer rounds", must_converge=True
    ).run(rem_v, outer)
    return reduce(DataFrame.unionByName, done)


def scc_sql(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`scc` by DEFINITION rather than by replay:
    ``scc_id(u) = max({u} ∪ {v : u↔v mutually reachable})`` over the
    recursive-CTE transitive closure — algorithm-independent ground truth
    (the Spark side's FW-BW rounds need no SQL mirror; any correct SCC
    yields the same canonical labels). ``edges_sql`` must yield columns
    ``src, dst``; closure size is O(V²) so this is the small-scale oracle
    companion, same stance as the exact meta-diameter."""
    return f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT src, dst FROM ({edges_sql})
),
e AS (SELECT src, dst FROM e0 WHERE src <> dst),
verts AS (SELECT src AS vid FROM e0 UNION SELECT dst FROM e0),
r(s, d) AS (
  SELECT src AS s, dst AS d FROM e
  UNION
  SELECT r.s, e.dst AS d FROM r JOIN e ON r.d = e.src
),
mut AS (
  SELECT a.s AS u, a.d AS v FROM r a JOIN r b ON a.s = b.d AND a.d = b.s
)
SELECT v.vid, greatest(v.vid, coalesce(max(m.v), v.vid)) AS scc_id
FROM verts v LEFT JOIN mut m ON m.u = v.vid
GROUP BY v.vid
"""


def condensation_edges(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int = 30,
    max_inner: int = 200,
) -> DataFrame:
    """``(src_scc, dst_scc)`` — the distinct edges of the condensation
    (the DAG obtained by contracting every SCC to one node, labeled by
    its max member). This is the meta-graph build-order view: a cycle-free
    dependency structure over the circular-import groups :func:`scc`
    found. One equi-join per endpoint against the label map plus a
    distinct — the same shape as the undirected meta-graph operator."""
    labels = scc(spark, edges, max_outer=max_outer, max_inner=max_inner)
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    return (
        e.join(
            labels.select(F.col("vid").alias("src"), F.col("scc_id").alias("src_scc")),
            "src",
        )
        .join(
            labels.select(F.col("vid").alias("dst"), F.col("scc_id").alias("dst_scc")),
            "dst",
        )
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


def condensation_sql(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`condensation_edges`, built on
    :func:`scc_sql`'s ground-truth labels over the same edge set."""
    return f"""
WITH labels AS (SELECT * FROM ({scc_sql(edges_sql)})),
ce0 AS (SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst)
SELECT DISTINCT la.scc_id AS src_scc, lb.scc_id AS dst_scc
FROM ce0 JOIN labels la ON ce0.src = la.vid JOIN labels lb ON ce0.dst = lb.vid
WHERE la.scc_id <> lb.scc_id
"""
