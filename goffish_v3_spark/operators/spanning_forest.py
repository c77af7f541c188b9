"""Spanning forest — the reference's two-level subgraph-centric design.

Semantics: sample-hama SpanningForest.java:41-115 — SS0 builds a BFS tree
inside each subgraph (``BFS()``, :81-99), then components merge across the
meta-graph by min-cid propagation like ConnectedComponents (:65-77), and
``wrapup`` emits the cross-subgraph bridge edges (:109-113). The output is a
set of edges forming a spanning tree of every weak component.

Our shape mirrors the reference's *vertex-disjoint* partitioning (every
vertex owned by exactly one partition — hama Partition.java:32; remote
vertices are only stubs), which is what keeps the union of local trees
acyclic:

1. **Partition-local forest** over intra-partition edges (both endpoints
   hash to the partition): an Arrow-batched ``applyInPandas`` kernel runs a
   fully vectorized Boruvka — per round every component picks its
   minimum-key incident cross-component edge; with globally distinct edge
   keys only mutual 2-cycles occur (both sides pick the *same* edge — the
   classic Boruvka lemma), so hook + pointer-jump contraction is pure numpy
   with no per-edge Python loop.
2. **Meta forest** (:func:`meta_forest`, also :func:`operators.wcc.wcc`'s
   meta phase): cross-partition edges are tagged with their endpoints'
   local component labels and contracted to one representative edge per
   label pair (``groupBy().agg(min(struct))``). When that meta table fits
   the one-task budget (``plans.block_cache.fits_one_task``), the same
   Boruvka kernel runs once over it in one task; above the budget it runs
   as distributed Boruvka rounds. This is the analogue of the reference's
   subgraph meta-graph; its picked edges are the output ``bridge`` rows
   (SpanningForest.java:109-113).
3. Tree = local tree edges ∪ bridges (every output row is an input edge);
   labels = min member vid per component, identical groupings to
   :func:`operators.wcc.wcc`.

At 100 TB step 1 never shuffles edge payloads (one hash shuffle to
co-locate intra edges), and only label-pair representatives cross the
cluster for step 2 — to one task while they fit it, whose choice between
one task and staying partitioned is the trade-off of *To Partition, or Not
to Partition* (SIGMOD 2021).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goffish_v3_spark.plans.block_cache import fits_one_task
from goffish_v3_spark.plans.partitioner import vertex_part
from goffish_v3_spark.plans.superstep import (
    StepResult, SuperstepLoop, observed_checkpoint,
)


def _boruvka_numpy(src: np.ndarray, dst: np.ndarray):
    """Vectorized Boruvka over one edge block.

    Returns ``(tree_mask, vids, labels)``: boolean mask of spanning edges,
    the distinct vertex ids, and each vertex's component label (= min member
    vid). Edge key = rank in a lexicographic sort of (src, dst), distinct
    because the pairs are deduped.
    """
    vids, codes = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u = codes[: len(src)].astype(np.int64)
    v = codes[len(src):].astype(np.int64)
    n = len(vids)
    label = np.arange(n, dtype=np.int64)
    ekey = np.lexsort((dst, src)).argsort().astype(np.int64)
    tree = np.zeros(len(src), dtype=bool)

    alive = np.ones(len(src), dtype=bool)
    while True:
        lu, lv = label[u], label[v]
        cross = alive & (lu != lv)
        if not cross.any():
            break
        ci = np.flatnonzero(cross)
        ck = ekey[ci]
        # per-component minimum-key incident edge, both directions counted
        comp = np.concatenate([lu[ci], lv[ci]])
        keys2 = np.concatenate([ck, ck])
        eidx2 = np.concatenate([ci, ci])
        order = np.lexsort((keys2, comp))
        comp_s, eidx_s = comp[order], eidx2[order]
        first = np.ones(len(comp_s), dtype=bool)
        first[1:] = comp_s[1:] != comp_s[:-1]
        pick_comp = comp_s[first]
        pick_edge = eidx_s[first]
        tree[np.unique(pick_edge)] = True
        # hook each picking component onto the other endpoint's label
        other = np.where(
            label[u[pick_edge]] == pick_comp, label[v[pick_edge]], label[u[pick_edge]]
        )
        m = np.arange(n, dtype=np.int64)
        m[pick_comp] = other
        # break mutual 2-cycles (both ends picked the same edge)
        two = m[m] == np.arange(n)
        m[two] = np.minimum(m[two], np.arange(n)[two])
        while True:  # pointer jumping to fixpoint
            mm = m[m]
            if np.array_equal(mm, m):
                break
            m = mm
        label = m[label]
        alive = alive & (label[u] != label[v])

    min_vid = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(min_vid, label, vids)
    return tree, vids, min_vid[label]


_LOCAL_SCHEMA = "src long, dst long, is_tree boolean, label long"


def _local_forest(pdf: pd.DataFrame) -> pd.DataFrame:
    """Intra-partition edges → tree membership + local component label
    (label_src == label_dst for every row: the block ran to fixpoint)."""
    if len(pdf) == 0:
        return pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "is_tree": pd.Series(dtype="bool"),
                "label": pd.Series(dtype="int64"),
            }
        )
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    # dedup here in numpy (sorted — also makes the forest independent of
    # shuffle arrival order): every copy of an intra edge lands in this
    # partition, so the global pre-shuffle distinct() is unnecessary and
    # its full-edge-table exchange is saved. Duplicates MUST not reach
    # _boruvka_numpy: tree flags are matched per edge value, so both copies
    # of a picked edge would be flagged is_tree.
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    keep = np.concatenate(([True], (src[1:] != src[:-1]) | (dst[1:] != dst[:-1])))
    src, dst = src[keep], dst[keep]
    tree, vids, labels = _boruvka_numpy(src, dst)
    pos = np.searchsorted(vids, src)
    return pd.DataFrame(
        {"src": src, "dst": dst, "is_tree": tree, "label": labels[pos]}
    )


def _one_task_forest(it):
    """``_boruvka_numpy`` over the whole meta table in one task: kind-0
    rows map each label to its root (``x = label``, ``y = root``), kind-1
    rows are the picked representative edges (``x = src``, ``y = dst``)."""
    pdf = pd.concat(list(it), ignore_index=True)
    tree, vids, roots = _boruvka_numpy(pdf["a"].to_numpy(), pdf["b"].to_numpy())
    picked = pdf[tree]
    yield pd.DataFrame({
        "kind": np.repeat(np.array([0, 1], dtype=np.int32), [len(vids), len(picked)]),
        "x": np.concatenate([vids, picked["src"].to_numpy()]),
        "y": np.concatenate([roots, picked["dst"].to_numpy()]),
    })


def _jump(ptr: DataFrame, _i: int) -> StepResult:
    """One pointer-jumping pass over ``ptr(label, root)``: root := root's
    root, with the count of moved roots observed on the checkpoint."""
    up = ptr.select(F.col("label").alias("root"), F.col("root").alias("up"))
    nxt, moved = observed_checkpoint(
        ptr.join(up, "root", "left").select(
            "label", F.coalesce("up", "root").alias("root"), F.col("root").alias("_old")
        ),
        F.count(F.when(F.col("root") != F.col("_old"), 1)),
    )
    return StepResult(nxt.select("label", "root"), moved == 0)


def meta_forest(
    spark: SparkSession, meta: DataFrame, max_iter: int = 64
) -> tuple[DataFrame, DataFrame]:
    """Spanning forest of the contracted component graph — the one meta
    phase of :func:`spanning_forest` and :func:`operators.wcc.wcc`.

    ``meta(a, b, src, dst)``: one representative original edge per label
    pair (a < b). Returns ``(bridges(src, dst), mapping(label, root))``,
    root = min label of the label's component.

    When the meta table fits one task (``plans.block_cache.fits_one_task``),
    ``_boruvka_numpy`` runs once over all of it in one job. Above that the
    same Boruvka runs in DataFrame rounds: every component picks its
    minimum incident edge (``groupBy().agg(min(struct))``; with a total
    order on edges only mutual same-edge 2-cycles occur, the Boruvka lemma),
    points at the pick's other endpoint — a mutually picked edge makes its
    smaller endpoint a root — and the pointers jump to a fixpoint, one
    checkpoint per jump; the meta table is then relabeled. Components at
    least halve per round, and a round is one superstep-loop step, which
    raises ``RuntimeError`` if ``max_iter`` rounds pass with meta edges
    left. A final ``groupBy(root).min(label)`` restores min-label roots.
    """
    loop = SuperstepLoop(
        spark, max_iter=max_iter, name="meta-Boruvka", must_converge=True
    )
    cur, n_cur = observed_checkpoint(meta.select("a", "b", "src", "dst"), F.count(F.lit(1)))
    if not n_cur:
        return (spark.createDataFrame([], "src long, dst long"),
                spark.createDataFrame([], "label long, root long"))
    if fits_one_task(n_cur, 2 * n_cur):
        out = cur.coalesce(1).mapInPandas(
            _one_task_forest, schema="kind int, x long, y long"
        ).localCheckpoint(eager=True)
        return (
            out.filter("kind = 1").select(F.col("x").alias("src"), F.col("y").alias("dst")),
            out.filter("kind = 0").select(F.col("x").alias("label"), F.col("y").alias("root")),
        )

    bridge_parts: list[DataFrame] = []  # checkpointed pick sets, one per round
    # label -> current component, over every label seen so far
    total_map = spark.createDataFrame([], "label long, root long")

    def step(cur: DataFrame, _i: int) -> StepResult:
        nonlocal total_map
        edge = F.struct("a", "b", "src", "dst")
        picks = (
            cur.select(F.col("a").alias("comp"), edge.alias("e"))
            .unionByName(cur.select(F.col("b").alias("comp"), edge.alias("e")))
            .groupBy("comp").agg(F.min("e").alias("e"))
            .select("comp", "e.*")
        )
        # hook to the other endpoint; an edge picked from both ends (the
        # only cycles) roots its smaller endpoint a
        both_ends = F.count(F.lit(1)).over(Window.partitionBy("a", "b")) == 2
        picks = picks.select(
            F.col("comp").alias("pick"),
            F.when((F.col("comp") == F.col("b")) | both_ends, F.col("a"))
            .otherwise(F.col("b")).alias("to"),
            "src", "dst",
        ).localCheckpoint(eager=True)
        bridge_parts.append(picks.select("src", "dst").distinct())
        # live components re-point; older labels still point at them, so
        # jumping re-roots every label seen so far
        ptr = total_map.join(picks, total_map.label == picks.pick, "full").select(
            F.coalesce("label", "pick").alias("label"),
            F.coalesce("to", "root").alias("root"),
        )
        total_map = SuperstepLoop(
            spark, max_iter=64, name="meta-Boruvka pointer jumping", must_converge=True
        ).run(ptr, _jump).state
        # relabel the meta table and drop now-internal pairs; the surviving
        # row count rides the same checkpoint
        ra = total_map.select(F.col("label").alias("a"), F.col("root").alias("ra"))
        rb = total_map.select(F.col("label").alias("b"), F.col("root").alias("rb"))
        cur, n_left = observed_checkpoint(
            cur.join(ra, "a").join(rb, "b")
            .filter(F.col("ra") != F.col("rb"))
            .groupBy(F.least("ra", "rb").alias("a"), F.greatest("ra", "rb").alias("b"))
            .agg(F.min(F.struct("src", "dst")).alias("rep"))
            .select("a", "b", "rep.src", "rep.dst"),
            F.count(F.lit(1)),
        )
        return StepResult(cur, n_left == 0)

    loop.run(cur, step)
    canon = total_map.groupBy("root").agg(F.min("label").alias("canon"))
    mapping = total_map.join(canon, "root").select("label", F.col("canon").alias("root"))
    return reduce(DataFrame.unionByName, bridge_parts), mapping


def spanning_forest(
    spark: SparkSession, edges: DataFrame, num_parts: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Return ``(tree_edges, labels)``.

    ``tree_edges(src, dst, bridge boolean)`` — a spanning forest; ``bridge``
    marks cross-partition merge edges (the reference's wrapup output).
    ``labels(vid, label)`` — component label (min member vid), covering every
    vertex of the input including self-loop-only singletons. Both outputs are
    materialized before internal caches are released.
    """
    all_vertices = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    # no global distinct: intra-edge dedup happens numpy-side in
    # _local_forest (all copies co-land in their partition), cross-edge
    # duplicates collapse in the meta contraction's per-pair representative
    # pick — the oriented edge table reaches the part shuffle with ZERO
    # prior exchanges
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .withColumn("sp", vertex_part(F.col("src"), num_parts))
        .withColumn("dp", vertex_part(F.col("dst"), num_parts))
        .persist()
    )
    tagged = (
        e.filter(F.col("sp") == F.col("dp"))
        .select("src", "dst", F.col("sp").alias("part"))
        .groupBy("part")
        .applyInPandas(lambda pdf: _local_forest(pdf), schema=_LOCAL_SCHEMA)
        .persist()
    )
    local_tree = tagged.filter("is_tree").select("src", "dst")

    # every vertex with ≥1 intra edge carries its local label; others are
    # singleton components labelled by their own vid
    vlab = (
        tagged.select(F.col("src").alias("vid"), "label")
        .unionByName(tagged.select(F.col("dst").alias("vid"), "label"))
        .distinct()
    )
    la = vlab.select(F.col("vid").alias("src"), F.col("label").alias("la"))
    lb = vlab.select(F.col("vid").alias("dst"), F.col("label").alias("lb"))
    crossl = (
        e.filter(F.col("sp") != F.col("dp"))
        .select("src", "dst")
        .join(la, "src", "left")
        .join(lb, "dst", "left")
        .select(
            "src",
            "dst",
            F.coalesce("la", F.col("src")).alias("la"),
            F.coalesce("lb", F.col("dst")).alias("lb"),
        )
    )
    # contract to one representative original edge per component pair —
    # stays a DataFrame, never collected to the driver (meta_forest)
    meta = (
        crossl.groupBy(
            F.least("la", "lb").alias("a"), F.greatest("la", "lb").alias("b")
        )
        .agg(F.min(F.struct("src", "dst")).alias("rep"))
        .select("a", "b", F.col("rep.src").alias("src"), F.col("rep.dst").alias("dst"))
    )

    bridges, mapping = meta_forest(spark, meta)

    base_labels = all_vertices.join(vlab, "vid", "left").select(
        "vid", F.coalesce("label", F.col("vid")).alias("label")
    )
    labels = (
        base_labels.join(mapping, "label", "left")
        .select("vid", F.coalesce("root", "label").alias("label"))
        .localCheckpoint(eager=True)
    )
    tree_edges = (
        local_tree.withColumn("bridge", F.lit(False))
        .unionByName(bridges.withColumn("bridge", F.lit(True)))
        .localCheckpoint(eager=True)
    )

    tagged.unpersist()
    e.unpersist()
    return tree_edges, labels
