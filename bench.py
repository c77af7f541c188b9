"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "cpus": ...,
     "all_queries_host_ok": ...}

and writes the detail — per-query canary brackets and re-runs, and
``extra`` with the authoritative north metric (BASELINE.json),
edges-traversed/sec for PageRank supersteps, alongside iteration counts —
to ``BENCH/last_run.json``.
Scaling-efficiency runs (N vs 4N cores) live in BENCH/run_scaling.py which
writes BENCH/BASELINE.md.

Host-integrity design (VERDICT r4 #1): the round-3/4 dual START/END canary
certified the run's envelope but not its middle — BENCH_r04 shipped per-query
walls 2-3x inflated by a mid-run throttle window with both envelope canaries
green. This harness therefore brackets EVERY timed query with a warm canary
(~0.5 s untimed overhead each): a query's ``host_ok`` is true only when both
its bracketing canaries are within threshold. A flagged query is re-run once
(the re-run gets its own bracket); derived ratios (``asof_slicing_speedup``)
are computed from clean runs only and are null when no clean run exists, so a
burst window can never again silently flip a conclusion like r4's 1.36x
"salting wins" artifact on a since-removed feature.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PR_BENCH_ITERS = 10
# the run's detail file: per-query brackets and re-runs, canaries, extras
LAST_RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run.json")

# Host-speed canary: a FIXED pure-Spark workload (range → hash mod keys →
# groupBy sum/count → orderBy limit collect), deliberately independent of this
# repo's operators so no operator change can re-baseline it. Two references:
# COLD (first job after session creation, pays JIT/codegen) gates the run's
# opening; WARM (steady-state) gates the per-query brackets. Calibrated
# min-of-3 fresh-JVM runs on the round box, 2026-08-18, idle window (cold
# 4.6/0.5 s, warm 0.49-0.64/0.22-0.27 s at 32/8 cores). On any other host or
# Spark build, override via SPARK_GRAFT_CANARY_REF / SPARK_GRAFT_CANARY_REF_WARM
# (float seconds for the current core count, ADVICE r4) — the calibration
# source and host land in extra["canary_calibration"] so cross-host
# comparisons are explicit rather than silently wrong.
CANARY_REF_SEC = {32: 5.7, 8: 5.2}
WARM_CANARY_REF_SEC = {32: 0.65, 8: 0.35}
HOST_SPEED_FACTOR = 1.5  # cold threshold
WARM_SPEED_FACTOR = 2.0  # warm walls are sub-second → noisier, wider gate
PY_SPEED_FACTOR = 1.6  # python-worker canary gate (see _py_canary_job)
CANARY_CALIBRATION = {"host": "round-box local[32/8]", "date": "2026-08-18"}


def _env_ref(name: str, default: float | None) -> tuple[float | None, str]:
    raw = os.environ.get(name)
    if raw is None:
        return default, "builtin"
    return float(raw), f"env:{name}"


def _canary_job(spark) -> float:
    """Fixed code-independent canary job; returns wall seconds."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    df = spark.range(0, 20_000_000).select(
        (F.col("id") % 9973).alias("k"),
        ((F.col("id") * 2654435761) % 2147483647).alias("v"),
    )
    df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
    ).orderBy("k").limit(3).collect()
    return time.monotonic() - t0


def _py_canary_identity(pdf):
    return pdf.head(1)


def _py_canary_job(spark) -> float:
    """Fixed Python-WORKER canary: a tiny groupBy.applyInPandas round-trip
    (64 groups, Arrow both ways). The JVM canary is blind to the resource
    class where grouped-map kernels degrade first — Python process
    scheduling / Arrow IPC — measured on 2026-08-18: CSR cogroup queries
    drifted 1.7-2.6× between runs while every JVM canary stayed green.
    This canary runs on the same Python-worker pool those queries use."""
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    df = spark.range(0, 64_000).select(
        (F.col("id") % 64).alias("k"), (F.col("id") * 7).alias("v")
    )
    df.groupBy("k").applyInPandas(_py_canary_identity, schema="k long, v long").count()
    return time.monotonic() - t0


class HostGuard:
    """Per-query host-integrity: warm canaries bracket every timed query.

    Two canary flavors: the pure-JVM job (absolute reference, calibrated or
    env-overridden) and the Python-worker job (``py_ref``, self-calibrated
    at suite start after warmup — relative-to-start is sound here because
    the absolute COLD canary already gates the start of the run; what this
    flavor adds is detecting the window degrading DURING the run on the
    Python-worker axis the JVM canary cannot see)."""

    def __init__(self, spark, warm_ref: float | None, py_ref: float | None = None):
        self.spark = spark
        self.warm_ref = warm_ref
        self.py_ref = py_ref
        self.last_wall: float | None = None  # most recent warm canary wall
        self.last_py_wall: float | None = None
        self.last_ok: bool = True
        self.n_canaries = 0
        self.canary_overhead = 0.0

    def _probe(self, job, ref: float | None, factor: float) -> tuple[float, bool]:
        wall = job(self.spark)
        self.n_canaries += 1
        self.canary_overhead += wall
        threshold = None if ref is None else factor * ref
        if threshold is not None and wall > threshold:
            # one immediate retry: a GC/cleanup blip right after a heavy
            # query passes the second probe; a genuine throttle window
            # keeps both slow (measured smoke: 0.633 s blip at a 0.6 s
            # threshold right after the triangle join, idle truth 0.38 s)
            wall2 = job(self.spark)
            self.n_canaries += 1
            self.canary_overhead += wall2
            wall = min(wall, wall2)
        return wall, threshold is None or wall <= threshold

    def checkpoint(self) -> tuple[float, bool]:
        wall, jvm_ok = self._probe(_canary_job, self.warm_ref, WARM_SPEED_FACTOR)
        py_ok = True
        if self.py_ref is not None:
            py_wall, py_ok = self._probe(_py_canary_job, self.py_ref, PY_SPEED_FACTOR)
            self.last_py_wall = round(py_wall, 3)
        self.last_wall, self.last_ok = round(wall, 3), bool(jvm_ok and py_ok)
        return self.last_wall, self.last_ok


def headline(b: "Bench") -> str:
    """The one JSON line the driver reads: total and per-query walls plus
    the run's host verdict. Everything else (brackets, re-runs, canaries,
    derived numbers) goes to :data:`LAST_RUN`, so the line stays short
    enough for a tail capture however many queries are flagged."""
    return json.dumps(
        {
            "metric": "goffish_v3_spark headline suite (graph + pipeline) wall time",
            "value": round(sum(b.timings.values()), 3),
            "unit": "sec",
            "queries": b.timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "all_queries_host_ok": all(m["host_ok"] for m in b.meta.values()),
        }
    )


class Bench:
    def __init__(self, spark, guard: HostGuard):
        self.guard = guard
        self.timings: dict[str, float] = {}
        self.extra: dict[str, object] = {}
        self.meta: dict[str, dict] = {}

    def run(self, name: str, fn, reruns: int = 1):
        """Time ``fn`` bracketed by warm canaries; re-run once if either
        bracket is red. timings[name] = wall of the first clean run, else
        min wall across attempts (with host_ok false)."""
        runs = []
        result = None
        for attempt in range(reruns + 1):
            before_wall, before_ok = self.guard.last_wall, self.guard.last_ok
            if before_wall is None or not before_ok:
                # first query (seed the bracket) or retry after a red window:
                # re-probe instead of inheriting the stale red reading
                before_wall, before_ok = self.guard.checkpoint()
            before_py = getattr(self.guard, "last_py_wall", None)
            t0 = time.monotonic()
            result = fn()
            wall = round(time.monotonic() - t0, 3)
            after_wall, after_ok = self.guard.checkpoint()
            after_py = getattr(self.guard, "last_py_wall", None)
            runs.append(
                {
                    "wall": wall,
                    "canary_before": before_wall,
                    "canary_after": after_wall,
                    "canary_py": [before_py, after_py] if after_py is not None else None,
                    "host_ok": bool(before_ok and after_ok),
                }
            )
            if runs[-1]["host_ok"]:
                break
            print(
                f"[bench] host window flagged around {name!r} "
                f"(canaries {before_wall}/{after_wall}s); "
                + ("re-running once" if attempt < reruns else "keeping min wall"),
                file=sys.stderr,
            )
        clean = [r for r in runs if r["host_ok"]]
        chosen = clean[0] if clean else min(runs, key=lambda r: r["wall"])
        self.timings[name] = chosen["wall"]
        self.meta[name] = {
            "host_ok": bool(clean),
            "runs": runs if (len(runs) > 1 or not clean) else None,
            "canary": [chosen["canary_before"], chosen["canary_after"]],
            "canary_py": chosen.get("canary_py"),
        }
        return result

    def clean_wall(self, name: str) -> float | None:
        """Wall only if the query has a host-clean run, else None."""
        return self.timings[name] if self.meta[name]["host_ok"] else None


def main() -> None:
    from pyspark.sql import functions as F

    from goffish_v3_spark.session import get_spark
    from goffish_v3_spark.operators.pagerank import pagerank_with_info
    from goffish_v3_spark.operators.wcc import wcc
    from goffish_v3_spark.operators.lpa import lpa
    from goffish_v3_spark.operators.triangles import triangle_count
    from goffish_v3_spark.sources.tpch_graph import copart_edges, customer_supplier_edges
    from goffish_v3_spark.sources.ingest import ingest
    from goffish_v3_spark.sources.synthetic import generate_repos
    from goffish_v3_spark.operators.dedup import minhash_lsh_pairs
    from goffish_v3_spark.operators.similarity import cosine_topk
    from goffish_v3_spark.operators.text import quality_features

    spark = get_spark(
        app_name="goffish-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )

    cold_ref, cold_src = _env_ref("SPARK_GRAFT_CANARY_REF", CANARY_REF_SEC.get(CPUS))
    warm_ref, warm_src = _env_ref(
        "SPARK_GRAFT_CANARY_REF_WARM", WARM_CANARY_REF_SEC.get(CPUS)
    )
    guard = HostGuard(spark, warm_ref)
    b = Bench(spark, guard)
    extra = b.extra
    extra["canary_calibration"] = {
        **CANARY_CALIBRATION,
        "cold_ref_sec": cold_ref,
        "cold_ref_source": cold_src,
        "warm_ref_sec": warm_ref,
        "warm_ref_source": warm_src,
        "bench_host": platform.node(),
    }

    # ---- opening canary (cold, before anything else JITs the JVM) ----
    extra["canary_sec"] = round(_canary_job(spark), 3)
    if cold_ref is None:
        extra["host_speed_ok"] = None
        extra["host_speed_note"] = (
            f"no canary reference calibrated for {CPUS} cores; canary skipped"
        )
    else:
        extra["host_speed_ok"] = extra["canary_sec"] <= HOST_SPEED_FACTOR * cold_ref
        if not extra["host_speed_ok"]:
            extra["host_speed_note"] = (
                f"canary {extra['canary_sec']}s > {HOST_SPEED_FACTOR}x reference "
                f"{cold_ref}s: throttled/contaminated host window — wall "
                "times in this run overstate; re-run on an idle box before "
                "comparing across rounds"
            )
            print(f"[bench] WARNING: {extra['host_speed_note']}", file=sys.stderr)

    # ---- warmup (untimed): compile the hot codegen paths + spin up the
    # Arrow Python workers before any timed section. Cold-JVM JIT/codegen
    # cost is 30-100 s on a throttled host and would otherwise land entirely
    # on whichever query runs first (measured 41 s vs 9.9 s warm for the
    # identical query on 2026-08-17); steady-state cost is what the suite
    # claims to measure.
    t_warm = time.monotonic()
    warm = spark.range(5000).select(
        (F.col("id") % 500).alias("src"),
        ((F.col("id") * 7 + 1) % 500).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    pagerank_with_info(spark, warm, fixed_iterations=2)
    from goffish_v3_spark.operators.kcore import k_core as _warm_kcore

    _warm_kcore(spark, warm, k=2, num_parts=4).count()
    extra["warmup_sec"] = round(time.monotonic() - t_warm, 3)

    # ---- python-worker canary reference: env override or self-calibrated
    # (one throwaway to spin the worker pool, then min-of-3). Relative-to-
    # start is sound — the absolute cold canary above gates the run start;
    # this flavor detects mid-run degradation on the Python-worker axis.
    py_ref_env, py_src = _env_ref("SPARK_GRAFT_CANARY_REF_PY", None)
    if py_ref_env is not None:
        py_ref = py_ref_env
    else:
        _py_canary_job(spark)  # throwaway: worker-pool spin-up
        py_ref = min(_py_canary_job(spark) for _ in range(3))
        py_src = "self-calibrated at suite start (min-of-3 after warmup)"
    guard.py_ref = py_ref
    extra["canary_calibration"]["py_ref_sec"] = round(py_ref, 3)
    extra["canary_calibration"]["py_ref_source"] = py_src

    # ---- link-graph suite on the cs graph -------------------------------
    cs = customer_supplier_edges(spark, SF_DIR).persist()
    n_cs_edges = cs.count()
    n_cs_vertices = (
        cs.select(F.col("src").alias("v"))
        .unionByName(cs.select(F.col("dst").alias("v")))
        .distinct()
        .count()
    )

    def _pr_fixed():
        scores, info = pagerank_with_info(spark, cs, fixed_iterations=PR_BENCH_ITERS)
        scores.count()

    b.run("pagerank_cs_10it", _pr_fixed)
    extra["pagerank_cs_edges"] = n_cs_edges
    extra["pagerank_cs_edges_traversed_per_sec"] = round(
        PR_BENCH_ITERS * n_cs_edges / b.timings["pagerank_cs_10it"], 1
    )

    info = b.run(
        "pagerank_cs_converge", lambda: pagerank_with_info(spark, cs)[1]
    )
    extra["pagerank_cs_supersteps_to_eps"] = info.supersteps
    # the reference's absolute ε=1e-3 is trivially met once N is large
    # (1/N ≪ ε); report a relative gate alongside so the convergence bench
    # measures propagation, not setup (VERDICT round-1 note)
    info_rel = b.run(
        "pagerank_cs_converge_rel",
        lambda: pagerank_with_info(spark, cs, eps=1e-3 / n_cs_vertices)[1],
    )
    extra["pagerank_cs_supersteps_to_rel_eps"] = info_rel.supersteps

    b.run("wcc_cs", lambda: wcc(spark, cs, num_parts=CPUS).count())
    b.run("lpa_cs_4it", lambda: lpa(spark, cs, fixed_iterations=4).count())

    from goffish_v3_spark.operators.sssp import sssp

    src0 = cs.agg(F.min("src")).collect()[0][0]
    b.run(
        "sssp_cs",
        lambda: sssp(spark, cs, source=src0, weighted=False, directed=False).count(),
    )

    # ---- CSR-kernel operators (worker-local block store) ------------------
    from goffish_v3_spark.operators.lpa import lpa_csr
    from goffish_v3_spark.operators.sssp import sssp_csr
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank

    b.run(
        "csr_pagerank_10it",
        lambda: csr_pagerank(
            spark, cs, num_parts=CPUS, fixed_iterations=PR_BENCH_ITERS
        ).count(),
    )
    b.run("lpa_csr", lambda: lpa_csr(spark, cs, num_parts=CPUS).count())
    b.run(
        "sssp_csr",
        lambda: sssp_csr(
            spark, cs, source=src0, weighted=False, directed=False, num_parts=CPUS
        ).count(),
    )

    from goffish_v3_spark.operators.spanning_forest import spanning_forest

    b.run(
        "spanning_forest_cs",
        lambda: spanning_forest(spark, cs, num_parts=CPUS)[0].count(),
    )

    cp = copart_edges(spark, SF_DIR).persist()
    n_cp = cp.count()
    extra["triangles_copart"] = b.run(
        "triangle_count_copart", lambda: triangle_count(cp)
    )
    from goffish_v3_spark.operators.kcore import core_numbers, k_core

    b.run("kcore3_copart", lambda: k_core(spark, cp, k=3).count())
    b.run(
        "core_numbers_copart",
        lambda: core_numbers(spark, cp, num_parts=CPUS).count(),
    )
    # link prediction shares the wedge join's quadratic risk (wedges ∝
    # Σ deg²) — benched on the same graph as the triangle suite so the
    # two walls are directly comparable. sf0.1 copart is DENSE (avg deg
    # ~120, no hubs): support 1 yields 101 M candidate pairs; min_common=3
    # is the production support threshold (8.9 M pairs, exact above it)
    from goffish_v3_spark.operators.linkpred import (
        link_prediction_common_neighbors,
    )

    extra["link_pred_rows"] = b.run(
        "link_pred_copart_s3",
        lambda: link_prediction_common_neighbors(cp, k=3, min_common=3).count(),
    )
    extra["copart_edges"] = n_cp
    cp.unpersist()
    cs.unpersist()

    # ---- triangle skew probe: wedges ∝ Σ deg² make the wedge join the one
    # quadratic-risk operator in the suite (VERDICT r4 #9). A Zipf-ish
    # skewed-degree fixture an order of magnitude above copart checks the
    # ordered-orientation guard (hubs orient their wedge fan to LOW-degree
    # endpoints, capping per-key wedge width) at bench scale; the wedge count
    # is recorded so a quadratic blow-up is a visible number, not a hang.
    from goffish_v3_spark.sources.synthetic import generate_skewed_edges
    from goffish_v3_spark.operators.triangles import wedge_count

    skew = generate_skewed_edges(spark, n_edges=10_000_000, n_vertices=1_000_000)
    skew = skew.persist()
    extra["triangle_skew_edges"] = skew.count()
    # id orientation would materialize ~7e10 wedge rows on this fixture —
    # the guard must pick degree orientation (~4.4e7); both counts recorded
    # so a quadratic regression is a visible number
    extra["triangle_skew_wedges_id"] = wedge_count(skew, "id")
    extra["triangle_skew_wedges_degree"] = wedge_count(skew, "degree")
    extra["triangles_skew"] = b.run(
        "triangle_count_skew10m", lambda: triangle_count(skew)
    )
    # walk-corpus generation on the same skewed 10M-edge fixture: one
    # row_number index shuffle + length equi-joins of a 1M-vertex frontier
    from goffish_v3_spark.operators.walks import random_walks

    extra["walk_rows"] = b.run(
        "random_walks_skew10m",
        lambda: random_walks(skew, length=4, num_walks=1, materialize=True).count(),
    )
    skew.unpersist()

    # ---- temporal joins at scale: 10M points vs 1M right rows -----------
    # asof = union + ordered window (one shuffle/key, no range join);
    # interval = bucketed equi-join (pairs meet exactly once). Both walls
    # are the operators' own scale evidence — the sf0.1 events table is too
    # small to exercise the shuffle.
    from goffish_v3_spark.operators.asof import asof_join
    from goffish_v3_spark.operators.rangejoin import interval_join

    tj_points = spark.range(0, 10_000_000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 100_000).alias("k"),
        ((F.col("id") * 2654435761) % 1_000_000_000).alias("ts"),
    )
    tj_rights = spark.range(0, 1_000_000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 100_000).alias("k"),
        ((F.col("id") * 40503) % 1_000_000_000).alias("ts"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    extra["asof_10m_matched"] = b.run(
        "asof_join_10m",
        lambda: asof_join(tj_points, tj_rights, ["k"], tiebreak="rid")
        .filter(F.col("asof_rid").isNotNull())
        .count(),
    )
    # hub-skew variant: half the points/rights on ONE key — the plain
    # window serializes the hub through one task; slice_width bounds
    # per-task work by rows-per-(key, slice). Ratio from host-clean walls
    # only (clean_wall), so a throttle window cannot flip it.
    skew_pts = spark.range(0, 10_000_000).select(
        F.col("id").alias("pid"),
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 100_000).alias("k"),
        ((F.col("id") * 2654435761) % 1_000_000_000).alias("ts"),
    )
    skew_rts = spark.range(0, 2_000_000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 100_000).alias("k"),
        ((F.col("id") * 40503) % 1_000_000_000).alias("ts"),
        (F.col("id") % 97).cast("double").alias("v"),
    )

    def _asof_skew(**kw) -> int:
        return (
            asof_join(skew_pts, skew_rts, ["k"], tiebreak="rid", **kw)
            .filter(F.col("asof_rid").isNotNull())
            .count()
        )

    b.run("asof_join_skew10m_plain", _asof_skew)
    b.run("asof_join_skew10m_sliced", lambda: _asof_skew(slice_width=10_000_000))
    pl, sl = b.clean_wall("asof_join_skew10m_plain"), b.clean_wall("asof_join_skew10m_sliced")
    extra["asof_slicing_speedup"] = round(pl / sl, 3) if pl and sl else None

    tj_ivals = tj_rights.select(
        F.col("rid").alias("iid"),
        "k",
        ((F.col("rid") * 48271) % 999_000_000).alias("s"),
    ).withColumn("e", F.col("s") + 500_000)
    extra["interval_10m_pairs"] = b.run(
        "interval_join_10m",
        lambda: interval_join(
            tj_points, tj_ivals, "ts", "s", "e", on=["k"], bucket_width_sec=1_000_000
        ).count(),
    )

    # Bloom semi-join reduction at fact scale: 50k dim keys distilled into
    # a ≤2^20-row bit table, 10M fact rows prefiltered by 3 chained
    # broadcast LEFT SEMI joins — zero fact shuffle; candidate count
    # recorded so the false-positive surplus is a visible number
    from goffish_v3_spark.operators.bloom import bloom_bits, bloom_prefilter

    bloom_dim = spark.range(0, 50_000).select((F.col("id") * 2).alias("k"))

    def _bloom_10m() -> int:
        bits = bloom_bits(bloom_dim, "k", m=1 << 20, k=3, seed=0)
        return bloom_prefilter(tj_points, "k", bits, m=1 << 20, k=3, seed=0).count()

    extra["bloom_candidates_10m"] = b.run("bloom_prefilter_10m", _bloom_10m)

    # ---- flagship: synthetic repos → ingest → PageRank ------------------
    state: dict[str, object] = {"g_edges": None}

    def _ingest():
        if state["g_edges"] is not None:  # re-run after a flagged window
            state["g_edges"].unpersist()
        repos = generate_repos(spark, n_repos=100, files_per_repo=300, seed=42)
        graph = ingest(repos)
        state["g_edges"] = graph.edges.persist()
        return state["g_edges"].count()

    n_repo_edges = b.run("repo_ingest", _ingest)
    g_edges = state["g_edges"]

    def _repo_pr():
        scores, info = pagerank_with_info(
            spark, g_edges, fixed_iterations=PR_BENCH_ITERS
        )
        scores.count()

    b.run("repo_pagerank_10it", _repo_pr)
    extra["repo_edges"] = n_repo_edges
    extra["repo_edges_traversed_per_sec"] = round(
        PR_BENCH_ITERS * n_repo_edges / b.timings["repo_pagerank_10it"], 1
    )

    # north_rule end-to-end: the same flagship run with the checkpoint store
    # + per-partition lineage metrics ON (resumable mid-iteration; metrics
    # parquet persisted per commit) — the overhead vs repo_pagerank_10it is
    # the price of resumability, tracked here (VERDICT r3 #9)
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="goffish_bench_ckpt_")

    def _repo_pr_ckpt():
        scores, info_m = pagerank_with_info(
            spark, g_edges, fixed_iterations=PR_BENCH_ITERS,
            checkpoint_dir=ckpt, checkpoint_every=5, partition_metrics=True,
        )
        scores.count()
        return info_m

    info_m = b.run("repo_pagerank_10it_ckpt_metrics", _repo_pr_ckpt)
    mdf = spark.read.parquet(f"{ckpt}/{info_m.run_id}/metrics")
    extra["partition_metrics_rows"] = mdf.count()
    extra["partition_metrics_parts"] = mdf.filter(F.col("part") >= 0).select(
        "part"
    ).distinct().count()
    g_edges.unpersist()

    # ---- training-data pipeline suite ------------------------------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b.run(
        "doc_quality",
        lambda: quality_features(docs).agg(F.avg("quality_score")).collect(),
    )
    b.run(
        "minhash_lsh", lambda: minhash_lsh_pairs(docs, jaccard_threshold=0.5).count()
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b.run(
        "ann_cosine_top5",
        lambda: cosine_topk(emb.filter(F.col("vec_id") < 50), emb, k=5).count(),
    )

    # ---- closing canary: end-of-envelope check kept alongside the
    # per-query brackets for continuity with r3/r4 JSONs.
    extra["canary_end_sec"] = round(_canary_job(spark), 3)
    if cold_ref is not None:
        # the closing canary runs warm — gate it against the warm reference
        end_ref = warm_ref if warm_ref is not None else cold_ref
        end_ok = extra["canary_end_sec"] <= WARM_SPEED_FACTOR * end_ref
        extra["host_speed_ok"] = bool(extra["host_speed_ok"]) and end_ok
        if not end_ok:
            extra["host_speed_note"] = (
                f"closing canary {extra['canary_end_sec']}s > "
                f"{WARM_SPEED_FACTOR}x reference {end_ref}s: the host "
                "window degraded DURING the run — wall times overstate"
            )
            print(f"[bench] WARNING: {extra['host_speed_note']}", file=sys.stderr)

    # per-query host integrity summary
    extra["host_ok_by_query"] = {k: m["host_ok"] for k, m in b.meta.items()}
    extra["canary_by_query"] = {k: m["canary"] for k, m in b.meta.items()}
    flagged = {
        k: m["runs"] for k, m in b.meta.items() if m["runs"] is not None
    }
    if flagged:
        extra["flagged_query_runs"] = flagged
    extra["canary_overhead_sec"] = round(guard.canary_overhead, 3)
    extra["n_interleaved_canaries"] = guard.n_canaries

    line = headline(b)
    os.makedirs(os.path.dirname(LAST_RUN), exist_ok=True)
    with open(LAST_RUN, "w") as f:
        json.dump({"headline": json.loads(line), "meta": b.meta, "extra": extra}, f, indent=1)
    print(line)


if __name__ == "__main__":
    main()
