#!/usr/bin/env python3
"""Repo-graph benchmark: vertex-centric vs subgraph-centric PageRank.

Usage, from the repository root::

    python3 perfbench/run.py --workload pagerank_df --seed 1 --seconds 10 --trace 0

One closed-loop client: this driver process runs one engine job at a time on
``local[nproc]`` with ``nproc`` shuffle partitions and no other Spark
session. Each run generates the seeded ``repos`` table with
``sources.synthetic.generate_repos``, ingests it into a persisted link-graph
edge table, warms up, then times whole jobs through the engine's public
functions until ``--seconds`` have passed (at least ``MIN_TIMED`` jobs).
Every timed job is checked, untimed, against a numpy PageRank of the same
edge table.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` repeats that run
untraced, then restarts the Spark context with the event log on, tags each
public call with a job group, and prints the per-layer metrics folded from
the log. See README.md for the workloads and the metric map.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the detail of the run
goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

import eventlog  # noqa: E402
import procfs  # noqa: E402
from reference import ConvergedCheck, ReferencePageRank, check_close  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
# 60 repos x 250 files: 15k files and 83k edges. A run has to fit in about
# a minute with a fresh JVM (see README.md, "Time budget"): at 275k edges a
# subgraph_rank run took 87 s. At 83k edges driver and per-stage latency,
# not per-edge work, set most of a job's wall time.
N_REPOS = 60
FILES_PER_REPO = 250
FIXED_ITERATIONS = 10
WARMUPS = 1
MIN_TIMED = 2
INGEST_REPEATS = 3
# one traced job per run: a run must end within 180 s, and a traced
# pagerank_df run with two took 139 s on a slow phase of the host
TRACED_JOBS = 1
# fits a 15 GB box next to the Python workers (session.py defaults to 32g).
# The heap is committed and touched at start (-Xms = -Xmx, AlwaysPreTouch):
# a heap that grows on demand made peak_rss_mb swing 1.6-2.3 GB from run
# to run with the GC's sizing decisions; pre-touched it repeats within 1 %.
# So peak_rss_mb sees Python (driver and workers) and JVM off-heap memory,
# not heap use below 3 GB: the traced run reports that as *.heap_peak_mb.
DRIVER_MEMORY = "3g"
RANK_ATOL = 1e-10

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "edges_per_s": "1/s",
    "supersteps": "count",
    "peak_rss_mb": "MB",
}

_CALL = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "driver_idle_s": "s",
    "heap_peak_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.ingest.wall_s": "s",
    "sources.ingest.task_s": "s",
    "sources.ingest.shuffle_write_mb": "MB",
    "sources.ingest.edges": "count",
    "sources.ingest.vertices": "count",
    "operators.pagerank.setup_s": "s",
    "operators.pagerank.loop_s": "s",
    "operators.pagerank.step_s": "s",
    **{f"operators.pagerank.{k}": u for k, u in _CALL.items()},
    "plans.csr.build_s": "s",
    "plans.csr.block_mb": "MB-computed",
    "plans.csr.shuffle_write_mb": "MB",
    "operators.subgraph_pagerank.loop_s": "s",
    "operators.subgraph_pagerank.step_s": "s",
    "operators.subgraph_pagerank.jobs": "count",
    "operators.subgraph_pagerank.stages": "count",
    "operators.subgraph_pagerank.python_stages": "count",
    "operators.subgraph_pagerank.python_task_s": "s",
    "operators.subgraph_pagerank.shuffle_read_mb": "MB",
    "operators.subgraph_pagerank.shuffle_write_mb": "MB",
    "operators.subgraph_pagerank.driver_idle_s": "s",
    "operators.subgraph_pagerank.heap_peak_mb": "MB",
    "plans.superstep.commit_s": "s",
    "plans.superstep.ckpt_write_mb": "MB",
    "plans.superstep.step_ms_p50": "ms",
    "trace.overhead_pct": "%",
    "trace.failed_tasks": "count",
    "trace.retried_tasks": "count",
    "host.canary_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_canary() -> float:
    """Fixed, code-independent CPU probe (numpy sort + Python loop), median
    of three, so spread between runs can be attributed to the host."""
    a = np.random.default_rng(0).random(1_000_000)
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        np.sort(a)
        s = 0
        for i in range(300_000):
            s += i * i
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def unpack(ret):
    """(scores, supersteps) from any engine return shape: ``(DataFrame,
    RunInfo)``, a RunInfo-shaped object carrying ``state``, or a DataFrame
    carrying ``pr_supersteps``."""
    if isinstance(ret, tuple):
        scores, info = ret
        return scores, int(info.supersteps)
    if hasattr(ret, "state") and hasattr(ret, "supersteps"):
        return ret.state, int(ret.supersteps)
    return ret, int(ret.pr_supersteps)


@dataclass
class Job:
    wall_s: float = 0.0
    supersteps: int = 0
    vid: np.ndarray | None = None
    rank: np.ndarray | None = None
    # traced runs: (group, start, end) of each public call, epoch seconds
    calls: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Graph:
    edges: object  # persisted DataFrame(src, dst, w)
    ref: ReferencePageRank
    ingest_walls: list


class Bench:
    """One Spark context plus the seeded edge table it runs jobs on."""

    def __init__(self, seed: int, event_dir: Path | None = None):
        self.seed = seed
        self.event_dir = event_dir
        self.spark = None
        self.start_s = 0.0
        self.generate_s = 0.0
        self.job_count = 0

    # -- session and input -------------------------------------------------
    def start(self) -> None:
        t = time.perf_counter()
        from goffish_v3_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.local.dir": str(WORK / "local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        }
        if self.event_dir is not None:
            self.event_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.event_dir),
                # Spark 4 defaults to zstd, which the stdlib cannot read
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # the heap peaks in task-end events are otherwise polled
                # only at the 10 s heartbeat
                "spark.executor.metrics.pollingInterval": "100ms",
            })
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{NPROC}]",
            shuffle_partitions=NPROC,
            extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t

    def group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    def load(self, ingest_repeats: int, ingest_group: str | None = None) -> Graph:
        """Generate the repos table (untimed), then ingest it into a persisted
        edge table ``ingest_repeats`` times, keeping the last."""
        from goffish_v3_spark.sources.ingest import ingest
        from goffish_v3_spark.sources.synthetic import generate_repos

        t = time.perf_counter()
        # generate_repos draws the link offsets from seed % 5 and everything
        # else (file contents, commit ids) from the whole seed: a multiple
        # of 5 keeps the topology, and so the superstep count, the same for
        # every benchmark seed while the bytes the ingest parses change
        repos = generate_repos(self.spark, N_REPOS, FILES_PER_REPO,
                               seed=5 * self.seed, num_partitions=NPROC)
        repos = repos.persist()
        repos.count()
        self.generate_s = time.perf_counter() - t
        walls, edges = [], None
        for _ in range(ingest_repeats):
            if edges is not None:
                edges.unpersist(blocking=True)
            self.group(ingest_group)
            t = time.perf_counter()
            edges = ingest(repos).edges.persist()
            edges.count()
            walls.append(time.perf_counter() - t)
            self.group(None)
        repos.unpersist()
        pdf = edges.select("src", "dst").toPandas()
        ref = ReferencePageRank(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
        return Graph(edges=edges, ref=ref, ingest_walls=walls)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- timed calls -------------------------------------------------------
    @staticmethod
    def _collect(job: Job, ret) -> None:
        """Materialize the result on the driver: the end of a timed job."""
        scores, job.supersteps = unpack(ret)
        pdf = scores.toPandas()
        job.vid, job.rank = pdf["vid"].to_numpy(), pdf["rank"].to_numpy()

    def _call(self, job: Job, group: str | None, fn):
        """Run ``fn`` under job group ``group`` (traced runs) and record it."""
        if group is None:
            return fn()
        name = f"{group}#{self.job_count}"
        self.group(name)
        t = time.time()
        try:
            return fn()
        finally:
            job.calls.append((name, t, time.time()))
            self.group(None)

    def pagerank(self, g: Graph, traced: bool = False, checkpoint: bool = False) -> Job:
        """``checkpoint`` (traced runs only): the resumable mode, each
        superstep written to and read back from parquet."""
        from goffish_v3_spark.operators.pagerank import pagerank_with_info

        self.job_count += 1
        kw = {"fixed_iterations": FIXED_ITERATIONS}
        ckpt_dir = WORK / "ckpt" / str(self.job_count)
        if checkpoint:
            kw.update(checkpoint_dir=str(ckpt_dir), checkpoint_every=1,
                      partition_metrics=True)
        job = Job()
        layer = "pagerank_ckpt" if checkpoint else "operators.pagerank"

        def run():
            ret = pagerank_with_info(self.spark, g.edges, **kw)
            self._collect(job, ret)
            return ret[1] if isinstance(ret, tuple) else ret

        t = time.perf_counter()
        info = self._call(job, layer if traced else None, run)
        job.wall_s = time.perf_counter() - t
        job.extra["loop_s"] = info.wall_s
        if checkpoint:
            run_dir = ckpt_dir / info.run_id
            manifest = json.loads((run_dir / "manifest.json").read_text())
            job.extra["last_superstep"] = manifest["last_superstep"]
            m = pd.read_parquet(run_dir / "metrics")
            job.extra["step_ms_p50"] = float(m.loc[m["part"] == -1, "wall_ms"].median())
            shutil.rmtree(ckpt_dir)
        return job

    def subgraph_rank(self, g: Graph, traced: bool = False) -> Job:
        from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank, subgraph_rank
        from goffish_v3_spark.plans.csr import build_csr_blocks

        self.job_count += 1
        job = Job()
        t = time.perf_counter()
        if traced:
            # split so the CSR build and the superstep loop get exact spans
            blocks = self._call(job, "plans.csr", lambda: build_csr_blocks(
                self.spark, g.edges, NPROC))

            def run():
                t_loop = time.perf_counter()
                ret = csr_pagerank(self.spark, g.edges, blocks=blocks, local_init=True)
                job.extra["loop_s"] = time.perf_counter() - t_loop
                self._collect(job, ret)

            self._call(job, "operators.subgraph_pagerank", run)
            blocks.unpersist()
        else:
            self._collect(job, subgraph_rank(self.spark, g.edges))
        job.wall_s = time.perf_counter() - t
        return job


# -- workloads ---------------------------------------------------------------

WORKLOADS = ("pagerank_df", "subgraph_rank")


class Check:
    """The expected output of one workload on one graph."""

    def __init__(self, workload: str, g: Graph):
        from goffish_v3_spark.operators.subgraph_pagerank import EPSILON

        self.workload = workload
        self.ref = g.ref
        self.errors: list[dict] = []
        if workload == "subgraph_rank":
            self.converged = ConvergedCheck(g.ref, EPSILON)
            # work a plain power iteration needs for the same answer: the
            # numerator of subgraph_rank's edges_per_s, fixed by the graph so
            # that saving supersteps raises the throughput instead of
            # lowering it
            self.work_steps = self.converged.steps
        else:
            self.want = g.ref.fixed(FIXED_ITERATIONS)
            self.work_steps = FIXED_ITERATIONS

    def __call__(self, job: Job) -> None:
        """Raise AssertionError when the job's output is wrong."""
        rank = self.ref.align(job.vid, job.rank)
        if self.workload == "subgraph_rank":
            if job.supersteps < 1:
                raise AssertionError(f"{job.supersteps} supersteps")
            self.errors.append(self.converged(rank))
        else:
            if job.supersteps != FIXED_ITERATIONS:
                raise AssertionError(f"{job.supersteps} supersteps, expected {FIXED_ITERATIONS}")
            check_close(rank, self.want, RANK_ATOL, "PageRank vs 10-step reference")
        last = job.extra.get("last_superstep")
        if last is not None and last != FIXED_ITERATIONS - 1:
            raise AssertionError(f"manifest last_superstep = {last}")


def run_job(bench: Bench, workload: str, g: Graph, traced: bool = False) -> Job:
    if workload == "subgraph_rank":
        return bench.subgraph_rank(g, traced=traced)
    return bench.pagerank(g, traced=traced)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    jobs: list = field(default_factory=list)

    def run(self, fn, check: Check) -> Job | None:
        """One checked operation; a raise or a failed check counts as failed."""
        self.attempted += 1
        try:
            job = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        self.jobs.append(job)
        try:
            check(job)
        except AssertionError as e:
            self.failed += 1
            log(f"check failed: {e}")
        return job


def measure(bench: Bench, workload: str, g: Graph, check: Check, seconds: float):
    """Warm up, then time jobs until ``seconds`` have passed."""
    warm = []
    for _ in range(WARMUPS):
        t = time.perf_counter()
        run_job(bench, workload, g)
        warm.append(time.perf_counter() - t)
    tally = Tally()
    deadline = time.monotonic() + seconds
    while tally.attempted < MIN_TIMED or time.monotonic() < deadline:
        tally.run(lambda: run_job(bench, workload, g), check)
    if not tally.jobs:
        raise RuntimeError("every timed job raised")
    return warm, tally


# -- traced run ----------------------------------------------------------------

def _call_stats(groups, job: Job, prefix: str):
    """(stats, start, end) of the job's call tagged ``prefix``."""
    for name, start, end in job.calls:
        if name.startswith(prefix + "#"):
            return groups.get(name, eventlog.GroupStats()), start, end
    raise KeyError(prefix)


def layer_values(workload: str, groups, job: Job, g: Graph) -> dict:
    """Per-layer metrics of one traced job."""
    out = {}
    if workload == "pagerank_df":
        st, start, end = _call_stats(groups, job, "operators.pagerank")
        loop_s = job.extra["loop_s"]
        out["operators.pagerank.setup_s"] = job.wall_s - loop_s
        out["operators.pagerank.loop_s"] = loop_s
        out["operators.pagerank.step_s"] = loop_s / job.supersteps
        for k in _CALL:
            out[f"operators.pagerank.{k}"] = (
                eventlog.driver_idle_s(st, start, end) if k == "driver_idle_s" else getattr(st, k)
            )
    else:
        st, start, end = _call_stats(groups, job, "plans.csr")
        out["plans.csr.build_s"] = end - start
        out["plans.csr.block_mb"] = (40 * g.ref.n_edges + 24 * g.ref.n) / eventlog.MB
        out["plans.csr.shuffle_write_mb"] = st.shuffle_write_mb
        st, start, end = _call_stats(groups, job, "operators.subgraph_pagerank")
        p = "operators.subgraph_pagerank."
        out[p + "loop_s"] = job.extra["loop_s"]
        out[p + "step_s"] = job.extra["loop_s"] / job.supersteps
        for k in ("jobs", "stages", "python_stages", "python_task_s",
                  "shuffle_read_mb", "shuffle_write_mb", "heap_peak_mb"):
            out[p + k] = getattr(st, k)
        out[p + "driver_idle_s"] = eventlog.driver_idle_s(st, start, end)
    return out


def traced_run(args, base_job_s: float, tally: Tally) -> dict:
    """Restart the context with the event log on; time tagged calls."""
    event_dir = WORK / "events"
    bench = Bench(args.seed, event_dir=event_dir)
    bench.start()
    g = bench.load(1, ingest_group="sources.ingest")
    check = Check(args.workload, g)
    run_job(bench, args.workload, g, traced=True)  # warm-up in the new context
    jobs = [tally.run(lambda: run_job(bench, args.workload, g, traced=True), check)
            for _ in range(TRACED_JOBS)]
    ckpt = None
    if args.workload == "pagerank_df":
        ckpt = tally.run(lambda: bench.pagerank(g, traced=True, checkpoint=True), check)
    bench.stop()

    (log_path,) = event_dir.iterdir()
    groups = eventlog.fold(eventlog.read_events(str(log_path)))
    per_job = [layer_values(args.workload, groups, j, g) for j in jobs if j is not None]
    layer = {k: 0.0 for k in PER_LAYER}
    for k in per_job[0]:
        layer[k] = statistics.median(v[k] for v in per_job)
    ing = groups.get("sources.ingest", eventlog.GroupStats())
    layer.update({
        "sources.ingest.wall_s": g.ingest_walls[0],
        "sources.ingest.task_s": ing.task_s,
        "sources.ingest.shuffle_write_mb": ing.shuffle_write_mb,
        "sources.ingest.edges": g.ref.n_edges,
        "sources.ingest.vertices": g.ref.n,
        "trace.overhead_pct": 100.0 * (
            statistics.median(j.wall_s for j in jobs if j is not None) / base_job_s - 1.0
        ),
        "trace.failed_tasks": sum(s.failed_tasks for s in groups.values()),
        "trace.retried_tasks": sum(s.retried_tasks for s in groups.values()),
    })
    if ckpt is not None:
        st, _, _ = _call_stats(groups, ckpt, "pagerank_ckpt")
        layer["plans.superstep.commit_s"] = st.write_job_s
        layer["plans.superstep.ckpt_write_mb"] = st.output_mb
        layer["plans.superstep.step_ms_p50"] = ckpt.extra["step_ms_p50"]
    return layer


# -- entry point -------------------------------------------------------------

def run(args, canary_s: float, sampler: procfs.PeakSampler) -> dict:
    bench = Bench(args.seed)
    bench.start()
    g = bench.load(INGEST_REPEATS)
    check = Check(args.workload, g)
    warm, tally = measure(bench, args.workload, g, check, args.seconds)
    job_s = statistics.median(j.wall_s for j in tally.jobs)
    supersteps = statistics.median(j.supersteps for j in tally.jobs)
    setup_s = bench.start_s + statistics.median(g.ingest_walls) + sum(warm)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": NPROC,
        "edges": g.ref.n_edges,
        "vertices": g.ref.n,
        "session_start_s": bench.start_s,
        "generate_s": bench.generate_s,
        "ingest_s": g.ingest_walls,
        "warmup_s": warm,
        "job_s": [j.wall_s for j in tally.jobs],
        "supersteps": [j.supersteps for j in tally.jobs],
        "host.canary_s": canary_s,
        "processes_seen": len(sampler.seen),
        "check_errors": check.errors,
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "edges_per_s": check.work_steps * g.ref.n_edges / job_s,
            "supersteps": supersteps,
            "peak_rss_mb": sampler.peak_mb,
        }
        units = END_TO_END
    else:
        bench.stop()
        metrics = traced_run(args, job_s, tally)
        metrics["session.start_s"] = bench.start_s
        metrics["host.canary_s"] = canary_s
        units = PER_LAYER
    log("detail " + json.dumps(detail))
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def shutdown(seen: set[tuple[int, int]]) -> None:
    """Stop Spark, end the JVM and wait until every process we saw is gone.

    ``seen`` holds ``(pid, start time)`` pairs, so a pid that an unrelated
    process took over after ours ended is neither waited on nor killed."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.close()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
    left = procfs.wait_gone({i for i in seen if i[0] != os.getpid()}, 30)
    for pid, start in left:
        if procfs.identity(pid) == (pid, start):
            log(f"killing leftover process {pid}")
            os.kill(pid, 9)
    procfs.wait_gone(left, 10)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "goffish_v3_spark" / "__init__.py").is_file():
        log(f"engine package goffish_v3_spark not found under {ROOT}")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    # everything the run writes stays in WORK; Python workers forked by the
    # JVM import the engine from ROOT whatever their working directory
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    sys.path.insert(0, str(ROOT))

    canary_s = host_canary()
    sampler = procfs.PeakSampler(os.getpid())
    try:
        with sampler:
            result = run(args, canary_s, sampler)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(sampler.seen)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
