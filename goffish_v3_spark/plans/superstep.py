"""The superstep driver loop — BSP without Hama.

:class:`SuperstepLoop` is the package's one fixpoint driver. Its users supply
a step function: ``pagerank``, ``lpa``, ``sssp``, the CSR engines
(``csr_pagerank``/``subgraph_rank``, ``lpa_csr``, ``sssp_csr``,
``core_numbers``/``k_core``), the components meta-Boruvka rounds and their
pointer jumping, ``scc``, ``kmeans_partition`` and ``stats.meta_diameter``. The
loop owns the superstep count, the ``max_iter`` cap, raise-on-non-convergence
and the AQE pin. :func:`observed_checkpoint` is their one-job step: the
state and its stop count in one Spark job.

The reference's superstep machinery (hama GraphJobRunner.java:250-353: message
delivery → per-subgraph compute on a thread pool → barrier → heartbeat-based
global-halt consensus, :428-515,606-614) collapses in Spark to a Python driver
loop where each superstep is one DataFrame job: the shuffle boundary *is*
``peer.sync()``, the driver *is* the master, and convergence is a driver-side
aggregate — no distributed consensus protocol needed (SURVEY.md §2.A A1/A6/A7).

What this module adds over a bare ``for`` loop (north_rule requirements):
- **checkpointing**: per-superstep state written to the state store
  (parquet dirs here; Iceberg tables on a cluster with the runtime jar — the
  layout ``{root}/{run_id}/state/superstep=k`` maps 1:1 onto an Iceberg
  partition spec) so any run is resumable mid-iteration;
- **lineage truncation**: iterative plans grow without bound, so every
  step returns its state materialized (:func:`observed_checkpoint`, or an
  eager ``localCheckpoint``), and a commit's parquet re-read resets
  lineage too (SURVEY.md §7.3);
- **metrics**: with ``checkpoint_dir``, each commit appends one global
  row (``part=-1``: the step's messages, delta, wall ms and ``extra``;
  ``rows`` is -1) and, with ``partition_metrics``, one row per partition
  holding only its state row count (``rows``; the other fields -1 or NaN)
  — the analogue of the reference's GOFFISH3.PERF.* logs (hama
  GraphJobRunner.java:123-178,296-351).
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def no_aqe(spark: SparkSession):
    """Pin AQE off for an iterative driver loop (restored on exit).

    Superstep plans are fixed-shape and re-executed dozens of times; AQE's
    runtime re-planning hurts there (it demotes the per-superstep
    state⋈adjacency join to broadcast-hash and re-broadcasts the whole
    vertex state every iteration — measured 41 s/18 s first-iteration spikes
    and ~25% slower steady state at 5.5M edges / 32 cores). Non-iterative
    operators keep AQE on.

    CONCURRENCY: this mutates the session-global conf — it assumes the
    single-threaded driver this engine uses throughout. Any plan compiled
    concurrently on the same SparkSession (another driver thread, a
    streaming micro-batch) would silently lose AQE, and nested/concurrent
    loops could race the restore. For a multi-threaded driver, scope the
    override with ``spark.newSession()`` per loop instead.
    """
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@dataclass
class StepResult:
    """One superstep's output: next state + convergence signal + metrics.

    ``state`` is already materialized: the step ends in
    :func:`observed_checkpoint` or an eager ``localCheckpoint``, which
    severs its lineage (a converged step's state, which no later step
    reads, may stay lazy). The loop never truncates for a step — a step
    plan that references the previous state more than once would otherwise
    double the logical plan every superstep, and Catalyst analysis time
    grows exponentially.

    ``supersteps``: how many supersteps the call ran (a k-core chain, a
    tail finished in one task); the loop advances its index by it.
    """

    state: DataFrame
    converged: bool
    delta: float = float("nan")
    messages: int = -1
    extra: dict = field(default_factory=dict)
    supersteps: int = 1


#: ``step(state, i)``: one superstep (or a chain of them, ``supersteps``)
#: ending in :func:`observed_checkpoint` or an eager ``localCheckpoint``.
StepFn = Callable[[DataFrame, int], StepResult]


def observed_checkpoint(df: DataFrame, agg: Column):
    """Return ``df`` eagerly local-checkpointed and the value of ``agg``
    over its rows, read in the same Spark job (an Observation)."""
    obs = Observation()
    out = df.observe(obs, agg.alias("value")).localCheckpoint(eager=True)
    return out, obs.get["value"]


@dataclass
class RunInfo:
    run_id: str
    supersteps: int
    converged: bool
    wall_s: float
    state: DataFrame


class SuperstepLoop:
    """Drive ``step`` to convergence with checkpoint/resume + metrics.

    ``step(state, i)`` is the analogue of the user ``compute()`` hook
    (api AbstractSubgraphComputation.java:49) lifted to whole-DataFrame
    granularity; inside it, algorithms use grouped ``applyInPandas`` for
    partition-local kernels and plain DataFrame ops for exchanges; ``i`` is
    the call's first superstep. It stops on ``converged`` or after
    ``max_iter >= 1`` supersteps, where ``must_converge`` raises.

    Each step returns its state materialized (see :class:`StepResult`): the
    loop adds no lineage truncation of its own. With ``checkpoint_dir``,
    every ``checkpoint_every``-th superstep (and the last) is committed,
    and the commit's parquet re-read truncates lineage as well.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        run_id: str | None = None,
        max_iter: int = 100,
        checkpoint_every: int = 1,
        partition_metrics: bool = False,
        partition_expr=None,
        name: str = "superstep loop",
        must_converge: bool = False,
    ):
        if max_iter < 1:
            raise ValueError(f"{name}: max_iter must be >= 1, got max_iter={max_iter}")
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.max_iter = max_iter
        self.checkpoint_every = checkpoint_every
        self.partition_metrics = partition_metrics
        # per-partition lineage/metrics (north_rule) for states WITHOUT a
        # materialized part column: a Column expression deriving the
        # partition from the state row (e.g. vertex_part(vid, P))
        self.partition_expr = partition_expr
        self.name = name
        self.must_converge = must_converge

    # -- checkpoint layout -------------------------------------------------
    def _state_path(self, superstep: int) -> str:
        return f"{self.checkpoint_dir}/{self.run_id}/state/superstep={superstep}"

    def _metrics_path(self) -> str:
        return f"{self.checkpoint_dir}/{self.run_id}/metrics"

    def _manifest_path(self) -> Path:
        return Path(f"{self.checkpoint_dir}/{self.run_id}/manifest.json")

    def last_committed_superstep(self) -> int | None:
        if not self.checkpoint_dir or not self._manifest_path().exists():
            return None
        return json.loads(self._manifest_path().read_text())["last_superstep"]

    def _commit(self, state: DataFrame, superstep: int, metrics: dict) -> DataFrame:
        """Write state + metrics, update manifest, return lineage-free state."""
        path = self._state_path(superstep)
        state.write.mode("overwrite").parquet(path)
        mrows = [
            {
                "run_id": self.run_id,
                "superstep": superstep,
                "part": -1,
                **{k: metrics[k] for k in ("rows", "msgs", "wall_ms")},
                "delta": float(metrics["delta"]),
                "extra": json.dumps(metrics.get("extra", {})),
            }
        ]
        reread = self.spark.read.parquet(path)
        part_key = None
        if self.partition_metrics:
            if "part" in state.columns:
                part_key = F.col("part")
            elif self.partition_expr is not None:
                part_key = self.partition_expr
        if part_key is not None:
            for r in reread.groupBy(part_key.alias("part")).count().collect():
                mrows.append(
                    {
                        "run_id": self.run_id,
                        "superstep": superstep,
                        "part": int(r["part"]),
                        "rows": int(r["count"]),
                        "msgs": -1,
                        "wall_ms": -1,
                        "delta": float("nan"),
                        "extra": "{}",
                    }
                )
        self.spark.createDataFrame(
            mrows,
            schema="run_id string, superstep int, part int, rows long, msgs long, wall_ms long, delta double, extra string",
        ).write.mode("append").parquet(self._metrics_path())
        manifest = {"run_id": self.run_id, "last_superstep": superstep}
        self._manifest_path().parent.mkdir(parents=True, exist_ok=True)
        self._manifest_path().write_text(json.dumps(manifest))
        return reread

    # -- driver loop ---------------------------------------------------------
    def run(self, init_state: DataFrame, step: StepFn, resume: bool = False) -> RunInfo:
        with no_aqe(self.spark):
            return self._run(init_state, step, resume)

    def _run(self, init_state: DataFrame, step: StepFn, resume: bool) -> RunInfo:
        t0 = time.monotonic()
        start = 0
        state = init_state
        if resume:
            last = self.last_committed_superstep()
            if last is not None:
                state = self.spark.read.parquet(self._state_path(last))
                start = last + 1

        converged = False
        i = start
        while i < self.max_iter:
            ts = time.monotonic()
            res = step(state, i)
            state = res.state
            wall_ms = int((time.monotonic() - ts) * 1000)
            metrics = {
                "rows": -1,
                "msgs": res.messages,
                "wall_ms": wall_ms,
                "delta": res.delta,
                "extra": res.extra,
            }
            # the last superstep this call ran; a step never counts past
            # max_iter
            last = min(i + res.supersteps, self.max_iter) - 1
            if self.checkpoint_dir and (
                (i % self.checkpoint_every == 0) or res.converged or last == self.max_iter - 1
            ):
                state = self._commit(state, last, metrics)
            i = last + 1
            if res.converged:
                converged = True
                break

        if self.must_converge and not converged:
            raise RuntimeError(
                f"{self.name} did not converge within max_iter={self.max_iter} supersteps"
            )
        return RunInfo(
            run_id=self.run_id,
            supersteps=i - start,
            converged=converged,
            wall_s=time.monotonic() - t0,
            state=state,
        )

    def metrics(self) -> DataFrame | None:
        if not self.checkpoint_dir:
            return None
        return self.spark.read.parquet(self._metrics_path())
