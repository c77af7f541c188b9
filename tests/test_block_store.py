"""Block-store lifecycle: every CSR operator removes the tempdir it created,
whether it returns or raises, and keeps a caller-supplied ``blocks_dir``.
Also pins the Spark jobs one call of each superstep-driven operator runs."""

import contextlib
import glob
import os
import tempfile

import pytest

from goffish_v3_spark.operators import kcore, lpa, sssp, subgraph_pagerank, wcc
from goffish_v3_spark.plans import block_cache, superstep
from tests import graphs
from tests.test_subgraph_pagerank import _job_ids

OPERATORS = {
    "subgraph_rank": lambda s, df, **kw: subgraph_pagerank.subgraph_rank(
        s, df, num_parts=4, **kw),
    "lpa_csr": lambda s, df, **kw: lpa.lpa_csr(s, df, num_parts=4, **kw),
    "sssp_csr": lambda s, df, **kw: sssp.sssp_csr(s, df, source=0, num_parts=4, **kw),
    "core_numbers": lambda s, df, **kw: kcore.core_numbers(s, df, num_parts=4, **kw),
    "k_core": lambda s, df, **kw: kcore.k_core(s, df, k=2, num_parts=4, **kw),
}


@pytest.fixture
def made_tempdirs(tmp_path, monkeypatch):
    """Point tempfile at a private dir and record every mkdtemp call."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    made = []
    real = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        path = real(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    return root, made


def _stores(made):
    return [p for p in made if os.path.basename(p).startswith("goffish_")]


def _graph(spark):
    return graphs.to_df(spark, graphs.barabasi_albert(60, m=2, seed=3))


# the engines of plans.block_cache.csr_fixpoint: below the one-task budget
# they write no block store
ONE_TASK = ("subgraph_rank", "sssp_csr", "core_numbers", "k_core")


def _store_path(monkeypatch, name):
    """The csr_fixpoint engines write a block store only above the one-task
    budget, so their lifecycle is checked with the budget forced to 0."""
    if name in ONE_TASK:
        monkeypatch.setattr(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0)


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_owned_tempdir_removed_after_return(spark, made_tempdirs, monkeypatch, name):
    root, made = made_tempdirs
    _store_path(monkeypatch, name)
    run = OPERATORS[name]
    assert run(spark, _graph(spark)).count() > 0
    assert _stores(made)
    assert not glob.glob(str(root / "goffish_*"))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_owned_tempdir_removed_after_raise(spark, made_tempdirs, monkeypatch, name):
    root, made = made_tempdirs
    _store_path(monkeypatch, name)
    run = OPERATORS[name]

    @contextlib.contextmanager
    def failing_no_aqe(spark):
        raise RuntimeError("injected superstep failure")
        yield

    # every CSR operator enters the superstep driver, which enters no_aqe,
    # inside its block store
    monkeypatch.setattr(superstep, "no_aqe", failing_no_aqe)
    with pytest.raises(RuntimeError, match="injected"):
        run(spark, _graph(spark))
    assert _stores(made)
    assert not glob.glob(str(root / "goffish_*"))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_explicit_blocks_dir_kept(spark, made_tempdirs, monkeypatch, tmp_path, name):
    _, made = made_tempdirs
    _store_path(monkeypatch, name)
    run = OPERATORS[name]
    d = tmp_path / "blocks"
    assert run(spark, _graph(spark), blocks_dir=str(d)).count() > 0
    assert not _stores(made)
    assert glob.glob(str(d / "part=*" / "*.parquet"))


@pytest.mark.parametrize("name", ONE_TASK)
def test_one_task_path_makes_no_store(spark, made_tempdirs, name):
    """Below the one-task budget the csr_fixpoint engines make no block
    store tempdir."""
    _, made = made_tempdirs
    assert OPERATORS[name](spark, _graph(spark)).count() > 0
    assert not _stores(made)


# Spark jobs per call on BA(60, 2, seed 3) at 4 parts, with the one-task
# budget at its default and forced to 0. The superstep loop adds no job of
# its own; the CSR engines read their result from the loop's last
# checkpoint instead of checkpointing it again, and the block sizes ride
# the block-store write. Below the budget the csr_fixpoint engines are one
# sizing job and one job from the edge table; above it the blocks built
# from the sized rows are not persisted first, the store's write is their
# one use.
JOB_COUNTS = {
    "subgraph_rank": (2, 10),
    "lpa_csr": (7, 7),
    "sssp_csr": (2, 6),
    "core_numbers": (2, 4),
    "k_core": (2, 6),
    "sssp": (8, 8),
    "wcc": (13, 17),
}
RUNS = {
    **OPERATORS,
    "sssp": lambda s, df: sssp.sssp(s, df, source=0),
    "wcc": lambda s, df: wcc.wcc(s, df, num_parts=4),
}


@pytest.mark.parametrize("budget", ["default", "zero"])
@pytest.mark.parametrize("name", sorted(RUNS))
def test_jobs_per_call(spark, monkeypatch, name, budget):
    if budget == "zero":
        monkeypatch.setattr(block_cache, "CONSOLIDATE_BUDGET_BYTES", 0)
    _, jobs = _job_ids(spark, f"jobs_{name}_{budget}", lambda: RUNS[name](spark, _graph(spark)))
    want = JOB_COUNTS[name][budget == "zero"]
    assert len(jobs) <= want, (name, budget, len(jobs))


def test_load_block_raises_for_missing_block(tmp_path):
    from goffish_v3_spark.plans.block_cache import load_block

    with pytest.raises(RuntimeError, match="not found"):
        load_block(str(tmp_path), 0)
