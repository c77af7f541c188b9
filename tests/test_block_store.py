"""Block-store lifecycle: every CSR operator removes the tempdir it created,
whether it returns or raises, and keeps a caller-supplied ``blocks_dir``."""

import contextlib
import glob
import os
import tempfile

import pytest

from goffish_v3_spark.operators import kcore, lpa, sssp, subgraph_pagerank
from tests import graphs

OPERATORS = {
    "subgraph_rank": (subgraph_pagerank, lambda s, df, **kw: subgraph_pagerank.subgraph_rank(
        s, df, num_parts=4, **kw)),
    "lpa_csr": (lpa, lambda s, df, **kw: lpa.lpa_csr(s, df, num_parts=4, **kw)),
    "sssp_csr": (sssp, lambda s, df, **kw: sssp.sssp_csr(s, df, source=0, num_parts=4, **kw)),
    "core_numbers": (kcore, lambda s, df, **kw: kcore.core_numbers(s, df, num_parts=4, **kw)),
    "k_core": (kcore, lambda s, df, **kw: kcore.k_core(s, df, k=2, num_parts=4, **kw)),
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


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_owned_tempdir_removed_after_return(spark, made_tempdirs, name):
    root, made = made_tempdirs
    _, run = OPERATORS[name]
    assert run(spark, _graph(spark)).count() > 0
    assert _stores(made)
    assert not glob.glob(str(root / "goffish_*"))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_owned_tempdir_removed_after_raise(spark, made_tempdirs, monkeypatch, name):
    root, made = made_tempdirs
    module, run = OPERATORS[name]

    @contextlib.contextmanager
    def failing_no_aqe(spark):
        raise RuntimeError("injected superstep failure")
        yield

    # every CSR driver enters no_aqe inside its block store
    monkeypatch.setattr(module, "no_aqe", failing_no_aqe)
    with pytest.raises(RuntimeError, match="injected"):
        run(spark, _graph(spark))
    assert _stores(made)
    assert not glob.glob(str(root / "goffish_*"))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_explicit_blocks_dir_kept(spark, made_tempdirs, tmp_path, name):
    _, made = made_tempdirs
    _, run = OPERATORS[name]
    d = tmp_path / "blocks"
    assert run(spark, _graph(spark), blocks_dir=str(d)).count() > 0
    assert not _stores(made)
    assert glob.glob(str(d / "part=*" / "*.parquet"))


def test_load_block_raises_for_missing_block(tmp_path):
    from goffish_v3_spark.plans.block_cache import load_block

    with pytest.raises(RuntimeError, match="not found"):
        load_block(str(tmp_path), 0)
