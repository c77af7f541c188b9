"""The /proc reader on a fake process table and on the live one."""

import os
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import procfs  # noqa: E402


def _proc(root: Path, pid: int, ppid: int, comm: str, state="S", pss=None, start=None):
    d = root / str(pid)
    d.mkdir()
    # fields 3-22 of stat: state, ppid, 17 fields the reader skips, start time
    start = 1000 + pid if start is None else start
    (d / "stat").write_text(f"{pid} ({comm}) {state} {ppid} " + "0 " * 17 + f"{start} 0 0\n")
    if pss is not None:
        (d / "smaps_rollup").write_text(
            f"00400000-7fff [rollup]\nRss:   {pss * 3} kB\nPss:   {pss} kB\n"
        )


@pytest.fixture
def fake_proc(tmp_path):
    # 10 (driver) -> 11 (jvm) -> 12 (python daemon) -> 13, 14 (workers)
    # 20 is unrelated; 13's name has spaces and ')'
    _proc(tmp_path, 10, 1, "python3", pss=1000)
    _proc(tmp_path, 11, 10, "java", pss=3000)
    _proc(tmp_path, 12, 11, "python3", pss=200)
    _proc(tmp_path, 13, 12, "py worker) x", pss=50)
    _proc(tmp_path, 14, 12, "python3", pss=70)
    _proc(tmp_path, 20, 1, "other", pss=99999)
    _proc(tmp_path, 30, 1, "dead", state="Z")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_descendants(fake_proc):
    assert sorted(procfs.descendants(10, fake_proc)) == [10, 11, 12, 13, 14]
    assert sorted(procfs.descendants(12, fake_proc)) == [12, 13, 14]


def test_pss(fake_proc):
    assert procfs.pss_kb(11, fake_proc) == 3000
    assert procfs.pss_kb(99, fake_proc) == 0  # gone
    # exiting: no Pss line, and RSS is never counted in its place
    (Path(fake_proc) / "14" / "smaps_rollup").write_text("")
    (Path(fake_proc) / "14" / "status").write_text("VmRSS:\t70 kB\n")
    assert procfs.pss_kb(14, fake_proc) == 0


def test_sampler_sums_the_tree_once(fake_proc):
    with procfs.PeakSampler(10, interval_s=0.01, proc=fake_proc) as s:
        pass
    assert s.peak_mb == pytest.approx((1000 + 3000 + 200 + 50 + 70) / 1024)
    assert s.seen == {(p, 1000 + p) for p in (10, 11, 12, 13, 14)}


def test_identity(fake_proc):
    assert procfs.identity(13, fake_proc) == (13, 1013)
    assert procfs.identity(30, fake_proc) is None  # zombie
    assert procfs.identity(99, fake_proc) is None


def test_wait_gone_ignores_a_reused_pid(fake_proc, tmp_path):
    assert procfs.wait_gone([(11, 1011)], 0.01, fake_proc) == [(11, 1011)]
    # pid 11 ended and an unrelated process started under the same pid
    shutil.rmtree(tmp_path / "11")
    _proc(tmp_path, 11, 1, "other", start=5000)
    assert procfs.wait_gone([(11, 1011)], 0.01, fake_proc) == []


def test_live_tree_and_sampler():
    me = os.getpid()
    assert me in procfs.descendants(me)
    assert procfs.pss_kb(me) > 0
    with procfs.PeakSampler(me, interval_s=0.01) as s:
        pass
    assert s.peak_mb > 0
    assert procfs.identity(me) in s.seen
    assert procfs.wait_gone([procfs.identity(me)], 0.01) == [procfs.identity(me)]
