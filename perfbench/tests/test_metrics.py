"""Metric names and units, BENCHMARK.json, the numpy reference and the
result unpacking: everything in run.py that runs without Spark."""

import json
import re
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from reference import ConvergedCheck, ReferencePageRank, check_close  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_matches_run():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


def test_names_units_and_bounds():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_every_layer_metric_names_a_module_or_the_harness():
    for name in run.PER_LAYER:
        head = name.split(".")[0]
        assert head in {"session", "sources", "operators", "plans", "trace", "host"}


def _loop_pagerank(edges, iterations, alpha=0.85):
    """Plain-Python PageRank with the engine's rule, for the numpy reference."""
    edges = sorted(set(edges))
    vids = sorted({v for e in edges for v in e})
    n = len(vids)
    out = {v: sum(1 for s, _ in edges if s == v) for v in vids}
    r = {v: 1.0 / n for v in vids}
    for _ in range(iterations):
        nxt = {v: (1 - alpha) / n for v in vids}
        for s, d in edges:
            nxt[d] += alpha * r[s] / out[s]
        r = nxt
    return np.array([r[v] for v in vids])


def test_reference_matches_loop_version():
    rng = np.random.default_rng(3)
    src = rng.integers(0, 40, 300) * 7919 - 10**15
    dst = rng.integers(0, 40, 300) * 7919 - 10**15
    keep = src != dst
    src, dst = src[keep], dst[keep]
    ref = ReferencePageRank(src, dst)
    want = _loop_pagerank(list(zip(src.tolist(), dst.tolist())), 10)
    np.testing.assert_allclose(ref.fixed(10), want, rtol=1e-12, atol=0)
    assert ref.n_edges == len(set(zip(src.tolist(), dst.tolist())))


def test_reference_steps_and_align():
    # 0 -> 1 -> 2 -> 0 plus a sink 3: converges, counts updates
    ref = ReferencePageRank(np.array([0, 1, 2, 2]), np.array([1, 2, 0, 3]))
    steps, r = ref.power(1e-3)
    np.testing.assert_array_equal(r, ref.fixed(steps))
    assert np.max(np.abs(ref.step(r) - r)) <= 1e-3
    assert steps > 1
    got = ref.align(np.array([3, 1, 0, 2]), np.array([r[3], r[1], r[0], r[2]]))
    np.testing.assert_array_equal(got, r)
    with pytest.raises(AssertionError):
        ref.align(np.array([0, 1, 2]), r[:3])
    with pytest.raises(AssertionError):
        ref.align(np.array([0, 1, 2, 9]), r)
    with pytest.raises(AssertionError):
        check_close(r + 1e-3, r, 1e-4, "shifted")


def test_converged_check_catches_a_wrong_scale():
    rng = np.random.default_rng(5)
    # 1000 vertices, so that (1 - α)/N, the residual of the zero vector, is
    # under ε as on the benchmark graph
    src = np.repeat(np.arange(1000), 5)
    dst = (src + rng.integers(1, 30, 5000) ** 2) % 1000
    ref = ReferencePageRank(src, dst)
    eps = 1e-3
    check = ConvergedCheck(ref, eps)
    r_star = check.want
    assert np.max(np.abs(ref.step(r_star) - r_star)) < 1e-14
    # the fixed point and what the plain ε-gated iteration returns both pass
    assert check(r_star)["max_err"] < 1e-13
    check(ref.power(eps)[1])
    # vectors with a residual under ε that a residual check would accept
    for wrong in (np.zeros(ref.n), 0.5 * r_star, 0.9 * r_star):
        assert np.max(np.abs(ref.step(wrong) - wrong)) <= eps
        with pytest.raises(AssertionError):
            check(wrong)
    # the 1/N start is not converged either
    with pytest.raises(AssertionError):
        check(np.full(ref.n, 1.0 / ref.n))


def test_unpack_accepts_every_result_shape():
    df = SimpleNamespace(pr_supersteps=7)
    info = SimpleNamespace(supersteps=10, state="state")
    assert run.unpack(("scores", info)) == ("scores", 10)
    assert run.unpack(info) == ("state", 10)
    assert run.unpack(df) == (df, 7)


def test_missing_engine_exits_nonzero(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    rc = run.main(["--workload", "pagerank_df", "--seed", "1", "--seconds", "1"])
    assert rc != 0
