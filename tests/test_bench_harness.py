"""Unit tests for the bench host-integrity machinery (VERDICT r4 #1) —
pure-Python: the canary job is stubbed, no Spark session.

The property under test: a burst window like r4's (which inflated the
unsalted hub pair 2.7× with both envelope canaries green) must be
machine-visible per query, trigger a re-run, and never feed a derived
ratio from a contaminated wall.
"""

import bench as B


class _ScriptedGuard(B.HostGuard):
    """HostGuard with a scripted canary-wall sequence instead of a Spark job."""

    def __init__(self, walls, warm_ref=1.0):
        super().__init__(spark=None, warm_ref=warm_ref)
        self._walls = list(walls)

    def checkpoint(self):
        wall = self._walls.pop(0)
        self.n_canaries += 1
        self.canary_overhead += wall
        threshold = B.WARM_SPEED_FACTOR * self.warm_ref
        if wall > threshold:
            wall2 = self._walls.pop(0)  # min-of-2 retry, like the real guard
            self.n_canaries += 1
            self.canary_overhead += wall2
            wall = min(wall, wall2)
        ok = wall <= threshold
        self.last_wall, self.last_ok = round(wall, 3), ok
        return self.last_wall, ok


def test_clean_query_single_run():
    g = _ScriptedGuard([0.5, 0.5])  # seed + after
    b = B.Bench(spark=None, guard=g)
    b.run("q", lambda: None)
    assert b.timings["q"] > 0 or b.timings["q"] == 0.0
    assert b.meta["q"]["host_ok"] is True
    assert b.meta["q"]["runs"] is None  # single clean run: no extra detail
    assert b.clean_wall("q") == b.timings["q"]


def test_flagged_query_reruns_and_recovers():
    # seed ok; first after-canary red twice (genuine throttle, min-of-2
    # stays red); retry re-probes green; second after-canary green
    g = _ScriptedGuard([0.5, 9.0, 9.0, 0.5, 0.5])
    b = B.Bench(spark=None, guard=g)
    calls = []
    b.run("q", lambda: calls.append(1))
    assert len(calls) == 2  # re-ran once
    assert b.meta["q"]["host_ok"] is True
    runs = b.meta["q"]["runs"]
    assert runs is not None and len(runs) == 2
    assert runs[0]["host_ok"] is False and runs[1]["host_ok"] is True
    # the published wall comes from the CLEAN run, not min-of-contaminated
    assert b.timings["q"] == runs[1]["wall"]


def test_never_clean_withholds_from_derived_ratios():
    # every canary red (throttle across the whole window, incl. min-of-2
    # retries): both attempts flagged, min wall kept, clean_wall -> None
    g = _ScriptedGuard([9.0] * 20)
    b = B.Bench(spark=None, guard=g)
    b.run("q", lambda: None, reruns=1)
    assert b.meta["q"]["host_ok"] is False
    assert len(b.meta["q"]["runs"]) == 2
    assert b.clean_wall("q") is None  # ratio code must see None, not a wall


def test_blip_absorbed_by_min_of_two():
    # a GC blip (one red probe, immediate green retry) must NOT flag
    g = _ScriptedGuard([0.5, 9.0, 0.5])  # seed, blip, retry-green
    b = B.Bench(spark=None, guard=g)
    b.run("q", lambda: None)
    assert b.meta["q"]["host_ok"] is True
    assert b.meta["q"]["runs"] is None


def _scripted_jobs(monkeypatch, jvm_walls, py_walls):
    jvm, py = iter(jvm_walls), iter(py_walls)
    monkeypatch.setattr(B, "_canary_job", lambda s: next(jvm))
    monkeypatch.setattr(B, "_py_canary_job", lambda s: next(py))


def test_py_canary_flags_python_axis(monkeypatch):
    # the r5-measured blind spot: JVM canary green, python-worker canary
    # red (incl. its min-of-2 retry) -> the checkpoint must flag
    _scripted_jobs(monkeypatch, [0.5] * 4, [9.0, 9.0])
    g = B.HostGuard(spark=None, warm_ref=1.0, py_ref=0.6)
    _, ok = g.checkpoint()
    assert ok is False
    assert g.last_py_wall == 9.0


def test_py_canary_blip_absorbed(monkeypatch):
    _scripted_jobs(monkeypatch, [0.5] * 4, [9.0, 0.5])  # blip, retry green
    g = B.HostGuard(spark=None, warm_ref=1.0, py_ref=0.6)
    _, ok = g.checkpoint()
    assert ok is True
    assert g.last_py_wall == 0.5


def test_py_canary_off_without_ref(monkeypatch):
    def boom(s):
        raise AssertionError("py canary must not run when py_ref is None")

    monkeypatch.setattr(B, "_canary_job", lambda s: 0.5)
    monkeypatch.setattr(B, "_py_canary_job", boom)
    g = B.HostGuard(spark=None, warm_ref=1.0)  # no py_ref
    _, ok = g.checkpoint()
    assert ok is True and g.last_py_wall is None


def test_both_axes_must_be_green(monkeypatch):
    # jvm red, python green -> still flagged (jvm gate unchanged)
    _scripted_jobs(monkeypatch, [9.0, 9.0], [0.5])
    g = B.HostGuard(spark=None, warm_ref=1.0, py_ref=0.6)
    _, ok = g.checkpoint()
    assert ok is False


def test_headline_stays_short_with_every_query_flagged():
    """The headline is the one line a 2000-char tail capture must parse: a
    40-query run where every query was flagged and re-run keeps it under
    1500 chars, because brackets and re-runs go to the detail file."""
    import json

    # the suite's query names average 16 chars; walls are two-digit seconds
    names = [f"graph_query_{i:02d}_sf" for i in range(40)]
    # every bracket red twice (min-of-2 stays red), on both attempts
    g = _ScriptedGuard([9.0] * (len(names) * 8 + 2))
    b = B.Bench(spark=None, guard=g)
    for name in names:
        b.run(name, lambda: None)
        b.timings[name] = 99.999
    assert all(m["runs"] is not None for m in b.meta.values())
    line = B.headline(b)
    assert len(line) < 1500, len(line)
    parsed = json.loads(line)
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "sf", "cpus", "all_queries_host_ok"
    }
    assert len(parsed["queries"]) == 40 and parsed["all_queries_host_ok"] is False
