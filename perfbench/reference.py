"""Driver-side numpy PageRank used to check every timed job.

Independent of the engine: it shares only the update rule with
``operators.pagerank`` — ``rank' = α·Σ_in(rank_u / outdeg_u) + (1 − α)/N``
from ``1/N``, no dangling redistribution, N = all endpoints, duplicate edges
counted once.
"""

from __future__ import annotations

import numpy as np

ALPHA = 0.85


class ReferencePageRank:
    def __init__(self, src: np.ndarray, dst: np.ndarray, alpha: float = ALPHA):
        pairs = np.unique(np.stack([src, dst], axis=1).astype(np.int64), axis=0)
        self.vids = np.unique(pairs)
        self.s = np.searchsorted(self.vids, pairs[:, 0])
        self.d = np.searchsorted(self.vids, pairs[:, 1])
        self.n = len(self.vids)
        self.n_edges = len(pairs)
        self.alpha = alpha
        self.inv_deg = 1.0 / np.bincount(self.s, minlength=self.n)[self.s]

    def step(self, r: np.ndarray) -> np.ndarray:
        contrib = np.bincount(self.d, weights=r[self.s] * self.inv_deg, minlength=self.n)
        return self.alpha * contrib + (1.0 - self.alpha) / self.n

    def fixed(self, iterations: int) -> np.ndarray:
        r = np.full(self.n, 1.0 / self.n)
        for _ in range(iterations):
            r = self.step(r)
        return r

    def power(self, eps: float, max_iter: int = 1000) -> tuple[int, np.ndarray]:
        """``(updates, ranks)`` of a plain power iteration from 1/N, stopped
        by the engines' ε-gate: the first update that moves no rank by more
        than ``eps``."""
        r = np.full(self.n, 1.0 / self.n)
        for i in range(1, max_iter + 1):
            r_new = self.step(r)
            if np.max(np.abs(r_new - r)) <= eps:
                return i, r_new
            r = r_new
        raise RuntimeError(f"reference PageRank did not reach eps={eps}")

    def align(self, vid: np.ndarray, rank: np.ndarray) -> np.ndarray:
        """Engine output ``(vid, rank)`` reordered to ``self.vids``; raises
        unless it has exactly one row per vertex."""
        vid = np.asarray(vid, dtype=np.int64)
        if len(vid) != self.n:
            raise AssertionError(f"{len(vid)} result rows, expected |V| = {self.n}")
        order = np.argsort(vid)
        if not np.array_equal(vid[order], self.vids):
            raise AssertionError("result vertex ids differ from the edge table's")
        return np.asarray(rank, dtype=np.float64)[order]


def check_close(got: np.ndarray, want: np.ndarray, atol: float, what: str) -> float:
    """Raise unless ``max |got − want| ≤ atol``; return that maximum."""
    err = float(np.max(np.abs(got - want))) if len(want) else 0.0
    if not err <= atol:
        raise AssertionError(f"{what}: max |error| {err:.3g} > {atol:.3g}")
    return err


class ConvergedCheck:
    """Whether ranks are the PageRank fixed point r* within what the
    engines' ε-gate on max |Δ| tolerates:

    - max |rank − r*| ≤ ε·α/(1 − α): the error bound of an iteration that
      contracts by α, stopped once a step moves nothing by more than ε.
      PageRank contracts by α in the L1 norm; the bound is applied here to
      max |Δ| because that is what the gate measures;
    - Σ|rank − r*| ≤ the same sum for a plain power iteration from 1/N
      stopped by the same gate. This also bounds |Σ rank − Σ r*|, so r*
      scaled by c fails once |1 − c|·Σ r* exceeds it, where a residual
      check alone passes every c·r*, zero included.
    """

    def __init__(self, ref: ReferencePageRank, eps: float):
        self.steps, gated = ref.power(eps)
        self.want = ref.power(1e-14)[1]  # r*, to float precision
        self.max_tol = eps * ref.alpha / (1.0 - ref.alpha)
        self.l1_tol = float(np.abs(gated - self.want).sum())

    def __call__(self, rank: np.ndarray) -> dict:
        """Raise unless ``rank`` (aligned to ``ref.vids``) passes; return
        its errors."""
        err = np.abs(rank - self.want)
        out = {"max_err": float(err.max()), "l1_err": float(err.sum()),
               "sum": float(rank.sum())}
        if not out["max_err"] <= self.max_tol:
            raise AssertionError(
                f"max |rank - r*| {out['max_err']:.3g} > {self.max_tol:.3g}")
        if not out["l1_err"] <= self.l1_tol:
            raise AssertionError(
                f"sum |rank - r*| {out['l1_err']:.3g} > {self.l1_tol:.3g} "
                f"(ranks sum to {out['sum']:.4g}, r* to {self.want.sum():.4g})")
        return out
