"""Exact answers computed from the generated input files.

Only pyarrow and numpy touch the data here — never sketchlib — so a
defect in the library cannot hide in its own oracle. Every check returns
``None`` when the answer meets its contract and a one-line reason when it
does not.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

# "within their stated rse multiple": the benchmark accepts a distinct
# count within this many standard errors of the exact count
RSE_MULTIPLE = 5.0


def read_tokens(files, column: str = "tokens") -> np.ndarray:
    """All values of a list<int> column, flattened, as int64."""
    parts = []
    for f in files:
        col = pq.read_table(f, columns=[column]).column(0)
        for chunk in col.chunks:
            parts.append(chunk.flatten().to_numpy(zero_copy_only=False))
    if not parts:
        return np.zeros(0, np.int64)
    return np.concatenate(parts).astype(np.int64, copy=False)


class Counts:
    """Exact multiset of a token stream as sorted (key, count) arrays;
    grows with ``add`` for the append workload."""

    def __init__(self, tokens: np.ndarray) -> None:
        self.keys, self.counts = np.unique(tokens, return_counts=True)
        self.counts = self.counts.astype(np.int64)

    def add(self, tokens: np.ndarray) -> None:
        k2, c2 = np.unique(tokens, return_counts=True)
        keys = np.concatenate([self.keys, k2])
        counts = np.concatenate([self.counts, c2.astype(np.int64)])
        self.keys, inv = np.unique(keys, return_inverse=True)
        self.counts = np.bincount(inv, weights=counts).astype(np.int64)

    @property
    def total(self) -> int:
        return int(self.counts.sum())

    @property
    def distinct(self) -> int:
        return len(self.keys)

    def count(self, keys) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        idx = np.minimum(np.searchsorted(self.keys, keys), len(self.keys) - 1)
        return np.where(self.keys[idx] == keys, self.counts[idx], 0)

    def top(self, n: int) -> np.ndarray:
        """Keys of the ``n`` largest counts."""
        order = np.argsort(-self.counts, kind="stable")[:n]
        return self.keys[order]

    def rank_window(self, lo: float, hi: float) -> tuple[int, int]:
        """Values at ranks ``lo`` and ``hi`` (fractions) of the multiset."""
        cum = np.cumsum(self.counts)
        n = cum[-1]
        a = self.keys[np.searchsorted(cum, lo * n, side="left")]
        b = self.keys[min(np.searchsorted(cum, hi * n, side="left"),
                          len(cum) - 1)]
        return int(a), int(b)


class ProbeCounts:
    """Exact counts of a fixed probe-key set over a stream too large to
    hold as a multiset, accumulated chunk by chunk."""

    def __init__(self, probes) -> None:
        self.keys = np.unique(np.asarray(probes, dtype=np.int64))
        self.counts = np.zeros(len(self.keys), np.int64)
        self.total = 0

    def feed(self, tokens: np.ndarray) -> None:
        tokens = np.asarray(tokens, dtype=np.int64)
        self.total += len(tokens)
        idx = np.minimum(np.searchsorted(self.keys, tokens),
                         len(self.keys) - 1)
        hit = self.keys[idx] == tokens
        self.counts += np.bincount(idx[hit], minlength=len(self.keys))


# -- contract checks ---------------------------------------------------------

def check_cm(est, exact, l1: int, eps: float) -> str | None:
    """Count-Min: exact <= est <= exact + eps * ||f||_1 for every key."""
    est = np.atleast_1d(np.asarray(est, dtype=np.int64))
    exact = np.atleast_1d(np.asarray(exact, dtype=np.int64))
    under = int((est < exact).sum())
    over = int((est > exact + eps * l1).sum())
    if under or over:
        return (f"cm: {under} key(s) under exact, {over} over exact + "
                f"{eps:g}*{l1} (of {len(est)})")
    return None


def check_distinct(est: float, exact: int, rse: float) -> str | None:
    if abs(float(est) - exact) > RSE_MULTIPLE * rse * exact + 1:
        return (f"distinct: {est:.1f} vs exact {exact} beyond "
                f"{RSE_MULTIPLE:g} x rse {rse:.4f}")
    return None


def check_top1(items, counts: Counts) -> str | None:
    """MG's first survivor must be a key with the true maximum count."""
    if not items:
        return "topk: empty"
    got = int(counts.count([int(items[0][0])])[0])
    best = int(counts.counts.max())
    if got != best:
        return f"topk: top-1 key has exact count {got}, true top-1 {best}"
    return None


def check_in_window(value: float, window: tuple[int, int]) -> str | None:
    lo, hi = window
    if not lo <= value <= hi:
        return f"quantile: {value} outside exact window [{lo}, {hi}]"
    return None


def check_equal(got, want, what: str) -> str | None:
    if got != want:
        return f"{what}: {got!r} != {want!r}"
    return None
