"""Quality score and the per-call correctness gate."""

from __future__ import annotations

import numpy as np


def _pairs(counts: np.ndarray) -> float:
    counts = counts.astype(np.float64)
    return float((counts * (counts - 1.0) / 2.0).sum())


def adjusted_rand_index(a, b) -> float:
    """Adjusted Rand index of two labelings (Hubert & Arabie 1985).
    Every distinct value is its own cluster, so noise (label 0) is kept as
    one more label. Two labelings that each put everything in a single
    cluster score 1.0."""
    a = np.asarray(a)
    b = np.asarray(b)
    if a.shape != b.shape:
        raise ValueError("labelings differ in length")
    _, ia = np.unique(a, return_inverse=True)
    _, ib = np.unique(b, return_inverse=True)
    nb = int(ib.max()) + 1 if len(ib) else 1
    table = np.bincount(ia * nb + ib)
    together = _pairs(table)
    pa = _pairs(np.bincount(ia))
    pb = _pairs(np.bincount(ib))
    total = _pairs(np.array([len(a)]))
    expected = pa * pb / total if total else 0.0
    top = (pa + pb) / 2.0
    if top == expected:
        return 1.0
    return (together - expected) / (top - expected)


class Gate:
    """Collects failed checks of one call; ``ok`` is False once any fails."""

    def __init__(self, what: str):
        self.what = what
        self.failures: list[str] = []

    def check(self, cond: bool, msg: str) -> None:
        if not cond:
            self.failures.append(f"{self.what}: {msg}")

    @property
    def ok(self) -> bool:
        return not self.failures


def labels_by_id(tbl, n: int, gate: Gate) -> np.ndarray | None:
    """Fit labels ordered by point id; checks that ids 0..n-1 each appear
    exactly once."""
    ids = tbl.column("point_id").to_numpy()
    gate.check(len(ids) == n, f"{len(ids)} label rows for {n} points")
    order = np.argsort(ids, kind="stable")
    gate.check(
        np.array_equal(ids[order], np.arange(n)),
        "point ids not labelled exactly once",
    )
    if not gate.ok:
        return None
    return tbl.column("label").to_numpy()[order]
