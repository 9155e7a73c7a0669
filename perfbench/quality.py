"""Community-recovery score of extracted against planted communities."""

from __future__ import annotations

import numpy as np


def best_match_f1(truth: list[np.ndarray], found: list[np.ndarray], universe: np.ndarray) -> float:
    """Mean two-way best-match F1 (Yang & Leskovec): half the mean over
    planted communities of the best F1 against any found community,
    plus half the same from the found side. Members outside
    ``universe`` are ignored; empty sets are dropped."""
    index = {int(v): i for i, v in enumerate(universe.tolist())}

    def incidence(sets: list[np.ndarray]) -> np.ndarray:
        rows = []
        for s in sets:
            idx = [index[int(v)] for v in s.tolist() if int(v) in index]
            if idx:
                row = np.zeros(len(index), dtype=np.float64)
                row[idx] = 1.0
                rows.append(row)
        return np.array(rows).reshape(len(rows), len(index))

    t, f = incidence(truth), incidence(found)
    if len(t) == 0 or len(f) == 0:
        return 0.0
    inter = t @ f.T
    size_t, size_f = t.sum(1)[:, None], f.sum(1)[None, :]
    f1 = 2.0 * inter / (size_t + size_f)
    return float(0.5 * f1.max(1).mean() + 0.5 * f1.max(0).mean())

