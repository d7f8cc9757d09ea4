"""Shared reducers for the bench tools (r5 review: the median helper
had drifted into four copies).

bench.py at the repo root stays self-contained by design — it is the
driver-contract surface and must run with no sibling imports — so its
inline ``median`` mirrors this one; change both together.
"""

from __future__ import annotations


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2
