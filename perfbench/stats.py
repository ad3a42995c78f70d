"""Order statistics for benchmark samples."""

from __future__ import annotations

import math

#: a percentile is reported as supported only when at least this many
#: samples lie beyond it
BEYOND = 10


def percentile(xs: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default), p in [0, 1]."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ``BEYOND`` above percentile ``p``.

    The median is always reported; higher percentiles need the tail to hold
    enough samples that one outlier does not decide them.
    """
    return p <= 0.5 or math.floor(n * (1 - p) + 1e-9) >= BEYOND


def summary(xs: list[float], ps: tuple[float, ...] = (0.5, 0.9)) -> dict:
    """``{"n": .., "p50": .., "p90": .., "supported": {"p90": bool}}``."""
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    for p in ps:
        out[f"p{round(p * 100)}"] = percentile(xs, p)
    out["supported"] = {f"p{round(p * 100)}": supported(len(xs), p) for p in ps}
    return out
