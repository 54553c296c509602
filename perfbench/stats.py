"""Interval arithmetic for status-store job times and trace spans."""

from __future__ import annotations


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals; intervals with a
    missing end are skipped."""
    total, lo_cur, hi_cur = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if None not in i):
        if hi_cur is None or lo > hi_cur:
            if hi_cur is not None:
                total += hi_cur - lo_cur
            lo_cur, hi_cur = lo, hi
        else:
            hi_cur = max(hi_cur, hi)
    if hi_cur is not None:
        total += hi_cur - lo_cur
    return total
