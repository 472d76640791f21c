"""Shared pieces of the workloads: profile settings, order-independent
hashes, and the small statistics the report uses."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

# Scale-mode profile settings (fixed bounds, as bench.py runs them).
PROFILE_SETTINGS = dict(
    buffer_size=10, states=10, history=1,
    fix_bound=True, fixed_min=0.0, fixed_max=128.0,
)
# Parity-fold settings: periods and phases on, so the fold runs the period
# tree and phase detection as well as the root counter.
PARITY_SETTINGS = dict(
    PROFILE_SETTINGS, period_size=(24,),
    phase_change_likeliness=0.5, phase_change_history=4,
)

_P = 2147483647  # Mersenne prime: sum of xxhash64 residues cannot overflow


def frame_hash(df, cols, *extra) -> tuple:
    """(rows, order-independent hash of ``cols``, *values of the ``extra``
    aggregate columns) of ``df``, in one job."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*cols), F.lit(_P))), F.lit(0)),
        *extra,
    ).collect()[0]
    return tuple(int(x) for x in row)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; ``(None, None)`` below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None
    k = n - 11  # index of the value with exactly ten larger samples
    return 100.0 * (k + 1) / n, sorted(xs)[k]


@dataclass
class Steps:
    """Wall time of each named step of one operation."""

    seconds: dict = field(default_factory=dict)

    def timed(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.seconds[name] = time.perf_counter() - t0
        return out

    @property
    def total(self) -> float:
        return sum(self.seconds.values())
