"""Host-noise record: load average and a fixed single-thread spin.

A run on a machine shared with other work shows itself here: the spin
is a fixed amount of pure-Python integer work, so its wall time grows
with co-tenant CPU pressure, and the 1-minute load average says how
busy the machine was when the run started and ended.
"""

from __future__ import annotations

import os
import time

SPIN_ITERATIONS = 5_000_000


def spin_seconds(iterations: int = SPIN_ITERATIONS) -> float:
    """Wall seconds of a fixed single-thread integer loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iterations):
        x += i
    if x < 0:  # keeps the loop result live
        raise RuntimeError("unreachable")
    return time.perf_counter() - t0


def sample() -> dict:
    """One host-noise sample: 1-min loadavg and the spin wall time."""
    return {"loadavg_1m": os.getloadavg()[0], "spin_s": spin_seconds()}
