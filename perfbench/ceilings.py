"""CPU and memory-bandwidth ceilings of the box, measured outside timed
sections and recorded as run metadata, not as metrics.

Each ceiling is the speed-up of ``k`` worker processes over one, divided
by ``k``: 1.0 means the box scales perfectly to ``k`` cores, lower means
shared or oversubscribed cores (CPU) or a saturated memory bus (stream).
"""

from __future__ import annotations

import multiprocessing as mp
import time
from multiprocessing import resource_tracker


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _stream(n: int) -> float:
    """Read and write ~64 MB per pass, far beyond the last-level cache."""
    import numpy as np

    a = np.ones(8_000_000)
    s = 0.0
    for _ in range(n):
        b = a * 1.000001
        s += float(b[::4096].sum())
    return s


def _scaling(pool, fn, arg: int, k: int) -> float:
    def rate(procs: int) -> float:
        t0 = time.perf_counter()
        pool.map(fn, [arg] * procs, chunksize=1)
        return procs / (time.perf_counter() - t0)

    rate(k)  # warm the workers
    return rate(k) / rate(1) / k


def measure(k: int) -> dict:
    """Both ceilings at ``k`` processes; about a second."""
    with mp.get_context("spawn").Pool(k) as pool:
        out = {
            "processes": k,
            "cpu_ceiling": round(_scaling(pool, _burn, 400_000, k), 4),
            "membw_ceiling": round(_scaling(pool, _stream, 4, k), 4),
        }
        pool.close()
        pool.join()
    # the spawn context started a resource-tracker process; stop it and
    # wait for it rather than leave it to exit after this process
    resource_tracker._resource_tracker._stop()
    return out
