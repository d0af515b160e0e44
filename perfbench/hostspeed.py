"""Host speed, read with a fixed CPU-bound loop that no package code runs.

The benchmark's host is shared, and its speed drifts: the same op took
36% longer in one set of runs than in another an hour earlier, and
its CPU time grew by about as much.  So the timings are also reported
at a reference host speed: each is multiplied by ``REF_S`` over the
loop's time measured next to it.

One sample runs the loop in one process per core at once, so that it
feels what a Spark op on every core feels: cores taken by other
processes, a slower clock, busy sibling hyper-threads.  It reads the
median core, so one thread left busy by the op before (a JVM
collection, say) does not move it.  The processes are forked before
the JVM starts and idle between samples.
"""

from __future__ import annotations

import multiprocessing
import statistics
import time

LOOP_N = 400_000
# The loop's wall and CPU time (median core) on a 4-core, 15 GiB shared
# VM in ordinary load; they only scale the reported figures.
REF_S = 0.065
REF_CPU_S = 0.065
REPS = 5


def _loop(n: int) -> tuple[float, float]:
    """Wall and CPU seconds of ``n`` rounds of integer arithmetic."""
    t, c = time.perf_counter(), time.process_time()
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t, time.process_time() - c


class HostSpeed:
    def __init__(self, cores: int):
        self.cores = cores
        self._pool = multiprocessing.get_context("fork").Pool(cores)
        self.samples: list[tuple[float, float]] = []

    def sample(self) -> tuple[float, float]:
        """The loop's wall and CPU time now: the median core's, and the
        median of that over ``REPS`` rounds.  Kept in ``samples``."""
        walls, cpus = [], []
        for _ in range(REPS):
            r = self._pool.map(_loop, [LOOP_N] * self.cores)
            walls.append(statistics.median(w for w, _ in r))
            cpus.append(statistics.median(c for _, c in r))
        s = statistics.median(walls), statistics.median(cpus)
        self.samples.append(s)
        return s

    def close(self) -> None:
        self._pool.close()
        self._pool.join()


def at_ref(seconds: float, loop_s: float) -> float:
    """Wall ``seconds`` measured while the loop took ``loop_s``, scaled
    to the reference speed."""
    return seconds * REF_S / loop_s


def cpu_at_ref(seconds: float, loop_cpu_s: float) -> float:
    """CPU ``seconds`` measured while the loop took ``loop_cpu_s`` of
    CPU, scaled to the reference speed."""
    return seconds * REF_CPU_S / loop_cpu_s
