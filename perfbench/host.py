"""The host's speed, so that runs made at different times compare.

A virtual machine shares its host with other guests, whose load changes the
speed of every timed block by tens of percent from minute to minute:

* `Interval` removes the share of a block's time the hypervisor gave this
  machine's runnable CPUs to other guests (steal ticks in /proc/stat);
* `HostMeter` times fixed NumPy and Python reference work on every CPU
  between calls; measured times are scaled by REFERENCE_S over the run's
  median reference time, i.e. to a host that does the work in REFERENCE_S.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import statistics
import time

REFERENCE_S = 0.25  # median reference-work seconds on the shared 4-vCPU host it was tuned on
CAL_ROUNDS = 48     # rounds of reference work per process and measurement


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Interval:
    """Wall time of a block, and that time less the share of it the
    hypervisor gave this machine's runnable CPUs to other guests."""

    def __enter__(self):
        self.ticks = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        self.seconds = self.wall * (1.0 - steal / max(busy + steal, 1))
        return False


def _stop_tracker() -> None:
    """Stop the resource tracker a pool started and wait for it; the pool
    must be unreferenced, so that collecting it releases its semaphores."""
    gc.collect()
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # noqa: SLF001


def run_pool(fn, jobs: list[tuple], processes: int) -> list:
    """starmap `fn` over `jobs` in spawned processes, and wait for them."""
    pool = mp.get_context("spawn").Pool(processes)
    try:
        return pool.starmap(fn, jobs)
    finally:
        pool.terminate()
        pool.join()
        del pool
        _stop_tracker()


def reference_work(rounds: int) -> float:
    """Fixed NumPy sorting and pure-Python arithmetic; returns its seconds."""
    import numpy as np

    data = np.random.default_rng(0).random(100_000)
    with Interval() as iv:
        for _ in range(rounds):
            np.sort(data)
            sum(i * i for i in range(40_000))
    return iv.seconds


class HostMeter:
    """Reference work on every CPU, in a pool spawned once per run."""

    def __init__(self, processes: int):
        self.processes = processes
        self.pool = mp.get_context("spawn").Pool(processes)
        self.pool.map(reference_work, [1] * processes)  # imports, first touch
        self.seconds: list[float] = []

    def pids(self) -> set[int]:
        return {p.pid for p in self.pool._pool}  # noqa: SLF001

    def measure(self) -> None:
        """Median over the processes of one round of reference work."""
        self.seconds.append(statistics.median(
            self.pool.map(reference_work, [CAL_ROUNDS] * self.processes, chunksize=1)))

    def scale(self) -> float:
        """Factor taking this run's times to the reference host."""
        return REFERENCE_S / statistics.median(self.seconds)

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()
        del self.pool
        _stop_tracker()
