"""A fixed CPU yardstick that tells how fast the machine is right now.

On a shared virtual machine, hypervisor steal comes in bursts of
seconds to minutes and slows everything by up to a third: on the 4-CPU
VM these numbers were taken on, the same ``search`` call took 1.1 s in
one run and 1.6 s in the next. The yardstick is a fixed amount of
pure-CPU work (an integer loop and a numpy sort) run by one worker
process per CPU at once, timed before and after each engine call while
the engine is idle. A call's seconds divided by the mean of the two
samples around it (its cost in yardsticks) stay comparable between runs
made under different steal. The yardstick's median time is printed with
every run.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time


def _work(n: int) -> int:
    import numpy as np

    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1000003
    np.sort(np.random.default_rng(n).random(n))
    return acc


class Yardstick:
    """``procs`` worker processes that each run ``_work(n)`` on request."""

    def __init__(self, procs: int, n: int = 600_000, reps: int = 3):
        self.n, self.reps = n, reps
        self.samples: list[float] = []
        self._workers = [
            subprocess.Popen([sys.executable, __file__], text=True,
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
            for _ in range(procs)]
        self._once()  # the workers' first task imports numpy

    def _once(self) -> float:
        t0 = time.perf_counter()
        for w in self._workers:
            w.stdin.write(f"{self.n}\n")
            w.stdin.flush()
        for w in self._workers:
            if not w.stdout.readline():
                raise RuntimeError("yardstick worker exited")
        return time.perf_counter() - t0

    def measure(self) -> float:
        """Median of ``reps`` timings in seconds; also kept in ``samples``."""
        t = statistics.median(self._once() for _ in range(self.reps))
        self.samples.append(t)
        return t

    def pids(self) -> set[int]:
        return {w.pid for w in self._workers}

    def close(self) -> None:
        for w in self._workers:
            w.stdin.close()
        for w in self._workers:
            w.wait(timeout=5)
            w.stdout.close()


if __name__ == "__main__":
    for line in sys.stdin:
        _work(int(line))
        print("done", flush=True)
