"""Machine-speed probe.

The machines this benchmark runs on are shared: the speed of one core
was seen to change by up to 60% within a minute, with no steal time
reported, which moved every wall the benchmark measures.  A
:class:`PaceProbe` runs a child process that times a fixed slice of
Python work (``SLICE_S`` long at the reference speed) every ``interval``
seconds at raised scheduling priority, so that the benchmark's own load
delays it as little as possible.  :meth:`PaceProbe.factor` is the median
slice time over an interval divided by ``SLICE_S``: how much slower than
the reference the machine ran then.

    python3 perfbench/pace.py [interval]   # the probe process itself
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

# One slice at the reference speed: the median on a quiet 4-vCPU
# Linux VM (Python 3.11) when this benchmark was defined.
SLICE_S = 0.0014
SLICE_LOOPS = 20_000


def slice_seconds() -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(SLICE_LOOPS):
        acc += i * i % 7
    return time.perf_counter() - t


def probe_forever(interval: float) -> None:
    try:
        os.nice(-10)
    except OSError:  # not permitted: the probe still runs, just less promptly
        pass
    while True:
        # CLOCK_MONOTONIC is shared by every process on the machine
        print(f"{time.monotonic():.4f} {slice_seconds():.7f}", flush=True)
        time.sleep(interval)


class PaceProbe:
    """Runs the probe process and collects its samples."""

    def __init__(self, interval: float = 0.05) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(interval)],
            stdout=subprocess.PIPE,
            text=True,
        )
        self._samples: list[tuple[float, float]] = []
        self._lock = threading.Lock()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self._proc.stdout:
            t, dt = line.split()
            with self._lock:
                self._samples.append((float(t), float(dt)))

    def factor(self, t0: float, t1: float) -> float:
        """Median slice time in [t0, t1] (``time.monotonic()``) over
        ``SLICE_S``; 1.0 when no sample fell in the interval."""
        with self._lock:
            inside = [dt for t, dt in self._samples if t0 <= t <= t1]
        return statistics.median(inside) / SLICE_S if inside else 1.0

    def stop(self) -> None:
        self._proc.terminate()
        self._proc.wait(timeout=30)
        self._reader.join(timeout=10)


if __name__ == "__main__":
    probe_forever(float(sys.argv[1]) if len(sys.argv) > 1 else 0.1)
