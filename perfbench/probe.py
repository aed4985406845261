"""Speed probe: how fast a vCPU of this host runs right now.

    python3 perfbench/probe.py

Runs a fixed unit of work (an interpreter loop that touches a 2 MiB
buffer one cache line at a time) every ``PERIOD_S`` and prints, per
unit, ``<perf_counter time> <CPU seconds the unit took>``.  On a host
whose physical cores and caches are shared with other machines, the CPU
time of a fixed amount of work grows with their load; the benchmark
divides the CPU seconds it measures by the probe's slowdown over the
same window (``host.SpeedProbe.slowdown``).  Exits when its parent does or
stdout closes.
"""

import os
import sys
import time

PERIOD_S = 0.1
BUF = bytearray(2 << 20)


def unit() -> None:
    buf = BUF
    for i, j in enumerate(range(0, len(buf), 64)):
        buf[j] = (buf[j] + i) & 255


def main() -> int:
    parent = os.getppid()
    unit()  # first touch of the buffer
    while os.getppid() == parent:
        c0 = time.thread_time()
        unit()
        c = time.thread_time() - c0
        try:
            print(f"{time.perf_counter():.4f} {c:.7f}", flush=True)
        except BrokenPipeError:
            return 0
        time.sleep(PERIOD_S)
    return 0


if __name__ == "__main__":
    sys.exit(main())
