"""Host-speed probe: samples how fast this machine runs a fixed loop.

    python3 perfbench/hostprobe.py OUT_FILE

Every ``PERIOD_S`` it spins a fixed pure-Python loop and appends the
CPU seconds its thread spent on the loop to OUT_FILE, one number a
line. It runs until it is terminated or its parent exits.

The CPU time of a fixed loop is independent of the program under test
and of how busy the other cores are; it moves only with the speed the
host gives one core. ``run.py`` divides the run's times by the median
loop time over the run, so that a shared host running slower or faster
for a while does not read as a change in the program.
"""

from __future__ import annotations

import os
import signal
import sys
import time

#: iterations of one sample: about 3 ms of one core, every 50 ms
SPIN = 30_000
PERIOD_S = 0.05


def spin() -> float:
    c0 = time.thread_time()
    s = 0
    for j in range(SPIN):
        s += j * j
    return time.thread_time() - c0


def main(out: str) -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    parent = os.getppid()
    with open(out, "w", buffering=1) as f:
        while os.getppid() == parent:
            f.write(f"{spin():.7f}\n")
            time.sleep(PERIOD_S)


if __name__ == "__main__":
    main(sys.argv[1])
