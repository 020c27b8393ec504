#!/usr/bin/env python
"""Sample /proc/stat hypervisor steal in fixed windows.

Usage: python scripts/steal_sampler.py [interval_sec] > steal.log &

Prints one line per window: unix_ts steal_pct busy_pct.  Used to
annotate bench runs on this host, whose vCPUs are periodically stolen
in waves (round-12 finding: identical code measured 161.8-288 s
depending on neighbor demand).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import read_steal, steal_pct  # noqa: E402


def main() -> None:
    interval = float(sys.argv[1]) if len(sys.argv) > 1 else 5.0
    prev = read_steal()
    while True:
        time.sleep(interval)
        cur = read_steal()
        print(
            f"{time.time():.0f} steal={steal_pct(prev, cur):.2f}% "
            f"window={interval:.0f}s",
            flush=True,
        )
        prev = cur


if __name__ == "__main__":
    main()
