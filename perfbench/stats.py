"""Percentiles with a sample-count guard, and host telemetry."""

from __future__ import annotations

import hashlib
import math
import os

MIN_BEYOND = 10


class TooFewSamples(RuntimeError):
    pass


def beyond(n: int, q: float) -> int:
    """Samples ranked above the nearest-rank ``q`` percentile of ``n``."""
    return n - math.ceil(q * n)


def percentile(samples: list[float], q: float, what: str) -> float:
    """Nearest-rank percentile. Raises unless at least ``MIN_BEYOND``
    samples lie beyond it: below that, one sample sets the value."""
    n = len(samples)
    if beyond(n, q) < MIN_BEYOND:
        raise TooFewSamples(
            f"{what}: p{round(q * 100)} of {n} samples has {beyond(n, q)} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return sorted(samples)[math.ceil(q * n) - 1]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = [int(x) for x in fh.readline().split()[1:]]
    return parts[7], sum(parts[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def peak_rss_mb(pid: int) -> float:
    """VmHWM of one process, in MB (0 when it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def code_digest(root: str, packages: tuple[str, ...]) -> str:
    """sha256 over the ``.py`` files of ``packages`` under ``root``."""
    h = hashlib.sha256()
    for pkg in packages:
        for dirpath, dirnames, files in os.walk(os.path.join(root, pkg)):
            dirnames.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]
