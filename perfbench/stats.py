"""Summary statistics and the box-state stamp."""
import math
import os
import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values):
    """The highest percentile with at least MIN_BEYOND samples above it:
    the (MIN_BEYOND + 1)-th largest sample, at level 100 * (n - 10) / n.
    Returns (value, level, samples beyond, n). With MIN_BEYOND samples
    or fewer no level qualifies, and the median is returned with the
    count of samples above it."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return float("nan"), None, 0, 0
    if n > MIN_BEYOND:
        return s[n - MIN_BEYOND - 1], 100.0 * (n - MIN_BEYOND) / n, MIN_BEYOND, n
    return median(s), 50.0, n - math.ceil(n / 2), n


def _cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


def _mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return -1


def nproc():
    return len(os.sched_getaffinity(0))


class BoxStamp:
    """nproc, load1 at start and end, the CPU-steal share of all CPU
    time over the run (from /proc/stat) and MemAvailable."""

    def __init__(self):
        self.cpu0 = _cpu_times()
        self.load_start = os.getloadavg()[0]
        self.mem_start = _mem_available_mb()

    def finish(self):
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1  # user..steal; guest time is inside user
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "nproc": nproc(),
            "load1_start": self.load_start,
            "load1_end": os.getloadavg()[0],
            "steal_frac": steal / total,
            "busy_frac": 1.0 - (delta[3] + delta[4]) / total,
            "mem_available_mb_start": self.mem_start,
            "mem_available_mb_end": _mem_available_mb(),
        }
