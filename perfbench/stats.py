"""Small measurement helpers shared by the workloads."""

from __future__ import annotations

import statistics
import time


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of the samples that
    has at least ten samples beyond it. Below 100 samples that
    percentile is under the 90th and no longer a tail, so a run holding
    fewer reports its maximum (100)."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 100:
        return 100.0 * (n - 10) / n, xs[n - 11]
    return 100.0, xs[-1]


def calibrate_ms() -> float:
    """Median of seven runs of a fixed pure-Python loop, in ms. It
    reads the host, not the program: a judge compares it across runs
    to tell a slow host from a slow commit."""
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000.0


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs from /proc/stat, or None where
    the file does not exist. Steal is time the hypervisor gave this
    machine's CPUs to someone else; on a shared host it is the usual
    reason one run reads slower than the next."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    return fields[7], sum(fields[:8])


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] == before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


# A sample taken while the hypervisor gave more than this share of the
# CPUs to other machines is stolen. A run's latency grows by two to
# three times its steal share (8% steal: +20%); on a 4-vCPU VM, samples
# that keep every CPU busy see 1-4% steal even on a quiet host.
STEAL_LIMIT_PCT = 5.0


def stolen(pct: float | None) -> bool:
    return pct is not None and pct > STEAL_LIMIT_PCT


def least_stolen(steals: list[float | None], k: int) -> list[int]:
    """Indices (in order) of the k samples taken under the least steal.
    The choice reads only the host, never the timings, so it cannot
    favour fast samples; with no steal it keeps the first k."""
    order = sorted(range(len(steals)), key=lambda i: (steals[i] or 0.0, i))
    return sorted(order[:k])
