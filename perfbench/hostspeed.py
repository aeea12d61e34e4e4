"""How fast the shared host runs right now, measured apart from the engine.

The benchmark gets a few vCPUs of a host that other tenants share.  When
they are busy, every op of the same code runs slower, up to twice as
slow from one run to the next: the hypervisor steals CPU time, and
sibling hyper-threads, caches and clock speed are shared.  Both the wall
time and the CPU time of the engine grow with it, so neither can tell a
change to the engine from a change in the neighbours.

:func:`probe` times a fixed single-thread Python task that no engine
code touches.  It slows down with the host, so the driver loop runs it
``PER_OP`` times after every op, untimed, and every time the benchmark
reports is scaled to the host speed at which the probe takes ``REF_S``:
``reported = measured * factor`` with ``factor = REF_S / median(probe
times)``.  Rates are divided by the factor.  Raw times are printed too.
"""

from __future__ import annotations

import statistics
import time

# median probe time on a quiet host (4 x86-64 vCPUs, < 0.5 % CPU steal)
REF_S = 0.0125
PER_OP = 3

_DATA = [((i * 2654435761) % 1_000_003) / 7.0 for i in range(100_000)]


def probe() -> float:
    """Seconds one run of the fixed task takes: a sort and a sum of
    squares over 100k floats, interpreter and memory bound."""
    t = time.perf_counter()
    sorted(_DATA)
    sum(v * v for v in _DATA)
    return time.perf_counter() - t


def factor(samples: list[float]) -> float:
    """Scale from measured seconds to seconds at the reference speed."""
    return REF_S / statistics.median(samples)


def host_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    return (after[1] - before[1]) / max(after[0] - before[0], 1)
