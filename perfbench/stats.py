"""Latency and failure accounting for one run.

A failed op (it raised, or its result did not match the oracle) counts as
missing every latency limit: it enters the percentiles as +inf and is never
dropped. Its elapsed time stays in the throughput denominator, so a failure
can never read as a speed-up.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# op_tail_ms is the highest percentile with TAIL_BEYOND samples beyond it.
# A run measures whole passes until it holds at least MIN_OPS ops, so a
# workload's sample count, and with it that percentile, is the same in
# every run: p77 of 44 ops for tpch_sql, p69 of 32 for curation_ingest.
TAIL_BEYOND = 10
MIN_OPS = 25


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in [0, 100]) — a value that was
    actually observed, so +inf samples propagate instead of interpolating."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail_pct(n: int, beyond: int = TAIL_BEYOND) -> float:
    """The highest percentile of ``n`` samples with ``beyond`` samples above
    its rank; refused when that would not lie above the median."""
    if n < 2 * beyond:
        raise ValueError(f"{n} samples leave no tail with {beyond} samples beyond it")
    return 100.0 * (n - beyond) / n


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> float:
    """The sample at :func:`tail_pct`: the one with ``beyond`` above it."""
    tail_pct(len(values), beyond)
    return sorted(values)[len(values) - beyond - 1]


@dataclass
class OpLog:
    """Every op attempted in the measured phase of a run."""

    names: list[str] = field(default_factory=list)
    seconds: list[float] = field(default_factory=list)
    ok: list[bool] = field(default_factory=list)

    def add(self, name: str, seconds: float, ok: bool) -> None:
        self.names.append(name)
        self.seconds.append(seconds)
        self.ok.append(ok)

    @property
    def attempted(self) -> int:
        return len(self.ok)

    @property
    def failed(self) -> int:
        return self.ok.count(False)

    def latencies_ms(self) -> list[float]:
        return [s * 1e3 if ok else math.inf for s, ok in zip(self.seconds, self.ok)]

    def summary(self) -> dict[str, float]:
        """``op_p50_ms``, ``op_tail_ms``, ``ops_per_s`` and ``ok_op_ratio``.

        ``ops_per_s`` divides correct ops by the time of *all* ops: a
        failing op adds its time and removes its completion."""
        lat = self.latencies_ms()
        busy = sum(self.seconds)
        return {
            "op_p50_ms": percentile(lat, 50),
            "op_tail_ms": tail(lat),
            "ops_per_s": (self.attempted - self.failed) / busy if busy > 0 else 0.0,
            "ok_op_ratio": (self.attempted - self.failed) / self.attempted,
        }
