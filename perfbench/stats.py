"""Pure helpers: request accounting, percentiles, request order, span self-time.

Nothing here touches Spark, so the rules the benchmark reports by are unit
tested in isolation (``perfbench/test_perfbench.py``).
"""

from __future__ import annotations

import math
import random
import statistics
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field

# Percentiles the benchmark may report as a tail, lowest first.
TAIL_LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
MIN_BEYOND = 10
# A request during which the hypervisor gave more than this share of the
# machine's CPU time to other guests is disturbed: its latency measures the
# host, not the program.
STEAL_LIMIT = 0.1


def nearest_rank(sorted_values: Sequence[float], q: float) -> tuple[float, int]:
    """The ``q`` quantile by nearest rank, and how many samples lie beyond it."""
    n = len(sorted_values)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n))
    return sorted_values[rank - 1], n - rank


def tail_percentile(
    values: Sequence[float], min_beyond: int = MIN_BEYOND
) -> tuple[float, float] | None:
    """Highest percentile on ``TAIL_LADDER`` with at least ``min_beyond``
    samples beyond it, as ``(q, value)``; None when even the median has
    fewer than ``min_beyond`` samples above it."""
    s = sorted(values)
    best = None
    for q in TAIL_LADDER:
        v, beyond = nearest_rank(s, q)
        if beyond < min_beyond:
            break
        best = (q, v)
    return best


@dataclass
class Request:
    name: str
    kind: str
    latency_s: float
    ok: bool = True
    error: str = ""
    steal_share: float = 0.0  # CPU time stolen from the machine during it

    @property
    def disturbed(self) -> bool:
        return self.steal_share > STEAL_LIMIT


@dataclass
class Tally:
    """Closed-loop request log. A request fails if it raised or if its
    query's output did not match the expected result; a failed request
    counts as infinitely slow for every latency percentile."""

    requests: list[Request] = field(default_factory=list)
    elapsed_s: float = 0.0

    def add(
        self, name: str, kind: str, latency_s: float, error: str = "", steal_share: float = 0.0
    ) -> None:
        self.requests.append(Request(name, kind, latency_s, not error, error, steal_share))

    def fail_name(self, name: str, reason: str) -> None:
        for r in self.requests:
            if r.name == name and r.ok:
                r.ok, r.error = False, reason

    @property
    def attempted(self) -> int:
        return len(self.requests)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.requests)

    def latencies_s(self) -> list[float]:
        return [r.latency_s if r.ok else math.inf for r in self.requests]

    @property
    def disturbed(self) -> int:
        return sum(r.disturbed for r in self.requests)

    def kind_medians_s(self) -> dict[str, float]:
        """Median latency of each request name, over its undisturbed
        requests when it has any. A failure reads as the whole timed
        window, so a failed request misses every limit."""
        by_name: dict[str, list[tuple[float, bool]]] = {}
        for r, v in zip(self.requests, self.latencies_s()):
            by_name.setdefault(r.name, []).append((min(v, self.elapsed_s), r.disturbed))
        return {
            n: statistics.median([v for v, d in s if not d] or [v for v, _ in s])
            for n, s in by_name.items()
        }

    def median_geomean_ms(self) -> float:
        """Geometric mean over request names of their median latency. Every
        name weighs the same however many times the loop sent it, so the
        figure does not jump with the number of passes a run completes, nor
        with which request lands in the middle of a mixed sample."""
        medians = self.kind_medians_s().values()
        return 1000.0 * math.exp(statistics.fmean(math.log(v) for v in medians))

    def pass_per_s(self) -> float:
        """Requests per second of one pass over every request name at its
        median latency: the closed loop's rate, with each name weighed once."""
        medians = self.kind_medians_s().values()
        return len(medians) / sum(medians)

    def success_fraction(self) -> float:
        return (self.attempted - self.failed) / self.attempted


def shuffled_passes(names: Sequence[str], seed: int) -> Iterator[list[str]]:
    """Endless whole passes over ``names``, each in a fresh seed-derived order."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None  # sid of the enclosing span
    rid: int | None = None  # timed request the span belongs to
    sid: int = 0
    attrs: dict = field(default_factory=dict)


def self_time(span: Span, spans: Sequence[Span]) -> float:
    """``span``'s duration minus the part of it its child spans cover."""
    covered = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid and c.end > span.start and c.start < span.end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in covered:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return (span.end - span.start) - total
