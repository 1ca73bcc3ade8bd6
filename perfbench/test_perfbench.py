"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
from stats import (  # noqa: E402
    STEAL_LIMIT,
    Span,
    Tally,
    nearest_rank,
    self_time,
    shuffled_passes,
    tail_percentile,
)


# ------------------------------------------------------------ percentiles


def test_nearest_rank_counts_samples_beyond():
    values = list(range(1, 101))
    assert nearest_rank(values, 0.5) == (50, 50)
    assert nearest_rank(values, 0.9) == (90, 10)
    assert nearest_rank(values, 1.0) == (100, 0)


@pytest.mark.parametrize(
    "n, q",
    [(19, None), (20, 0.5), (39, 0.5), (40, 0.75), (99, 0.75), (100, 0.9),
     (199, 0.9), (200, 0.95), (1000, 0.99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    values = [float(i) for i in range(n)]
    tail = tail_percentile(values)
    if q is None:
        assert tail is None
        return
    assert tail[0] == q
    assert sum(v > tail[1] for v in values) >= 10


def test_tail_percentile_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert tail_percentile(values) == tail_percentile(sorted(values))


# ------------------------------------------------------------- accounting


def test_failed_and_attempted_accounting():
    t = Tally(elapsed_s=10.0)
    for name in ("a", "b", "a", "c"):
        t.add(name, "query", 1.0)
    t.add("d", "query", 0.5, error="boom")
    assert (t.attempted, t.failed) == (5, 1)
    t.fail_name("a", "mismatch")  # every invocation of a wrong query fails
    assert (t.attempted, t.failed) == (5, 3)
    assert t.success_fraction() == pytest.approx(2 / 5)


def test_failed_requests_miss_every_latency_limit():
    t = Tally(elapsed_s=4.0)
    t.add("fast", "query", 0.1)
    t.add("slow", "query", 0.2, error="raised")
    t.add("x", "query", 0.3, error="raised")
    assert t.latencies_s()[1:] == [math.inf, math.inf]
    # a failure reads as the whole timed window
    assert t.kind_medians_s() == {"fast": 0.1, "slow": 4.0, "x": 4.0}
    assert t.median_geomean_ms() == pytest.approx(1000 * (0.1 * 4.0 * 4.0) ** (1 / 3))
    assert t.pass_per_s() == pytest.approx(3 / 8.1)


def _passes(latencies: dict[str, list[float]]) -> Tally:
    t = Tally(elapsed_s=100.0)
    for i in range(max(map(len, latencies.values()))):
        for name, values in latencies.items():
            if i < len(values):
                t.add(name, "query", values[i])
    return t


def test_latency_figures_weigh_every_request_name_once():
    one = _passes({"a": [1.0], "b": [2.0], "c": [8.0]})
    assert one.median_geomean_ms() == pytest.approx(2000 * 2 ** (1 / 3))
    assert one.pass_per_s() == pytest.approx(3 / 11.0)
    # more passes of the same latencies, and a cheap request sent more often
    # than the rest, leave both figures as they were
    more = _passes({"a": [1.0] * 5, "b": [2.0] * 2, "c": [8.0] * 2})
    assert more.median_geomean_ms() == pytest.approx(one.median_geomean_ms())
    assert more.pass_per_s() == pytest.approx(one.pass_per_s())
    # each name's own median: one slow outlier of "a" does not move it
    assert _passes({"a": [1.0, 1.0, 50.0], "b": [2.0], "c": [8.0]}).kind_medians_s()["a"] == 1.0


def test_disturbed_requests_count_but_leave_the_latency_figures():
    t = Tally(elapsed_s=100.0)
    t.add("a", "query", 5.0, steal_share=STEAL_LIMIT * 3)  # the host took the CPUs
    t.add("a", "query", 1.0, steal_share=STEAL_LIMIT / 2)
    t.add("b", "query", 4.0, steal_share=STEAL_LIMIT * 2)  # disturbed, nothing else
    t.add("b", "query", 6.0, steal_share=STEAL_LIMIT * 2)
    assert (t.attempted, t.failed, t.disturbed) == (4, 0, 3)
    assert t.kind_medians_s() == {"a": 1.0, "b": 5.0}


@pytest.mark.parametrize("stolen_per_read, sends", [(0.0, (1, 1)), (1000.0, (2, 1))])
def test_a_disturbed_query_is_sent_once_more(monkeypatch, stolen_per_read, sends):
    import workloads
    from tracing import Tracer

    steal = iter(range(0, 100))
    monkeypatch.setattr(workloads, "cpu_steal_s", lambda: stolen_per_read * next(steal))
    run = workloads.Run(None, Tracer(None, False), seed=1, seconds=1.0, work="")
    calls = []
    workloads._request(run, "q1", "query", lambda: calls.append("q1"))
    # a request that changes the warehouse is never repeated
    workloads._request(run, "E2_insert", "insert", lambda: calls.append("E2_insert"))
    assert (calls.count("q1"), calls.count("E2_insert")) == sends
    assert run.tally.attempted == sum(sends)
    assert run.tally.disturbed == (sum(sends) if stolen_per_read else 0)


# ------------------------------------------------------------ determinism


def test_seed_fixes_request_order():
    names = [f"q{i}" for i in range(20)]
    a, b, c = (shuffled_passes(names, s) for s in (7, 7, 8))
    first = [next(a) for _ in range(3)]
    assert first == [next(b) for _ in range(3)]
    assert first != [next(c) for _ in range(3)]
    assert all(sorted(p) == sorted(names) for p in first)
    assert first[0] != first[1]  # each pass is shuffled afresh


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_seed_fixes_generated_tables(tmp_path):
    rows = datagen.write_tables(str(tmp_path / "a"), 0.001, 3)
    datagen.write_tables(str(tmp_path / "b"), 0.001, 3)
    datagen.write_tables(str(tmp_path / "c"), 0.001, 4)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert rows["lineitem"] == 6000 and rows["embeddings"] == 500


def test_generated_near_duplicates_and_unit_vectors():
    t = datagen.make_tables(0.01, 5)
    texts = t["documents"].column("text").to_pylist()
    dups = [s for s in texts if s.endswith(" dup")]
    assert 0 < len(dups) < len(texts) // 5
    assert all(s[: -len(" dup")] in texts for s in dups)
    norms = [sum(x * x for x in v) for v in t["embeddings"].column("embedding").to_pylist()[:50]]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)


def test_seed_fixes_the_artifact_source():
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import rest

    page = lambda seed: rest.fetch_serial(rest.synthetic_fetcher(250, seed), 250)  # noqa: E731
    assert page(1) == page(1)
    assert page(1) != page(2)


# -------------------------------------------------------------- self time


def test_self_time_subtracts_the_union_of_children():
    parent = Span("request", 0.0, 10.0, sid=1)
    spans = [
        parent,
        Span("build", 1.0, 3.0, parent=1, sid=2),
        Span("views", 2.0, 5.0, parent=1, sid=3),  # overlaps the first child
        Span("action", 7.0, 8.0, parent=1, sid=4),
        Span("late", 9.5, 12.0, parent=1, sid=5),  # clipped to the parent
        Span("grandchild", 0.0, 10.0, parent=2, sid=6),  # not a direct child
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(spans[1], spans) == pytest.approx(0.0)
    assert self_time(spans[3], spans) == pytest.approx(1.0)
