"""Turn a finished run into its metrics and its record.

End-to-end metrics come from the untraced run, per-layer metrics from the
traced run. Per-layer metrics are named for the layer they time; a layer
a workload never calls reads 0 there, and for that reason the layers only
some workloads call are reported as rates, counts and shares rather than
as seconds. The seconds of every layer are in the run record.
"""

from __future__ import annotations

from stats import self_time, tail_percentile
from workloads import FAMILIES, Run, family

E2E_UNITS = {
    "setup_s": "s",
    "request_p50_geomean_ms": "ms",
    "requests_per_s": "1/s",
    "peak_rss_mb": "MB",
    "success_fraction": "fraction",
}
JOB_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes")


def end_to_end(run: Run, peak_rss_bytes: int) -> dict:
    values = {
        "setup_s": run.setup_s,
        "request_p50_geomean_ms": run.tally.median_geomean_ms(),
        "requests_per_s": run.tally.pass_per_s(),
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "success_fraction": run.tally.success_fraction(),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_seconds(run: Run, job_stats: dict) -> tuple[dict, dict, dict]:
    """Seconds, Spark job counters and span counts per layer, over the
    timed requests only."""
    spans = [s for s in run.tracer.spans if s.rid is not None]
    by_sid = {s.sid: s for s in spans}
    secs: dict[str, float] = {}
    jobs: dict[str, dict] = {}
    counts: dict[str, int] = {}

    def add(layer: str, seconds: float, sid: int | None = None) -> None:
        secs[layer] = secs.get(layer, 0.0) + seconds
        st = job_stats.get(sid)
        if st:
            acc = jobs.setdefault(layer, dict.fromkeys(JOB_FIELDS, 0))
            for k in JOB_FIELDS:
                acc[k] += st[k]

    def bump(key: str, n: int = 1) -> None:
        counts[key] = counts.get(key, 0) + n

    for s in spans:
        dur = s.end - s.start
        if s.name == "request":
            fam = family(s.attrs["query"])
            if s.attrs["kind"] == "query":
                add("query", dur)
            if fam in FAMILIES:
                add(f"family.{fam}", dur)
                bump(f"family.{fam}.requests")
            continue
        add(s.name, dur, s.sid)
        if s.name == "rest.fetch":
            bump("rest.pages")
            bump("rest.records", s.attrs["records"])
        elif s.name == "collect":
            add("collect.self", self_time(s, spans))
        elif s.name in ("build", "action"):
            if s.name == "build" and any(c.parent == s.sid and c.name == "views" for c in spans):
                add("plan", self_time(s, spans))
            fam = family(by_sid[s.parent].attrs["query"])
            if fam in FAMILIES:
                add(f"family.{fam}.{s.name}", dur, s.sid)
    return secs, jobs, counts


def per_layer(run: Run, job_stats: dict, gc_s: float, gc_count: int) -> dict:
    secs, jobs, spans = layer_seconds(run, job_stats)
    counts = {**spans, **run.layer_counts}
    s = lambda k: secs.get(k, 0.0)  # noqa: E731
    j = lambda layer, k: jobs.get(layer, {}).get(k, 0)  # noqa: E731
    c = lambda k: counts.get(k, 0)  # noqa: E731
    m: dict[str, tuple[float, str]] = {
        "build.s": (s("build"), "s"),
        "build.jobs": (j("build", "jobs"), "count"),
        "build.stages": (j("build", "stages"), "count"),
        "action.s": (s("action"), "s"),
    }
    for k in JOB_FIELDS:
        m[f"action.{k}"] = (j("action", k), "bytes" if k.endswith("bytes") else "count")
    m.update({
        "jvm.gc_s": (gc_s, "s"),
        "jvm.gc_count": (gc_count, "count"),
        "trace.overhead_s": (run.tracer.overhead_s, "s"),
        "rest.records_per_s": (_ratio(c("rest.records"), s("rest.fetch")), "records/s"),
        "rest.pages": (c("rest.pages"), "count"),
        "rest.records": (c("rest.records"), "count"),
        "collect.records_per_s": (_ratio(c("collect.records"), s("collect.self")), "records/s"),
        "collect.bytes_written": (c("collect.bytes_written"), "bytes"),
        "collect.files_written": (c("collect.files_written"), "count"),
        "insert.rows_per_s": (_ratio(c("insert.rows_written"), s("insert")), "rows/s"),
        "insert.jobs": (j("insert", "jobs"), "count"),
        "insert.rows_written": (c("insert.rows_written"), "count"),
        "insert.bytes_written": (c("insert.bytes_written"), "bytes"),
        "insert.files_written": (c("insert.files_written"), "count"),
        "reinsert.rows_per_s": (_ratio(c("reinsert.rows_offered"), s("reinsert")), "rows/s"),
        "reinsert.rows_offered": (c("reinsert.rows_offered"), "count"),
        "reinsert.rows_appended": (c("reinsert.rows_appended"), "count"),
        "views.share": (_ratio(s("views"), s("query")), "fraction"),
        "plan.share": (_ratio(s("plan"), s("query")), "fraction"),
    })
    for f in FAMILIES:
        total = s(f"family.{f}")
        m[f"family.{f}.queries_per_s"] = (_ratio(c(f"family.{f}.requests"), total), "1/s")
        m[f"family.{f}.build_share"] = (_ratio(s(f"family.{f}.build"), total), "fraction")
        m[f"family.{f}.jobs"] = (j(f"family.{f}.build", "jobs") + j(f"family.{f}.action", "jobs"), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def record(run: Run, config: dict, e2e: dict, metrics: dict, job_stats: dict) -> dict:
    """Everything a reader needs to check the run: configuration, metrics,
    the latency tail with its sample count, every request, and, for the
    traced run, the seconds per layer and every span. The end-to-end
    figures of a traced run, set against an untraced run of the same seed,
    give the tracing overhead."""
    lat = run.tally.latencies_s()
    tail = tail_percentile(lat)
    out = {
        "config": config,
        "end_to_end": e2e,
        "metrics": metrics,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "elapsed_s": run.tally.elapsed_s,
        "samples": len(lat),
        "tail": {"q": tail[0], "ms": 1000 * tail[1]} if tail else None,
        "requests": [vars(r) for r in run.tally.requests],
    }
    if run.tracer.enabled:
        secs, jobs, counts = layer_seconds(run, job_stats)
        out["layer_seconds"] = secs
        out["layer_jobs"] = jobs
        out["layer_counts"] = {**counts, **run.layer_counts}
        out["spans"] = [
            {**vars(s), **job_stats.get(s.sid, {})}
            for s in run.tracer.spans
        ]
    return out
