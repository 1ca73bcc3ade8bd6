"""The three workloads. Each is a closed loop: one client, this process,
sends the next request only after the previous one returned.

- ``artifact_app``: the paper's pipeline. E1 ``app.collect`` over the
  synthetic REST source, E2 ``app.insert``, E2' a second ``app.insert`` of
  the same raw data (INSERT IGNORE: appends nothing), E3 the 20 reference
  templates through ``app.query`` in seed-shuffled order.
- ``reference_sf01``: the 22 reference-parity registry queries on
  generated sf0.1 tables, in seed-shuffled whole passes.
- ``extension_mix``: one or two extension operators per operator family on
  generated sf0.01 tables, in seed-shuffled whole passes.

Every timed query is consumed through the ``noop`` sink, so every column is
computed and nothing is collected to the driver. Set-up covers the program
work before the first timed request: the Spark session and a warm-up pass
(for the registry workloads the warm-up pass also yields the outputs that
are checked, and builds the persisted indexes).

A workload runs in three steps, so that only the program's work is in the
memory the benchmark samples: ``prepare`` writes the inputs and the
expected results under the run's scratch directory, in a child process
that has ended before the Spark session starts; ``measure`` is the set-up
and the timed loop; ``verify`` checks the outputs after the sampling
stopped and returns the mismatches as name -> reason.
"""

from __future__ import annotations

import os
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd

from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    artifact_templates as AT,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    registry,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import rest

from stats import STEAL_LIMIT, Tally, shuffled_passes
from tracing import Tracer, cpu_steal_s

REFERENCE_QUERIES = (
    "flagship_pricing_summary",
    "rq01_conj_filter",
    "rq02_distinct_filtered",
    "rq03_like_filter",
    "rq04_topk",
    "rq05_group_count",
    "rq06_join_filter_topk",
    "rq07_global_avg",
    "rq08_col_vs_col",
    "rq09_between",
    "rq10_count_filter",
    "rq11_distinct",
    "rq12_topk_over_agg",
    "rq13_group_avg",
    "rq14_join_nullfilter",
    "rq15_count_star",
    "rq16_dim_join_topk",
    "rq17_join_sort",
    "rq18_join_reserved_word",
    "rq19_three_way_join",
    "rq20_join_agg_topk",
    "rq20_preagg_variant",
)

# One or two operators per family, chosen so a warm pass, a cold pass and
# the DuckDB oracles fit one run. ``st_near_dup_ingest`` builds its
# persisted corpus band index in the cold pass.
EXTENSION_QUERIES = (
    "gr_pagerank",
    "ss_brute_topk_numpy",
    "dd_winnow_pairs",
    "tx_heavy_hitters_cms",
    "ht_theil_sen_slope",
    "st_near_dup_ingest",
    "mm_image_near_dup",
    "fx_correlation_matrix",
    "aj_purchase_last_click",
)


def family(name: str) -> str:
    return name.split("_", 1)[0]


FAMILIES = tuple(dict.fromkeys(family(n) for n in EXTENSION_QUERIES))

CPUS = os.cpu_count() or 1  # the CPUs /proc/stat sums steal over
APP_RECORDS = 12_500  # the reference's maximum
APP_WARMUP_RECORDS = 1_250
TEMPLATES = tuple(sorted(AT.QUERY_TEMPLATES, key=lambda s: int(s[1:])))


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    tally: Tally = field(default_factory=Tally)
    setup_s: float = 0.0
    info: dict = field(default_factory=dict)
    layer_counts: dict = field(default_factory=dict)
    mismatched: dict = field(default_factory=dict)  # name -> why it failed

    def count(self, key: str, value: float) -> None:
        self.layer_counts[key] = self.layer_counts.get(key, 0) + value


def _error(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:500]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _request(run: Run, name: str, kind: str, fn, timed: bool = True):
    """One closed-loop request: timed from send to return; a failure is
    recorded and the loop goes on. A timed read-only request (a query) that
    was disturbed, i.e. the hypervisor took more than ``STEAL_LIMIT`` of
    the machine's CPU time while it ran, is sent once more; both count as
    attempted. Returns ``(result, error)``."""
    for attempt in range(2 if timed and kind == "query" else 1):
        rid = len(run.tally.requests) + 1 if timed else None
        steal0, t0 = cpu_steal_s(), time.perf_counter()
        out, err = None, ""
        with run.tracer.span("request", rid=rid, query=name, kind=kind, attempt=attempt):
            try:
                out = fn()
            except Exception as exc:  # counted against the query, not fatal to the run
                err = _error(exc)
        latency = time.perf_counter() - t0
        share = (cpu_steal_s() - steal0) / (CPUS * latency)
        if timed:
            run.tally.add(name, kind, latency, err, share)
        if err or share <= STEAL_LIMIT:
            break
    return out, err


def _query(run: Run, name: str, build):
    """A query request: build the DataFrame, then run it into the noop sink."""
    def fn():
        with run.tracer.span("build", job_group=True, query=name):
            df = build()
        with run.tracer.span("action", job_group=True, query=name):
            _noop(df)
    return fn


# --------------------------------------------------------------- registry


def _data_dir(work: str) -> str:
    return os.path.join(work, "data")


def _expected_path(work: str) -> str:
    return os.path.join(work, "expected.pkl")


def _output_path(work: str, name: str) -> str:
    return os.path.join(work, "outputs", f"{name}.pkl")


def prepare_registry(names: tuple[str, ...], sf: float, seed: int, work: str) -> dict:
    """Generate the tables and the DuckDB oracle results for ``names``."""
    import checks
    import datagen

    specs = registry.all_specs()
    data_dir = _data_dir(work)
    tables = datagen.write_tables(data_dir, sf, seed)
    oracles = checks.oracle_results(data_dir, {n: specs[n].oracle for n in names}, work)
    pd.to_pickle(oracles, _expected_path(work))
    return {"sf": sf, "data_dir": os.path.relpath(data_dir), "tables": tables,
            "queries": list(names), "data_fingerprint": checks.fingerprint(data_dir)}


def measure_registry(run: Run, names: tuple[str, ...]) -> None:
    specs = registry.all_specs()
    data_dir = _data_dir(run.work)
    os.makedirs(os.path.join(run.work, "outputs"))
    # warm-up pass: builds the persisted indexes (cold path); its outputs
    # go to disk, to be checked after the run
    for name in names:
        t0 = time.perf_counter()
        try:
            got = specs[name].builder(run.spark, data_dir).toPandas()
        except Exception as exc:
            run.mismatched[name] = _error(exc)
            continue
        finally:
            run.setup_s += time.perf_counter() - t0
        got.to_pickle(_output_path(run.work, name))
        del got
    run.info["warmup_s"] = run.setup_s
    # timed: seed-shuffled whole passes until the measuring time is used
    start = time.perf_counter()
    for order in shuffled_passes(names, run.seed):
        for name in order:
            builder = specs[name].builder
            _request(run, name, "query", _query(run, name, lambda: builder(run.spark, data_dir)))
        if time.perf_counter() - start >= run.seconds:
            break
    run.tally.elapsed_s = time.perf_counter() - start


def verify_registry(run: Run, names: tuple[str, ...]) -> dict[str, str]:
    """Each warm-up output against its oracle result."""
    import checks

    expected = pd.read_pickle(_expected_path(run.work))
    bad = {}
    for name in names:
        if name in run.mismatched:
            continue
        errs = checks.compare(pd.read_pickle(_output_path(run.work, name)), expected[name])
        if errs:
            bad[name] = "; ".join(errs)[:500]
    return bad


# ------------------------------------------------------------ artifact_app


def _traced_fetcher(run: Run, fetch):
    if not run.tracer.enabled:
        return fetch

    def fetch_page(page: int) -> list[dict]:
        with run.tracer.span("rest.fetch") as s:
            batch = fetch(page)
        s.attrs["records"] = len(batch)
        return batch

    return fetch_page


def _dir_bytes_files(paths: list[str]) -> tuple[int, int]:
    size = files = 0
    for path in paths:
        for root, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
    return size, files


def _app_cycle(
    run: Run, workdir: str, records: int, order: list[str], timed: bool, keep_outputs: bool = False
) -> dict[str, str]:
    """E1 -> E2 -> E2' -> templates on a fresh warehouse. Returns the
    failed requests (name -> reason), row-count checks included. With
    ``keep_outputs`` the templates are collected to disk, to be checked
    after the run, instead of going into the noop sink."""
    tr, spark = run.tracer, run.spark
    failed: dict[str, str] = {}

    def request(name: str, kind: str, fn):
        out, err = _request(run, name, kind, fn, timed)
        if err:
            failed[name] = err
        return out

    def collect():
        fetch = _traced_fetcher(run, rest.synthetic_fetcher(records, run.seed))
        with tr.span("collect", job_group=True):
            app.collect(spark, workdir, fetch, records)

    def insert(layer: str):
        def fn():
            with tr.span(layer, job_group=True):
                return app.insert(spark, workdir)
        return fn

    traced = timed and tr.enabled
    request("E1_collect", "collect", collect)
    if traced:
        written = {"collect": _dir_bytes_files([f"{workdir}/raw"])}
    first = request("E2_insert", "insert", insert("insert"))
    if traced:
        written["insert"] = _dir_bytes_files([f"{workdir}/{t}" for t in app.ARTIFACT_TABLES])
    again = request("E2b_reinsert", "reinsert", insert("reinsert"))
    for name in order:
        if keep_outputs:
            request(name, "query", lambda: app.query(spark, workdir, name).toPandas()
                    .to_pickle(_output_path(run.work, name)))
        else:
            request(name, "query", _query(run, name, lambda: app.query(spark, workdir, name)))

    keyed = ("artifactmetadata", "artifactmedia")
    if first and again:
        for t in keyed:
            if first[t] != records:
                failed["E2_insert"] = f"{t} has {first[t]} rows, expected {records}"
            if again[t] != first[t]:
                failed["E2b_reinsert"] = f"appended {again[t] - first[t]} rows to {t}, expected 0"
        if traced:
            for layer, (size, files) in written.items():
                run.count(f"{layer}.bytes_written", size)
                run.count(f"{layer}.files_written", files)
            run.count("collect.records", records)
            run.count("insert.rows_written", sum(first.values()))
            run.count("reinsert.rows_offered", sum(first[t] for t in keyed))
            run.count("reinsert.rows_appended", sum(again[t] - first[t] for t in keyed))
    return failed


def measure_artifact_app(run: Run) -> None:
    run.info.update(records=APP_RECORDS, warmup_records=APP_WARMUP_RECORDS,
                    templates=list(TEMPLATES))
    passes = shuffled_passes(TEMPLATES, run.seed)
    os.makedirs(os.path.join(run.work, "outputs"))
    t0 = time.perf_counter()
    # a request that fails in the warm-up fails in every timed cycle too;
    # the warm-up's template outputs are the ones checked
    run.mismatched.update(_app_cycle(run, os.path.join(run.work, "warmup"), APP_WARMUP_RECORDS,
                                     list(TEMPLATES), timed=False, keep_outputs=True))
    run.setup_s += time.perf_counter() - t0
    run.info["warmup_s"] = run.setup_s

    register_views = app.register_views
    if run.tracer.enabled:  # span the view registration inside app.query
        def traced_register_views(spark, workdir):
            with run.tracer.span("views"):
                register_views(spark, workdir)
        app.register_views = traced_register_views
    try:
        cycle, start = 0, time.perf_counter()
        while True:
            cycle += 1
            workdir = os.path.join(run.work, f"cycle{cycle}")
            run.mismatched.update(_app_cycle(run, workdir, APP_RECORDS, next(passes), timed=True))
            if time.perf_counter() - start >= run.seconds:
                break
        run.tally.elapsed_s = time.perf_counter() - start
    finally:
        app.register_views = register_views
    run.info["cycles"] = cycle


def verify_artifact_app(run: Run) -> dict[str, str]:
    """The warm-up's template outputs against DuckDB on its warehouse."""
    import checks

    names = [n for n in TEMPLATES if n not in run.mismatched]
    got = {n: pd.read_pickle(_output_path(run.work, n)) for n in names}
    return checks.check_templates(got, os.path.join(run.work, "warmup"), run.work)


@dataclass(frozen=True)
class Workload:
    prepare: Callable[[int, str], dict]  # (seed, work) -> run info; in a child process
    measure: Callable[[Run], None]
    verify: Callable[[Run], dict[str, str]]


WORKLOADS = {
    "artifact_app": Workload(lambda seed, work: {}, measure_artifact_app, verify_artifact_app),
    "reference_sf01": Workload(
        lambda seed, work: prepare_registry(REFERENCE_QUERIES, 0.1, seed, work),
        lambda run: measure_registry(run, REFERENCE_QUERIES),
        lambda run: verify_registry(run, REFERENCE_QUERIES),
    ),
    "extension_mix": Workload(
        lambda seed, work: prepare_registry(EXTENSION_QUERIES, 0.01, seed, work),
        lambda run: measure_registry(run, EXTENSION_QUERIES),
        lambda run: verify_registry(run, EXTENSION_QUERIES),
    ),
}
