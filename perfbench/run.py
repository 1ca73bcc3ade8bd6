"""Benchmark of the analytics engine: the paper's pipeline, the reference
queries and an extension-operator mix, timed end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload artifact_app --seed 1 --seconds 10 --trace 0

Workloads are ``artifact_app``, ``reference_sf01`` and ``extension_mix``
(see ``workloads.py``). Inputs come from ``--seed``. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics, and the spans go to a trace file. The line
before it is the run's configuration. Every run also writes its full
record to ``.perfbench_work/results/``.

Each run gets its own scratch directory under ``.perfbench_work/`` (data,
Spark warehouse, Spark local and temp dirs), removed at the end, so
persisted indexes never survive from one run to the next.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "harvard_artifacts_collection_data_engineering_analytics_app_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def driver_memory() -> str:
    """An eighth of the machine's memory, between 1 and 8 GiB. A heap the
    workloads fill keeps the JVM's resident size, and so ``peak_rss_mb``,
    from following the collector's heap-growth decisions."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mb = min(max(total_kb // 8192, 1024), 8192)
    return f"{mb}m"


def source_digest() -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_session(work: str, nproc: int):
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.session import (
        get_spark,
    )

    dirs = {k: os.path.join(work, k) for k in ("warehouse", "spark_local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]  # py4j handshake files, Python workers
    # every JVM spark-submit starts (launcher and driver) keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": dirs["spark_local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run for the traced run's counts
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext
    from tracing import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # Arrow/pandas UDF workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    sys.path.insert(0, ROOT)
    import pyspark
    import report  # imports the package: fails outside a checkout of the repository
    import workloads
    from tracing import RssSampler, Tracer, cpu_steal_s, jvm_gc

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = len(os.sched_getaffinity(0))
    workload = workloads.WORKLOADS[args.workload]
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"), args.workload,
                        str(args.seed), work], check=True, timeout=120, stdout=sys.stderr)
        with open(os.path.join(work, "prepared.json")) as f:
            prepared = json.load(f)
        steal0 = cpu_steal_s()
        # memory is sampled from the session start to the end of the timed loop
        rss = RssSampler().start()
        try:
            t0 = time.perf_counter()
            spark = start_session(work, nproc)
            session_s = time.perf_counter() - t0
            try:
                run = workloads.Run(spark, Tracer(spark, bool(args.trace)), args.seed,
                                    args.seconds, work, info=prepared)
                gc0 = jvm_gc(spark)
                workload.measure(run)
                gc1 = jvm_gc(spark)
                rss.stop()
                t0 = time.perf_counter()
                run.mismatched.update(workload.verify(run))
                run.info["verify_s"] = time.perf_counter() - t0
                for name, why in run.mismatched.items():
                    run.tally.fail_name(name, why)
                run.info["mismatched"] = run.mismatched
                job_stats = run.tracer.job_stats()
                sc = spark.sparkContext
                config = {
                    "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "nproc": nproc, "master": sc.master,
                    "default_parallelism": sc.defaultParallelism,
                    "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                    "driver_memory": sc.getConf().get("spark.driver.memory"),
                    "pyspark": pyspark.__version__, "python": platform.python_version(),
                    "git_rev": git_rev(), "source_digest": source_digest(),
                    "cpu_steal_s": cpu_steal_s() - steal0,
                    "disturbed_requests": run.tally.disturbed, **run.info,
                }
            finally:
                stop_session(spark)
        finally:
            rss.stop()
        run.setup_s += session_s
        e2e = report.end_to_end(run, rss.peak_bytes)
        if args.trace:
            metrics = report.per_layer(run, job_stats, gc1[0] - gc0[0], gc1[1] - gc0[1])
        else:
            metrics = e2e
        record = report.record(run, config, e2e, metrics, job_stats)
        os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
        with open(os.path.join(WORK_ROOT, "results", f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"config": config}, default=str))
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
