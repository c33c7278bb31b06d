#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root (or anywhere: paths resolve from this
file). The workload builds its inputs from ``--seed`` under
``.bench_work/`` in the repository, calls the package's public
functions as one closed-loop client on ``local[nproc]`` for at least
``--seconds`` seconds, checks the outputs outside the timed region, and
prints as its LAST line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` turns on Spark's event log, tags every layer call with a
job group of its own, and reports the per-layer metrics instead. A
``perfbench-detail`` line before the result carries the workload's own
metric names, failures with their exception reprs, check results and
host-noise samples (loadavg, CPU steal) taken around the run.

Exit status: 0 when the run completed and every check passed, 1 when a
check failed, 2 when the package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "reddit_apache_airflow_postgres_pipeline_spark"
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "batch_p50_s": "s",
    "peak_rss_mb": "MB",
}
SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.job_busy_s": "s",
    "spark.driver_only_s": "s",
    "spark.storage_used_mb": "MB",
}


def layer_units(query_names: list[str]) -> dict[str, str]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    units = {"session.get_spark_s": "s"}
    for name in (
        "sources.reddit.reddit_listing_df_s", "sinks.csv.write_atomic_csv_s",
        "sources.files.read_csv_inbox_s", "sources.files.files_scanned",
        "plans.pipelines.combine_pipeline_s", "sinks.archive.archive_files_s",
        "operators.merge.upsert_merge_s", "load.target_write_s",
        "load.target_rows", "operators.dedup.dropped_ratio",
        "streaming.drift_gate_s", "streaming.dedup_gate_s",
        "streaming.span_gate_s", "streaming.sketch_s",
        "streaming.vector_index_stream_s", "streaming.admitted_ratio",
        "streaming.rejected_docs", "streaming.quarantined_docs",
        "streaming.microbatches", "streaming.dedup_gate.state_bytes",
        "streaming.dedup_gate.state_dirs", "streaming.span_gate.state_bytes",
        "sinks.text_index.query_construct_s", "sinks.text_index.query_execute_s",
        "sinks.vector_index.delta_dirs", "sinks.text_index.append_s",
    ):
        units[name] = _unit(name)
    for q in query_names:
        for suffix in ("construct_s", "execute_s", "construct_jobs"):
            units[f"plans.registry.{q}.{suffix}"] = _unit(suffix)
    units.update(SPARK_METRICS)
    units["trace.op_p50_s"] = "s"
    units["trace.batch_p50_s"] = "s"
    return units


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


class Ctx:
    def __init__(self, args, work, rec):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.work = work
        self.rec = rec
        self.spark = None


def _environment(work: str) -> None:
    """Pin the session to this host and keep every file it writes
    inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_UI_ENABLED"] = "false"
    # the Python workers import the package too (mapInPandas stages)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER", None)
    # both JVMs (launcher and driver): temp files here, no perf-data files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def _session_conf(ctx) -> dict[str, str]:
    from harness import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if ctx.trace:
        conf.update(event_log_conf(os.path.join(ctx.work, "eventlog")))
    return conf


def _setup(ctx, wl) -> list[float]:
    """Session start plus fixture build, repeated; the first includes
    the JVM launch, later ones restart the SparkContext in it."""
    from reddit_apache_airflow_postgres_pipeline_spark.session import get_spark

    times, session = [], []
    for i in range(wl.setup_repeats):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_spark(app_name=f"perfbench-{wl.name}",
                              extra_conf=_session_conf(ctx))
        session.append(time.perf_counter() - t0)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.rec.bind(ctx.spark)
        wl.fixtures(os.path.join(ctx.work, f"setup{i}"))
        times.append(time.perf_counter() - t0)
    ctx.session_s = session
    return times


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - already gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _runnable() -> int:
    """Runnable tasks on the host, this process excluded."""
    try:
        with open("/proc/loadavg") as fh:
            return int(fh.read().split()[3].split("/")[0]) - 1
    except (OSError, ValueError, IndexError):
        return 0


def _calibration_s() -> float:
    """Seconds for a fixed single-thread CPU loop: compares host speed
    between runs, which steal alone does not show (neighbours sharing
    cores and caches slow a run without stealing time from it)."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def _finite(x: float) -> float:
    return x if math.isfinite(x) else 1e9


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs; used by the self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: {PACKAGE}/ and bench.py not found under {ROOT}",
              file=sys.stderr)
        return 2
    # a fresh work dir per run: the registry keeps an on-disk fixture
    # cache under the temp dir keyed by input path, which must not
    # survive into another run
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path[:0] = [ROOT, HERE]

    from harness import Recorder, aggregate_event_log, median, patch_layers, peak_rss_mb
    from workloads import WORKLOADS, replay_query_names

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import bench  # host-noise samplers: bench._loadavg / bench._steal_ticks

    rec = Recorder(trace=bool(args.trace))
    ctx = Ctx(args, work, rec)
    wl = WORKLOADS[args.workload](ctx)
    if ctx.trace:
        patch_layers(rec)

    load_start, steal_start, t_start = bench._loadavg(), bench._steal_ticks(), time.time()
    runnable_start, calib_start = _runnable(), _calibration_s()
    try:
        setups = _setup(ctx, wl)
        wl.warm_up()
        if ctx.trace:
            ctx.spark.sparkContext.setJobGroup("pb0:idle", "idle")
        wl.run(time.perf_counter() + args.seconds)
        try:
            wl.check()
        except Exception as exc:  # noqa: BLE001 - a check that raises fails
            wl.expect("check.raised", False, repr(exc))
        e2e = {"setup_s": median(setups), **wl.metrics(),
               "peak_rss_mb": peak_rss_mb()}
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
    load_end, steal_end = bench._loadavg(), bench._steal_ticks()
    calib_end = _calibration_s()

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    wall = time.time() - t_start
    steal_cores = (
        (steal_end - steal_start) / wall / 100.0
        if steal_start is not None and steal_end is not None else None
    )
    # the load averages decay over minutes, so back-to-back runs would
    # flag each other; runnable tasks at start name other tenants now.
    # On a 4-core host, 0.2 cores of average steal came with ~35% slower
    # ops, hence a lower steal threshold than bench.py's
    noisy = bool(
        runnable_start > cpus * 0.5
        or (steal_cores is not None and steal_cores >= 0.04 * cpus)
    )
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "workload_metrics": dict(
            wl.detail, setup_s=e2e["setup_s"],
            failed_op_ratio=rec.failed / max(rec.attempted, 1),
            peak_rss_mb=e2e["peak_rss_mb"],
        ),
        "op_latencies_s": dict(rec.lat),
        "setup_runs_s": setups, "session_start_s": ctx.session_s,
        "checks": wl.checks, "check_errors": wl.check_errors[:20],
        "failures": rec.failures[:20],
        "host": {"cpus": cpus, "load_start": load_start, "load_end": load_end,
                 "runnable_start": runnable_start,
                 "calibration_s": [calib_start, calib_end],
                 "steal_cores_avg": steal_cores, "noisy": noisy},
    }
    if ctx.trace:
        spark_m = aggregate_event_log(os.path.join(ctx.work, "eventlog"), rec)
        units = layer_units(replay_query_names())
        values = {
            "session.get_spark_s": median(ctx.session_s),
            **wl.layer_metrics(), **spark_m,
            "trace.op_p50_s": e2e["op_p50_s"],
            "trace.batch_p50_s": e2e["batch_p50_s"],
        }
        metrics = {n: {"value": _finite(float(values.get(n, 0.0))), "unit": u}
                   for n, u in units.items()}
        spans_dir = os.path.join(ROOT, ".bench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{wl.name}-s{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"detail": detail, "spans": rec.spans}, fh)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = {n: {"value": _finite(float(e2e[n])), "unit": u}
                   for n, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)

    correct = bool(wl.checks) and all(wl.checks.values()) and rec.failed == 0
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
