"""tokcdc benchmark: one CDC workload, timed, checked against DuckDB.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --scaling --seed N      # opt-in, see scaling.py

Run from the root of a source checkout. The engine runs in-process on
``local[<cpus>]`` (default: the CPUs this process may use). Inputs are made
from the seed and staged to parquet under ``.bench_work/`` before timing;
the whole run reads and writes only inside the checkout.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones, measured with no tracing installed. With
``--trace 1`` wrappers around the engine's public calls record spans, the
metrics are the per-layer ones, and the span file is kept under
``.bench_work/spans/``. A human-readable report goes to standard error.
Any failed call or correctness mismatch makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "apply_events_per_s": "events/s",
    "batch_apply_s_p50": "s",
    "scan_s_p50": "s",
    "lookup_s_p50": "s",
    "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MiB",
}
# set-up: session start, input staging and the untimed warm-up of the write
# path the workload times
SETUP_PHASES = ("session.get_spark", "setup.stage_inputs", "setup.warmup")
PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.stage_inputs_s": "s",
    "setup.warmup_s": "s",
    "cdc.apply.apply_batch.busy_s": "s",
    "cdc.apply.apply_batch.calls": "count",
    "cdc.apply.apply_batch.self_s": "s",
    "cdc.apply.normalize_events.busy_s": "s",
    "cdc.apply.spark_jobs_per_batch": "count",
    "cdc.apply.events_in": "count",
    "cdc.apply.winners": "count",
    "cdc.apply.winners_per_event": "ratio",
    "icebox.stage_delta.busy_s": "s",
    "icebox.stage_delta.scan_tasks": "count",
    "icebox.commit_staged_delta.busy_s": "s",
    "icebox.commit_rewrite.busy_s": "s",
    "icebox.load.busy_s": "s",
    "cdc.stream.add_batch_s": "s",
    "cdc.stream.trigger_overhead_s": "s",
    "icebox.read.busy_s": "s",
    "icebox.live_delta_commits": "count",
    "icebox.lookup.busy_s": "s",
    "icebox.buckets_for_keys.busy_s": "s",
    "icebox.lookup.compacted_s_p50": "s",
    "icebox.read.compacted_s_p50": "s",
    "icebox.compact_if_needed.busy_s": "s",
    "icebox.bytes_written": "bytes",
    "icebox.files_written": "count",
    "icebox.bucket_rows_max_over_median": "ratio",
    "cdc.partial.apply_batch_partial.busy_s": "s",
    "cdc.partial.apply_batch_partial.self_s": "s",
    "cdc.partial.old_row_read_s": "s",
    "cdc.partial.batch_latency_growth": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.spans": "count",
    "trace.wrapper_cost_s": "s",
    "trace.apply_events_per_s": "events/s",
    "trace.batch_apply_s_p50": "s",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _peak_rss_mib(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024.0


def start_spark(cpus: int, work: str):
    from data_pipeline_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM file outside the checkout: no hsperfdata, temp files under work/
    jvm_files = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files  # the spark-submit launcher JVM
    spark = session.get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            # a fixed heap: with a growing one the RSS high-water mark moved
            # by ~20% from run to run
            "spark.driver.extraJavaOptions": f"{jvm_files} -Xms2g -Xmn768m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _lineage_counts(run) -> tuple[int, int, float]:
    """(events in, winners, median per batch of max/median bucket rows)."""
    rows = run.table.read_lineage().filter("batch_id >= 0").collect()
    per_batch: dict[int, list[int]] = {}
    events = winners = 0
    for r in rows:
        events += r["events_applied"]
        w = r["rows_upserted"] + r["rows_deleted"]
        winners += w
        per_batch.setdefault(r["batch_id"], []).append(w)
    skew = [max(v) / statistics.median(v) for v in per_batch.values() if statistics.median(v)]
    return events, winners, (statistics.median(skew) if skew else 0.0)


def per_layer_metrics(run, tracer) -> dict[str, float]:
    import layers

    spans = tracer.spans
    table = layers.layer_table(spans, layers.window(spans))
    whole = layers.layer_table(spans)

    def busy(name):
        return table.get(name, {}).get("busy_s", 0.0)

    def self_s(name):
        return table.get(name, {}).get("self_s", 0.0)

    counts = tracer.counts
    events, winners, skew = _lineage_counts(run)
    apply_calls = table.get("cdc.apply.apply_batch", {}).get("calls", 0)
    progress = run.stream_progress
    add_batch = [x["durationMs"]["addBatch"] / 1000.0 for x in progress]
    overhead = [(x["durationMs"]["triggerExecution"] - x["durationMs"]["addBatch"]) / 1000.0
                for x in progress]
    totals = run.jobs.totals(*run.jobs_window)
    return {
        "session.get_spark_s": whole.get("session.get_spark", {}).get("busy_s", 0.0),
        "setup.stage_inputs_s": run.phases.get("setup.stage_inputs", 0.0),
        "setup.warmup_s": run.phases.get("setup.warmup", 0.0),
        "cdc.apply.apply_batch.busy_s": busy("cdc.apply.apply_batch"),
        "cdc.apply.apply_batch.calls": apply_calls,
        "cdc.apply.apply_batch.self_s": self_s("cdc.apply.apply_batch"),
        "cdc.apply.normalize_events.busy_s": busy("cdc.apply.normalize_events"),
        "cdc.apply.spark_jobs_per_batch": layers.median(
            counts.get("cdc.apply.apply_batch.spark_jobs", [])
            or counts.get("cdc.partial.apply_batch_partial.spark_jobs", [])),
        "cdc.apply.events_in": events,
        "cdc.apply.winners": winners,
        "cdc.apply.winners_per_event": winners / events if events else 0.0,
        "icebox.stage_delta.busy_s": busy("icebox.stage_delta"),
        "icebox.stage_delta.scan_tasks": layers.median(
            counts.get("icebox.stage_delta.scan_tasks", [])),
        "icebox.commit_staged_delta.busy_s": busy("icebox.commit_staged_delta"),
        "icebox.commit_rewrite.busy_s": busy("icebox.commit_rewrite"),
        "icebox.load.busy_s": busy("icebox.load"),
        "cdc.stream.add_batch_s": layers.median(add_batch),
        "cdc.stream.trigger_overhead_s": layers.median(overhead),
        "icebox.read.busy_s": busy("icebox.read"),
        "icebox.live_delta_commits": run.live_delta_commits,
        "icebox.lookup.busy_s": busy("icebox.lookup"),
        "icebox.buckets_for_keys.busy_s": busy("icebox.buckets_for_keys"),
        "icebox.lookup.compacted_s_p50": layers.median(run.lookup_compacted_s),
        "icebox.read.compacted_s_p50": layers.median(run.scan_compacted_s),
        "icebox.compact_if_needed.busy_s": busy("icebox.compact_if_needed"),
        "icebox.bytes_written": run.table_bytes_after - run.table_bytes_before,
        "icebox.files_written": run.files_after - run.files_before,
        "icebox.bucket_rows_max_over_median": skew,
        "cdc.partial.apply_batch_partial.busy_s": busy("cdc.partial.apply_batch_partial"),
        "cdc.partial.apply_batch_partial.self_s": self_s("cdc.partial.apply_batch_partial"),
        "cdc.partial.old_row_read_s": layers.descendants_of(
            spans, "cdc.partial.apply_batch_partial", "icebox.read"),
        "cdc.partial.batch_latency_growth": (
            run.batch_s[-1] / run.batch_s[0] if run.mode == "sparse" else 0.0),
        "spark.jobs": totals["jobs"],
        "spark.stages": totals["stages"],
        "spark.tasks": totals["tasks"],
        "spark.failed_tasks": totals["failed_tasks"],
        "trace.spans": len(spans),
        "trace.wrapper_cost_s": len(spans) * tracer.wrapper_cost_s(),
        "trace.apply_events_per_s": _apply_rate(run),
        "trace.batch_apply_s_p50": statistics.median(run.batch_s),
    }


def _apply_rate(run) -> float:
    """Median over batches (epochs) of events applied per second."""
    return statistics.median(n / t for n, t in zip(run.batch_events, run.batch_s))


def e2e_metrics(run) -> dict[str, float]:
    return {
        "setup_s": sum(run.phases.get(k, 0.0) for k in SETUP_PHASES),
        "apply_events_per_s": _apply_rate(run),
        "batch_apply_s_p50": statistics.median(run.batch_s),
        "scan_s_p50": statistics.median(run.scan_s),
        "lookup_s_p50": statistics.median(run.lookup_s),
        "bytes_written_per_input_byte":
            (run.table_bytes_after - run.table_bytes_before) / run.input_bytes,
        "peak_rss_mb": run.peak_rss_mb,
    }


def run_workload(args) -> int:
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)

    import workloads
    from tracing import SparkJobs, Tracer

    tracer = Tracer(f"{args.workload}:{args.seed}") if args.trace else None
    if tracer:
        tracer.install()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(args.cpus, work)
        session_s = time.perf_counter() - t0
        jobs = SparkJobs(spark)
        if tracer:
            tracer.jobs = jobs
        cache = os.path.join(work_root, "cache")
        os.makedirs(cache, exist_ok=True)
        run = workloads.Run(args.seed, spark, work, cache, jobs, tracer)
        run.phases["session.get_spark"] = session_s
        workloads.SETUP[args.workload](run, args.seconds / workloads.BASE_SECONDS)

        run.table_bytes_before, run.files_before = workloads.table_bytes(run.table.root)
        first_job = jobs.last_id()
        if tracer:
            tracer.counts.clear()
        try:
            with run.phase("bench.timed"):
                workloads.TIMED[args.workload](run)
        except Exception as e:  # a failed engine call fails the run, reported below
            traceback.print_exc()
            run.failed += 1
            run.attempted += 1
            run.errors.append(f"{type(e).__name__}: {e}")
        run.jobs_window = (first_job, jobs.last_id())
        run.table_bytes_after, run.files_after = workloads.table_bytes(run.table.root)
        run.input_bytes = sum(os.path.getsize(f) for f in run.event_files[: run.applied])
        run.peak_rss_mb = _peak_rss_mib(spark)

        if not run.errors:
            import oracle

            with run.phase("bench.check"):
                problems = oracle.check(run)
            run.attempted += 2 + len(run.lookups)
            run.failed += len(problems)
            run.errors += problems

        ok = run.failed == 0
        metrics = {}
        if ok:
            if tracer:
                tracer.uninstall()
                values, units = per_layer_metrics(run, tracer), PER_LAYER
                spans_dir = os.path.join(work_root, "spans")
                os.makedirs(spans_dir, exist_ok=True)
                spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
                tracer.dump(spans_path)
                import layers

                print(layers.format_table(layers.layer_table(
                    tracer.spans, layers.window(tracer.spans))), file=sys.stderr)
                print(f"spans: {spans_path}", file=sys.stderr)
            else:
                values, units = e2e_metrics(run), E2E
                _report(run)
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
        for e in run.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        print(json.dumps({"correct": ok, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0 if ok else 1
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _report(run) -> None:
    """Every number the run measured, including the workload-specific ones."""
    rows = [
        ("batches", len(run.batch_s), "count"),
        ("events", sum(run.batch_events), "count"),
        ("write_s", run.write_s, "s"),
        ("scans", len(run.scan_s), "count"),
        ("lookups", len(run.lookup_s), "count"),
        ("ops_failed_frac", run.failed / max(run.attempted, 1), "ratio"),
    ]
    if run.compact_s:
        rows += [
            ("compact_s", run.compact_s, "s"),
            ("scan_compacted_s_p50", statistics.median(run.scan_compacted_s), "s"),
            ("lookup_compacted_s_p50", statistics.median(run.lookup_compacted_s), "s"),
        ]
    for k, v in run.phases.items():
        rows.append((f"{k}_s", v, "s"))
    for name in ("batch_s", "scan_s", "lookup_s", "scan_compacted_s", "lookup_compacted_s"):
        rows.append((name, " ".join(f"{x:.3f}" for x in getattr(run, name)), "s"))
    for name, value, unit in rows:
        print(f"{name:32s} {value!s:>14s} {unit}" if isinstance(value, str)
              else f"{name:32s} {value:14.4f} {unit}", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=_cpus())
    ap.add_argument("--scaling", action="store_true",
                    help="opt-in: bulk_backfill at local[1] and local[4] beside a ceiling job")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "data_pipeline_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        _fail(f"no engine source under {ROOT}: run from a source checkout")
    sys.path.insert(0, ROOT)
    if args.scaling:
        import scaling

        return scaling.main(args)
    import workloads

    if args.workload not in workloads.NAMES:
        _fail(f"--workload must be one of {', '.join(workloads.NAMES)}")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
