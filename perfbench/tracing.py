"""Spans and counts recorded around the engine's public calls.

The wrappers are installed from the benchmark's own code, so the traced
run measures the unmodified program. Spans stay in memory and are written
out once, when the run ends. One client drives the engine (a closed loop),
so a single stack of open spans gives every span its parent, including the
spans opened on the streaming callback thread while the main thread waits
inside ``run_stream``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

# (module path, attribute, span name). Names that another module imported
# by value are patched there too, so calls through either name are seen.
TRACED_FUNCTIONS = [
    ("data_pipeline_spark.session", "get_spark", "session.get_spark"),
    ("data_pipeline_spark.cdc.apply", "normalize_events", "cdc.apply.normalize_events"),
    ("data_pipeline_spark.cdc.partial", "normalize_events", "cdc.apply.normalize_events"),
    ("data_pipeline_spark.cdc.apply", "apply_batch", "cdc.apply.apply_batch"),
    ("data_pipeline_spark.cdc.stream", "run_stream", "cdc.stream.run_stream"),
    ("data_pipeline_spark.cdc.partial", "apply_batch_partial", "cdc.partial.apply_batch_partial"),
    ("data_pipeline_spark.cdc.stream", "apply_batch_partial", "cdc.partial.apply_batch_partial"),
]
TRACED_TABLE_METHODS = [
    "stage_delta",
    "commit_staged_delta",
    "commit_rewrite",
    "load",
    "read",
    "lookup",
    "buckets_for_keys",
    "compact_if_needed",
]
# spans whose Spark jobs are counted; for stage_delta also the tasks of its
# first job's first stage (the scan) that read any input rows
JOB_COUNTED = {"cdc.apply.apply_batch", "cdc.partial.apply_batch_partial", "icebox.stage_delta"}


class SparkJobs:
    """Job ids from the driver's status store; jobs run between two calls
    of ``last_id`` have ids in the half-open interval between them."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def last_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return int(jobs.head().jobId()) if jobs.size() else -1

    def totals(self, first: int, last: int) -> dict:
        """Jobs, stages, tasks and failed tasks of jobs first+1..last."""
        tracker = self._sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in range(first + 1, last + 1):
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            out["jobs"] += 1
            for sid in job.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is None:  # skipped: its shuffle output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
        return out

    def scan_tasks(self, first: int, last: int) -> int:
        """Tasks of the first stage of job first+1 that read input rows. A
        parquet file is split into several tasks, but only the task holding
        a row group's midpoint reads it."""
        tracker = self._sc.statusTracker()
        job = tracker.getJobInfo(first + 1) if last > first else None
        if job is None or not len(job.stageIds):
            return 0
        stage = tracker.getStageInfo(min(job.stageIds))
        if stage is None:
            return 0
        tasks = self._store.taskList(stage.stageId, stage.currentAttemptId, stage.numTasks)
        reading = 0
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            reading += metrics.isDefined() and metrics.get().inputMetrics().recordsRead() > 0
        return reading


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, run)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []
        self.counts: dict[str, list[float]] = {}
        self.jobs: SparkJobs | None = None
        self._open: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            idx = len(self.spans)
            parent = self._open[-1] if self._open else -1
            self.spans.append([name, time.perf_counter(), None, parent, self.run_id])
            self._open.append(idx)
        counted = self.jobs is not None and name in JOB_COUNTED
        first = self.jobs.last_id() if counted else 0
        try:
            yield
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans[idx][2] = end
                self._open.remove(idx)
            if counted:
                last = self.jobs.last_id()
                self.count(f"{name}.spark_jobs", last - first)
                if name == "icebox.stage_delta":
                    self.count("icebox.stage_delta.scan_tasks",
                               self.jobs.scan_tasks(first, last))

    def _wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Patch the traced calls; ``uninstall`` restores the originals."""
        import importlib

        from data_pipeline_spark.icebox.table import IceboxTable

        for mod_name, attr, name in TRACED_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patches.append((mod, attr, orig))
            setattr(mod, attr, self._wrapped(orig, name))
        for attr in TRACED_TABLE_METHODS:
            raw = IceboxTable.__dict__[attr]
            self._patches.append((IceboxTable, attr, raw))
            name = f"icebox.{attr}"
            if isinstance(raw, staticmethod):
                setattr(IceboxTable, attr, staticmethod(self._wrapped(raw.__func__, name)))
            else:
                setattr(IceboxTable, attr, self._wrapped(raw, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @staticmethod
    def wrapper_cost_s(n: int = 20000) -> float:
        """Measured cost of one traced call around a function doing nothing."""
        probe = Tracer("probe")
        noop = probe._wrapped(lambda: None, "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)
