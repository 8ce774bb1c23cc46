"""The CDC workloads: seeded staging, set-up and the timed loop.

Every workload is a closed loop with one client: each engine call waits
for the previous one. Inputs are staged to parquet before timing, and the
engine only ever sees those staged files. Each workload ends with reads of
the table it wrote, all at one table state, so every workload reports the
same end-to-end metrics and their medians do not depend on where in a
growing series the middle samples fall.

The sizes were set on a 4-CPU box so that the timed part of a run takes
about ``--seconds`` = 25 s and a whole run about a minute: a fresh JVM
costs ~7 s to start and ~15 s of first-use compilation before an apply
runs at its warm speed. ``scale`` (``--seconds`` / 25) multiplies batch
counts, never batch sizes.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import __spark_entry__ as entry
from data_pipeline_spark.cdc import apply as cdc_apply
from data_pipeline_spark.cdc import stream as cdc_stream
from data_pipeline_spark.gen import (
    gen_event_log,
    gen_sparse_event_log_portable,
)
from data_pipeline_spark.icebox.table import IceboxTable

NAMES = ("bulk_backfill", "stream_partial")

# batch and epoch counts are for --seconds 25
BASE_SECONDS = 25.0
SIZES = {
    "bulk_backfill": {"batches": 4, "events": 100_000, "buckets": 16},
    "stream_partial": {"files": 4, "events": 40_000, "docs": 50_000, "buckets": 16},
}
# reads after the writes of a workload. A new table state keeps the JIT
# compiling for about ten scans, each faster than the last, and how fast
# they fall depends on the host's speed; untimed scans of the same state
# come first so that the timed ones start near the bottom of that slope.
READ_WARM_SCANS, READ_SCANS, READ_LOOKUPS = 3, 7, 6
HOT_FRAC = 0.10
PERM_MUL = 1_000_003  # prime: a bijection of the key space for any doc count below it


@dataclass
class Run:
    """What one workload run measured, plus what the correctness check needs."""

    seed: int
    spark: object
    work: str
    cache: str  # seed-independent generated logs, kept across runs
    jobs: object
    tracer: object = None
    mode: str = "row"  # row LWW or sparse partial merge, for the oracle
    event_files: list = field(default_factory=list)
    applied: int = 0  # event files applied so far
    table: IceboxTable | None = None
    phases: dict = field(default_factory=dict)  # seconds per named phase
    batch_s: list = field(default_factory=list)
    batch_events: list = field(default_factory=list)
    write_s: float = 0.0
    scan_s: list = field(default_factory=list)
    scan_compacted_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    lookup_compacted_s: list = field(default_factory=list)
    compact_s: float = 0.0
    lookups: list = field(default_factory=list)  # (files applied, key, rows)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    stream_progress: list = field(default_factory=list)
    input_bytes: int = 0
    table_bytes_before: int = 0
    table_bytes_after: int = 0
    files_before: int = 0
    files_after: int = 0
    jobs_window: tuple = (0, 0)
    live_delta_commits: int = 0
    peak_rss_mb: float = 0.0
    n_docs: int = 0
    width: int = 8  # digits in doc_%0Nd

    @contextlib.contextmanager
    def phase(self, name):
        """Time a set-up or benchmark phase; a span too when traced."""
        t0 = time.perf_counter()
        with self.tracer.span(name) if self.tracer else contextlib.nullcontext():
            yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def note_live_deltas(self) -> None:
        """Most live delta commits over any one bucket (``partitions().delta_commits``)."""
        per_bucket: dict[str, int] = {}
        for d in self.table.manifest.get("deltas") or []:
            for b in d["bucket_rows"]:
                per_bucket[b] = per_bucket.get(b, 0) + 1
        self.live_delta_commits = max(per_bucket.values(), default=0)


# ---------------------------------------------------------------- staging


def _canonical(run: Run, sparse: bool, n_batches: int, per_batch: int, n_docs: int):
    """The seed-independent log from the repo's generator as an Arrow table.

    Generated with Spark once per checkout and kept under the cache dir, so
    a run spends its set-up on the engine, not on hashing tokens."""
    kind = "sparse" if sparse else "row"
    path = os.path.join(run.cache, f"{kind}-{n_batches}x{per_batch}-{n_docs}")
    if not os.path.isdir(path):
        n = n_batches * per_batch
        if sparse:
            ev = gen_sparse_event_log_portable(run.spark, n, n_docs, batch_size=per_batch,
                                               partitions=n_batches)
        else:
            ev = gen_event_log(run.spark, n, n_docs, batch_size=per_batch,
                               hot_frac=HOT_FRAC, partitions=n_batches)
        tmp = f"{path}.tmp-{os.getpid()}"
        ev.write.parquet(tmp)
        os.rename(tmp, path)
    return pq.read_table(path)


def _stage(run: Run, log, n_docs: int, path: str) -> list[str]:
    """Seeded copy of a log, one file holding one row group per batch.

    The seed permutes the key space, doc k -> (k * PERM_MUL + seed * 7919)
    mod n_docs, which also moves the hot key."""
    k = pc.cast(pc.utf8_slice_codeunits(log["doc_id"], 4), pa.int64()).to_numpy()
    perm = (k * PERM_MUL + run.seed * 7919) % n_docs
    ids = np.char.add("doc_", np.char.zfill(perm.astype(str), run.width))
    log = log.set_column(log.schema.get_field_index("doc_id"), "doc_id", pa.array(ids))
    os.makedirs(path)
    files = []
    for b in np.unique(log["batch_id"].to_numpy()):
        part = log.filter(pc.equal(log["batch_id"], b))
        files.append(os.path.join(path, f"batch-{b:05d}.parquet"))
        pq.write_table(part, files[-1], row_group_size=part.num_rows)
    return files


def _new_table(run: Run, name: str, buckets: int) -> IceboxTable:
    return IceboxTable.create(run.spark, os.path.join(run.work, name), entry.BASE_SCHEMA,
                              n_buckets=buckets)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_bytes(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under a table root."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


# ---------------------------------------------------------------- reads


def lookup_keys(run: Run, n: int) -> list[str]:
    """Seeded probe keys from the key space; every third lies outside it, never written."""
    rng = random.Random(run.seed * 1009 + len(run.lookups))
    return [
        f"doc_{rng.randrange(run.n_docs) + (run.n_docs if i % 3 == 2 else 0):0{run.width}d}"
        for i in range(n)
    ]


def _read(run: Run, scans: list, lookups: list, n_scans: int, n_lookups: int,
          n_warm: int = 0) -> None:
    """Untimed warm-up scans, timed full scans (each forced with a noop
    write), then seeded point lookups."""
    for _ in range(n_warm):
        _noop(run.table.read())
    for _ in range(n_scans):
        _, dt = _timed(lambda: _noop(run.table.read()))
        scans.append(dt)
    for key in lookup_keys(run, n_lookups):
        rows, dt = _timed(lambda: run.table.lookup([key]).collect())
        lookups.append(dt)
        run.lookups.append((run.applied, key, [tuple(r) for r in rows]))
    run.attempted += n_warm + n_scans + n_lookups


# ---------------------------------------------------------------- workloads


def _apply_file(run: Run, path: str, per_batch: int, apply) -> None:
    ev = run.spark.read.parquet(path)
    run.table, dt = _timed(lambda: apply(run.table, ev, run.applied))
    run.applied += 1
    run.attempted += 1
    run.batch_s.append(dt)
    run.batch_events.append(per_batch)
    run.write_s += dt


def _delta(table, ev, batch_id):
    return cdc_apply.apply_batch(table, ev, batch_id, merge_strategy="delta")


def _warm_up(run: Run, files: list[str], buckets: int) -> None:
    """Apply batches to a throwaway table, then scan it and look up one key."""
    t = _new_table(run, "warm", buckets)
    for i, path in enumerate(files):
        t = _delta(t, run.spark.read.parquet(path), i)
    _noop(t.read())
    t.lookup(["doc_00000001"]).collect()


def setup_bulk_backfill(run: Run, scale: float) -> None:
    s = SIZES["bulk_backfill"]
    n_batches = max(2, round(s["batches"] * scale))
    run.n_docs = n_batches * s["events"] // 10
    with run.phase("setup.stage_inputs"):
        # one file holding one row group per batch: the layout gen_event_log
        # and the table writer produce, which caps job 1's scan at one task
        log = _canonical(run, False, n_batches, s["events"], run.n_docs)
        run.event_files = _stage(run, log, run.n_docs, os.path.join(run.work, "in_events"))
    with run.phase("setup.warmup"):
        # a full-size batch: after a smaller one the first timed batch ran cold
        _warm_up(run, run.event_files[:1], s["buckets"])
    run.table = _new_table(run, "table", s["buckets"])


def timed_bulk_backfill(run: Run) -> None:
    """Writes, reads through one live delta per batch, compaction, reads again."""
    for path in run.event_files:
        _apply_file(run, path, SIZES["bulk_backfill"]["events"], _delta)
    run.note_live_deltas()
    _read(run, run.scan_s, run.lookup_s, READ_SCANS, READ_LOOKUPS, READ_WARM_SCANS)
    # a ratio of 0 folds every bucket that has a live delta
    run.table, run.compact_s = _timed(lambda: run.table.compact_if_needed(ratio=0.0))
    run.attempted += 1
    _read(run, run.scan_compacted_s, run.lookup_compacted_s, 1, 2)


def _stream(run: Run, root: str, src: str, name: str, schema):
    """Drain every file under src, one file per epoch, into the table at root."""
    return cdc_stream.run_stream(
        run.spark, src, schema, root, os.path.join(run.work, f"ckpt_{name}"),
        query_name=name, max_files_per_trigger=1, merge_mode="partial",
        merge_strategy="delta",
    )


def _in_lsn_order(files: list[str]) -> list[str]:
    """Give files strictly increasing mtimes: the file source delivers them in
    that order, and the partial merge requires epochs in LSN order."""
    t0 = time.time() - 3600
    for i, f in enumerate(files):
        os.utime(f, (t0 + i, t0 + i))
    return files


def setup_stream_partial(run: Run, scale: float) -> None:
    s = SIZES["stream_partial"]
    run.mode, run.width, run.n_docs = "sparse", 6, s["docs"]
    n_files = max(2, round(s["files"] * scale))
    with run.phase("setup.stage_inputs"):
        log = _canonical(run, True, n_files, s["events"], s["docs"])
        run.event_files = _in_lsn_order(
            _stage(run, log, s["docs"], os.path.join(run.work, "in_events")))
        warm_src = os.path.join(run.work, "in_warm")
        _in_lsn_order(_stage(run, _canonical(run, True, 2, 20_000, 20_000), 20_000, warm_src))
    with run.phase("setup.warmup"):
        warm = _new_table(run, "warm", s["buckets"])
        _stream(run, warm.root, warm_src, "warm", run.spark.read.parquet(warm_src).schema)
        warm = IceboxTable.load(run.spark, warm.root)
        _noop(warm.read())
        warm.lookup(["doc_000001"]).collect()
    run.table = _new_table(run, "table", s["buckets"])


def timed_stream_partial(run: Run) -> None:
    src = os.path.dirname(run.event_files[0])
    schema = run.spark.read.parquet(src).schema
    q, run.write_s = _timed(lambda: _stream(run, run.table.root, src, "bench", schema))
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    run.stream_progress = progress
    run.batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    run.batch_events = [p["numInputRows"] for p in progress]
    run.attempted += len(run.event_files)
    run.applied = len(run.event_files)
    if len(progress) != len(run.event_files):
        run.failed += 1
        run.errors.append(f"{len(progress)} epochs for {len(run.event_files)} files")
    run.table = IceboxTable.load(run.spark, run.table.root)
    run.note_live_deltas()
    _read(run, run.scan_s, run.lookup_s, READ_SCANS, READ_LOOKUPS, READ_WARM_SCANS)


SETUP = {n: globals()[f"setup_{n}"] for n in NAMES}
TIMED = {n: globals()[f"timed_{n}"] for n in NAMES}

