"""Table-layer unit tests: commit atomicity, time travel, pruned reads,
schema evolution, tag idempotency."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_pipeline_spark.icebox import IceboxTable, SchemaEvolutionError

BASE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
    ]
)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, BASE_SCHEMA)


def test_create_write_read_roundtrip(spark, tdir):
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=8)
    df = _mkdf(spark, [(f"doc_{i}", [i, i + 1], 2) for i in range(20)])
    t = t.overwrite_all(df)
    got = t.read().orderBy("doc_id").collect()
    assert len(got) == 20
    assert got[0]["doc_id"] == "doc_0"
    assert got[0]["tokens"] == [0, 1]


def test_bucket_pruned_read(spark, tdir):
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=8)
    df = _mkdf(spark, [(f"doc_{i}", [i], 1) for i in range(50)])
    t = t.overwrite_all(df)
    # every row must land in exactly the bucket its manifest entry claims
    full = t.read().withColumn("_b", t.bucket_of())
    for b in range(8):
        want = {r["doc_id"] for r in full.filter(F.col("_b") == b).collect()}
        got = {r["doc_id"] for r in t.read(buckets=[b]).collect()}
        assert got == want


def test_time_travel_and_immutability(spark, tdir):
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [("a", [1], 1)]))
    s1 = t.snapshot_id
    t = t.overwrite_all(_mkdf(spark, [("a", [2], 1), ("b", [3], 1)]))
    old = IceboxTable.load(spark, root, snapshot_id=s1)
    assert [r["tokens"] for r in old.read().collect()] == [[1]]
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "b"}


def test_tagged_commit_idempotent(spark, tdir):
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    df = _mkdf(spark, [("a", [1], 1)]).withColumn("_b", F.lit(0))
    t = t.commit_rewrite(df, [0], tag="batch:1")
    sid = t.snapshot_id
    t2 = t.commit_rewrite(df, [0], tag="batch:1")  # replay → no-op
    assert t2.snapshot_id == sid
    assert t2.has_tag("batch:1")


def test_schema_evolution_add_and_widen(spark, tdir):
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [("a", [1], 1)]))
    evolved = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", LongType()),  # widen int32 -> int64
            StructField("source", StringType()),  # column add
        ]
    )
    t.evolve_schema(evolved)
    assert isinstance(t.schema["n_tok"].dataType, LongType)
    # old files (written as int32, without source) read back conformed
    row = t.read().collect()[0]
    assert row["n_tok"] == 1 and row["source"] is None

    # illegal change rejected
    bad = StructType([StructField("tokens", StringType())])
    with pytest.raises(SchemaEvolutionError):
        t.evolve_schema(bad)


def test_crash_before_pointer_swap_is_invisible(spark, tdir):
    """Simulated torn commit: data written but CURRENT not swapped →
    loader still sees the previous snapshot."""
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [("a", [1], 1)]))
    # fake a crashed writer: orphan data dir, no manifest/pointer update
    orphan = os.path.join(root, "data", "snap-99999999-dead", "_b=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    t2 = IceboxTable.load(spark, root)
    assert t2.snapshot_id == t.snapshot_id
    assert [r["doc_id"] for r in t2.read().collect()] == ["a"]


def test_manifest_is_self_contained(spark, tdir):
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [(f"d{i}", [i], 1) for i in range(10)]))
    with open(os.path.join(root, "metadata", "CURRENT")) as f:
        name = f.read().strip()
    m = json.load(open(os.path.join(root, "metadata", name)))
    assert set(m) >= {"snapshot_id", "buckets", "schemas", "committed_tags"}
    for e in m["buckets"].values():
        assert os.path.isdir(os.path.join(root, e["path"]))


def test_expire_snapshots(spark, tdir):
    """Maintenance: old manifests+orphan data dirs removed; current state,
    time travel within the kept window, lineage, and tags all survive."""
    root = os.path.join(tdir, "texp")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    for i in range(6):
        df = _mkdf(spark, [(f"doc_{j}", [i, j], 2) for j in range(8)])
        t = t.overwrite_all(df, tag=f"load:{i}")
    before = t.read().orderBy("doc_id").collect()
    n_dirs_before = len(os.listdir(os.path.join(root, "data")))

    res = t.expire_snapshots(keep_last=2)
    assert res["removed_manifests"] > 0
    # strictly FEWER dirs: dirs referenced only by expired manifests are
    # reclaimed exactly (4 superseded overwrites here) — `<=` would pass
    # even if expiry leaked every orphan data dir
    assert len(os.listdir(os.path.join(root, "data"))) < n_dirs_before

    t2 = IceboxTable.load(spark, root)
    assert t2.read().orderBy("doc_id").collect() == before
    # tags survive (exactly-once replay detection intact)
    assert t2.has_tag("load:0") and t2.has_tag("load:5")
    # replay of an expired-era tag is still a no-op
    df = _mkdf(spark, [("doc_X", [9], 1)])
    t3 = t2.overwrite_all(df, tag="load:0")
    assert t3.snapshot_id == t2.snapshot_id


def test_expire_orphan_grace_protects_inflight_staging(spark, tdir):
    """The expire/orphan split (Iceberg expire vs remove_orphan_files):
    data referenced only by EXPIRED manifests is deleted exactly —
    freshness is irrelevant, the reference witness makes it dead — but
    an UNREFERENCED dir (indistinguishable from a concurrent writer's
    staged-not-yet-committed delta) survives until orphan_grace ages
    out, then goes."""
    root = os.path.join(tdir, "tgr")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=2)
    for i in range(4):
        t = t.overwrite_all(
            _mkdf(spark, [(f"doc_{j}", [i, j], 2) for j in range(6)])
        )
    data_dir = os.path.join(root, "data")
    # a concurrent writer mid-commit: staged files exist, manifest not yet
    staged = os.path.join(data_dir, "snap-00000099-aaaa1111")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "wb") as f:
        f.write(b"in-flight")
    # a true crash leftover: same shape, but OLD
    stale = os.path.join(data_dir, "snap-00000098-bbbb2222")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
        f.write(b"crashed long ago")
    old = 1.0  # epoch 1970 — far past any grace window
    os.utime(stale, (old, old))
    os.utime(os.path.join(stale, "part-0.parquet"), (old, old))

    res = t.expire_snapshots(keep_last=1)
    # expired-manifest data went despite fresh mtimes (exact removal)...
    assert res["removed_manifests"] >= 2
    # ...the aged orphan went, the in-flight staged dir survived
    assert not os.path.exists(stale)
    assert os.path.exists(staged)
    assert res["skipped_orphans"] == 1
    assert IceboxTable.load(spark, root).read().count() == 6


@pytest.mark.parametrize(
    "stale_op",
    [
        pytest.param(lambda t, df: t.overwrite_all(df), id="overwrite"),
        pytest.param(lambda t, df: t.rename_column("n_tok", "n"), id="rename"),
        pytest.param(lambda t, df: t.drop_column("n_tok"), id="drop"),
        pytest.param(lambda t, df: t.rollback(3), id="rollback"),
    ],
)
def test_concurrent_commit_rejected(spark, tdir, stale_op):
    """Optimistic concurrency: a stale handle must not clobber a newer
    snapshot (Iceberg-style single-winner swap) — data rewrites and
    metadata-only commits (DDL, rollback) alike, even after
    expire_snapshots removed the manifest the stale commit would take
    the name of."""
    from data_pipeline_spark.icebox import ConcurrentCommitError

    root = os.path.join(tdir, "tcc")
    IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    df = _mkdf(spark, [("doc_1", [1], 1)])
    IceboxTable.load(spark, root).overwrite_all(df)
    stale = IceboxTable.load(spark, root)  # snapshot 1
    t = IceboxTable.load(spark, root).overwrite_all(df).overwrite_all(df)
    t.expire_snapshots(keep_last=1)
    current = os.path.join(root, "metadata", "CURRENT")
    with open(current) as f:
        before = f.read()
    with pytest.raises(ConcurrentCommitError):
        stale_op(stale, df)
    with open(current) as f:
        assert f.read() == before == "snap-00000003.json"
    assert IceboxTable.load(spark, root).snapshot_id == 3
    # reload-and-retry works
    assert stale_op(IceboxTable.load(spark, root), df).snapshot_id == 4


def test_split_buckets_partition_evolution(spark, tdir):
    """Bucket split: finer layout, identical contents, pruned reads and
    further CDC applies keep working; time travel across the split sees
    the OLD layout."""
    from data_pipeline_spark.cdc import apply_batch

    root = os.path.join(tdir, "tsplit")
    schema = StructType([*BASE_SCHEMA.fields, StructField("source", StringType())])
    t = IceboxTable.create(spark, root, schema, n_buckets=4)
    docs = [(f"doc_{i}", [i], 1, "s") for i in range(40)]
    t = t.overwrite_all(spark.createDataFrame(docs, schema))
    # layer a delta on top so the split also exercises delta folding
    ev = spark.createDataFrame(
        [(100, "update", "doc_3", [3, 3], 2, "s2"), (101, "delete", "doc_4", None, None, None)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    t = apply_batch(t, ev, 0, merge_strategy="delta")
    before = t.read().orderBy("doc_id").collect()
    pre_split_sid = t.snapshot_id

    t = t.split_buckets(factor=2)
    assert t.n_buckets == 8
    assert not t.manifest["deltas"]
    assert t.read().orderBy("doc_id").collect() == before

    # pruned read agrees with the new bucket expr
    full = t.read().withColumn("_b", t.bucket_of())
    for b in range(8):
        want = {r["doc_id"] for r in full.filter(F.col("_b") == b).collect()}
        got = {r["doc_id"] for r in t.read(buckets=[b]).collect()}
        assert got == want, b

    # further applies work against the finer layout
    ev2 = spark.createDataFrame(
        [(200, "insert", "doc_99", [9], 1, "s")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    t = apply_batch(t, ev2, 1, merge_strategy="delta")
    assert t.read().filter(F.col("doc_id") == "doc_99").count() == 1

    # time travel to before the split sees the old layout + old contents
    old = IceboxTable.load(spark, root, snapshot_id=pre_split_sid)
    assert old.n_buckets == 4
    assert old.read().orderBy("doc_id").collect() == before


def test_torn_publish_rolls_forward_on_load(spark, tdir):
    """Crash between the exclusive manifest link and the CURRENT swap:
    the published manifest IS the durable commit — load() must adopt it
    (and repair CURRENT) instead of wedging every future commit on a
    snapshot-name collision."""
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [("a", [1], 1)]))

    # simulate the torn publish: next snapshot's manifest exists, CURRENT
    # still points at the previous one
    meta = os.path.join(root, "metadata")
    torn = {
        **t.manifest,
        "snapshot_id": t.snapshot_id + 1,
        "parent_id": t.snapshot_id,
        "tag": "torn:1",
        "committed_tags": t.manifest["committed_tags"] + ["torn:1"],
        "summary": {"operation": "torn"},
    }
    with open(os.path.join(meta, f"snap-{t.snapshot_id + 1:08d}.json"), "w") as f:
        json.dump(torn, f)

    t2 = IceboxTable.load(spark, root)
    assert t2.snapshot_id == t.snapshot_id + 1
    assert t2.has_tag("torn:1")  # the torn commit's exactly-once tag survives
    with open(os.path.join(meta, "CURRENT")) as f:
        assert f.read().strip() == f"snap-{t2.snapshot_id:08d}.json"
    # and the table is commit-able again (no name-collision wedge)
    sid2 = t2.snapshot_id
    t3 = t2.overwrite_all(_mkdf(spark, [("b", [2], 1)]))
    assert t3.snapshot_id == sid2 + 1


def test_failed_split_leaves_handle_consistent(spark, tdir):
    """A split that fails mid-commit must not leave the live handle
    claiming the new bucket count over the old layout."""
    root = os.path.join(tdir, "t")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [(f"d{i}", [i], 1) for i in range(10)]))
    n_before = t.n_buckets

    orig = IceboxTable._write_manifest
    IceboxTable._write_manifest = lambda self, m: (_ for _ in ()).throw(
        OSError("simulated split crash")
    )
    try:
        with pytest.raises(OSError):
            t.split_buckets(factor=2)
    finally:
        IceboxTable._write_manifest = orig
    assert t.n_buckets == n_before  # handle untouched
    # and still fully usable
    t2 = t.overwrite_all(_mkdf(spark, [("x", [9], 1)]))
    assert t2.read().filter(F.col("doc_id") == "x").count() == 1


def test_lookup_reads_only_key_buckets(spark, tdir):
    """Point lookup touches only the keys' buckets — proven by corrupting
    every other bucket's files."""
    root = os.path.join(tdir, "tlk")
    schema = StructType([*BASE_SCHEMA.fields, StructField("source", StringType())])
    t = IceboxTable.create(spark, root, schema, n_buckets=8)
    docs = [(f"doc_{i}", [i], 1, "s") for i in range(64)]
    t = t.overwrite_all(spark.createDataFrame(docs, schema))
    keys = ["doc_3", "doc_17"]
    key_buckets = {
        r["_b"]
        for r in spark.createDataFrame([(k,) for k in keys], "doc_id string")
        .select(t.bucket_of().alias("_b"))
        .collect()
    }
    for b, e in t.manifest["buckets"].items():
        if int(b) in key_buckets:
            continue
        bdir = os.path.join(root, e["path"])
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                with open(os.path.join(bdir, f), "wb") as fh:
                    fh.write(b"corrupt")
    got = {r["doc_id"]: r["tokens"] for r in t.lookup(keys).collect()}
    assert got == {"doc_3": [3], "doc_17": [17]}


def test_rollback_across_split_restores_layout(spark, tdir):
    """Rollback to a pre-split snapshot must restore n_buckets with the
    state: bucket_of() has to agree with the restored physical layout or
    every bucket-pruned path silently drops keys (ADVICE r2, medium)."""
    root = os.path.join(tdir, "trs")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [(f"d{i}", [i], 1) for i in range(72)]))
    pre_split = t.snapshot_id
    t = t.split_buckets(factor=2)
    assert t.n_buckets == 8
    t = t.rollback(pre_split)
    assert t.n_buckets == 4  # layout travels with the state
    # full read intact
    assert t.read().count() == 72
    # every single-key pruned lookup still finds its row
    got = {r["doc_id"] for k in range(72) for r in t.lookup([f"d{k}"]).collect()}
    assert got == {f"d{i}" for i in range(72)}


def test_lookup_non_string_key(spark, tdir):
    """lookup() must hash the key with the table's actual key type —
    a hardcoded string schema would bucket long keys wrong (ADVICE r2)."""
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("v", StringType()),
        ]
    )
    root = os.path.join(tdir, "tnk")
    t = IceboxTable.create(spark, root, schema, n_buckets=8, key="k")
    t = t.overwrite_all(
        spark.createDataFrame([(i, f"v{i}") for i in range(40)], schema)
    )
    got = {r["k"]: r["v"] for r in t.lookup([3, 17, 25]).collect()}
    assert got == {3: "v3", 17: "v17", 25: "v25"}


def test_split_if_needed_policy(spark, tdir):
    """Average-rows-per-bucket policy: no-op under budget (same handle,
    no commit), doubles buckets over budget, reads unchanged."""
    root = os.path.join(tdir, "tsin")
    t = IceboxTable.create(spark, root, BASE_SCHEMA, n_buckets=4)
    t = t.overwrite_all(_mkdf(spark, [(f"d{i}", [i], 1) for i in range(40)]))
    assert t.split_if_needed(max_rows_per_bucket=100) is t  # 10/bucket, no-op
    t2 = t.split_if_needed(max_rows_per_bucket=5)  # 10/bucket > 5 -> split
    assert t2.n_buckets == 8
    assert t2.read().count() == 40
    got = {r["doc_id"] for k in range(40) for r in t2.lookup([f"d{k}"]).collect()}
    assert got == {f"d{i}" for i in range(40)}
