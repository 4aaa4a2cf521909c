"""v2 manifest-list metadata: per-commit metadata I/O must be O(touched
buckets), not O(live files) — the round-1 format embedded the full
live-file list in every snapshot entry, so a 10^5-epoch stream on a
4096-bucket table rewrote a huge metadata.json per commit.

These tests drive the metadata layer directly (_commit with synthetic
manifest entries — no Spark data writes) so 1,000 epochs run in seconds;
the Spark-integrated paths are covered by the existing lakehouse /
maintenance / concurrency tests which all go through the same code.
"""

import hashlib
import json
import os
import types

import pytest
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse import table as table_mod
from nvimagecodec_spark.lakehouse.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

BUCKETS = 256


def _fake_file(table, bucket, epoch):
    return {
        "path": os.path.join(table._data_dir, f"snap-{epoch:08d}", f"_pb={bucket}", "f.parquet"),
        "bucket": bucket,
        "rows": 100,
    }


def _merge_epoch(table, epoch, touched):
    """Simulate a bucket-replacing merge commit at the metadata layer."""
    new_files = [_fake_file(table, b, epoch) for b in touched]
    tset = set(touched)

    def files_fn(snap):
        return [f for f in snap.files if f["bucket"] not in tset] + new_files

    return table._commit("merge", files_fn, {"touched_bucket_count": len(tset)})


def _tree_bytes(d):
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def test_per_commit_metadata_is_o_touched_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], BUCKETS)
    # populate all 256 buckets
    _merge_epoch(t, 0, list(range(BUCKETS)))

    def commit_cost(epoch, touched):
        before = _tree_bytes(t._metadata_dir)
        files_before = sum(len(fs) for _, _, fs in os.walk(t._manifest_dir))
        _merge_epoch(t, epoch, touched)
        new_manifest_files = sum(len(fs) for _, _, fs in os.walk(t._manifest_dir)) - files_before
        return _tree_bytes(t._metadata_dir) - before, new_manifest_files

    # 1,000 epochs touching 3 buckets each; sample costs along the way
    costs = []
    for epoch in range(1, 1001):
        touched = [(epoch * 7 + i) % BUCKETS for i in range(3)]
        if epoch in (1, 100, 500, 1000):
            delta, new_manifests = commit_cost(epoch, touched)
            costs.append((epoch, delta, new_manifests))
        else:
            _merge_epoch(t, epoch, touched)
        if epoch % 200 == 0:
            t.expire_snapshots(keep_last=10)

    # per-commit manifests written == touched buckets (content-addressed
    # manifests of the other 253 buckets are reused by reference)
    for epoch, _, new_manifests in costs:
        assert new_manifests <= 3 + 1, f"epoch {epoch} wrote {new_manifests} manifest files"

    # per-commit metadata bytes must NOT grow with epoch count: the last
    # sampled commit stays within 2x of the first (retention bounds the
    # snapshot log; manifests are per-touched-bucket)
    first, last = costs[0][1], costs[-1][1]
    assert last < 2 * first + 8192, f"metadata cost grew {first} -> {last} bytes"

    # snapshot entries in metadata.json carry NO inline file list
    with open(t._version_path(t.meta["_version"])) as f:
        raw = json.load(f)
    for entry in raw["snapshots"]:
        assert "files" not in entry
        assert entry["manifest_list"]

    # and the reconstructed current snapshot still sees all 256 buckets
    snap = t.current_snapshot()
    assert {f["bucket"] for f in snap.files} == set(range(BUCKETS))
    assert len(snap.files) == BUCKETS


def test_manifest_reuse_is_content_addressed(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 8)
    _merge_epoch(t, 0, list(range(8)))
    snap1 = t.current_snapshot()
    _merge_epoch(t, 1, [3])
    snap2 = t.current_snapshot()
    def _ml(snap):
        p = os.path.join(t._manifest_dir, snap.manifest_list)
        return {m["bucket"]: m["manifest"] for m in t._load_manifest(p)}

    ml1, ml2 = _ml(snap1), _ml(snap2)
    assert ml1[3] != ml2[3]
    for b in range(8):
        if b != 3:
            assert ml1[b] == ml2[b], f"untouched bucket {b} manifest was rewritten"


def _full_manifest_list(table, files):
    """The manifest list built by serializing and hashing every bucket's
    sorted, table-relative file list — what a commit wrote before it
    reused the parent's entries for unchanged buckets."""
    by_bucket = {}
    for f in files:
        rel = {**f, "path": os.path.relpath(f["path"], table.path)}
        by_bucket.setdefault(f["bucket"], []).append(rel)
    out = []
    for b in sorted(by_bucket):
        flist = sorted(by_bucket[b], key=lambda f: f["path"])
        content = json.dumps(flist, sort_keys=True, default=str)
        h = hashlib.sha1(content.encode()).hexdigest()[:16]
        out.append({"bucket": b, "manifest": f"m-{h}.json", "n_files": len(flist)})
    return out


def test_commit_serializes_only_changed_buckets(tmp_path, monkeypatch):
    """A 3-bucket commit on a 2,048-bucket table serializes 3 manifests
    and 1 manifest list; the other buckets reuse the parent's entries,
    and the manifest list equals the fully re-serialized one."""
    n = 2048
    t = LakeTable.create(None, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], n)
    _merge_epoch(t, 0, list(range(n)))
    touched = [5, 700, n - 1]

    dumped = []

    def counted(fn):
        def dump(obj, *a, **kw):
            dumped.append(obj)
            return fn(obj, *a, **kw)

        return dump

    monkeypatch.setattr(table_mod, "json", types.SimpleNamespace(
        load=json.load, loads=json.loads,
        dump=counted(json.dump), dumps=counted(json.dumps),
    ))
    snap = _merge_epoch(t, 1, touched)
    monkeypatch.undo()
    assert len(dumped) <= len(touched) + 1, f"{len(dumped)} serializations"

    expected_files = [_fake_file(t, b, 1 if b in touched else 0) for b in range(n)]
    with open(os.path.join(t._manifest_dir, snap.manifest_list)) as f:
        assert json.load(f) == _full_manifest_list(t, expected_files)
    reread = LakeTable.load(None, t.path).current_snapshot().files
    assert sorted(f["path"] for f in reread) == sorted(f["path"] for f in expected_files)


def test_expire_reaps_orphaned_manifests(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 8)
    _merge_epoch(t, 0, list(range(8)))
    for epoch in range(1, 30):
        _merge_epoch(t, epoch, [epoch % 8])
    before = sum(len(fs) for _, _, fs in os.walk(t._manifest_dir))
    t.expire_snapshots(keep_last=3)
    after = sum(len(fs) for _, _, fs in os.walk(t._manifest_dir))
    assert after < before
    # every kept snapshot still fully loadable
    for s in t.history():
        assert {f["bucket"] for f in s.files} == set(range(8))


def test_time_travel_survives_manifest_indirection(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 8)
    _merge_epoch(t, 0, [0, 1])
    sid = t.current_snapshot().snapshot_id
    _merge_epoch(t, 1, [1, 2])
    old = t.snapshot(sid)
    assert {f["bucket"] for f in old.files} == {0, 1}
    new = t.current_snapshot()
    assert {f["bucket"] for f in new.files} == {0, 1, 2}
    # bucket 1's file was replaced; bucket 0 carried over by reference
    old_b0 = [f["path"] for f in old.files if f["bucket"] == 0]
    new_b0 = [f["path"] for f in new.files if f["bucket"] == 0]
    assert old_b0 == new_b0


def test_metadata_tables(spark, tmp_dir):
    """files_df / snapshots_df (Iceberg metadata-table analogs) agree with
    the manifests and the commit log."""
    import os

    from pyspark.sql import functions as F

    from nvimagecodec_spark.operators.lww import lww_dedupe
    from nvimagecodec_spark.operators.merge import merge_into

    t = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "meta_t"),
        T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    import json

    rows = [(f"c{i}", 0, "I", i, json.dumps({"text": f"t{i}"})) for i in range(40)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, op string, lsn long, after string"
    ).withColumns(
        {
            "commit_ts": F.lit("2026-01-01 00:00:00").cast("timestamp"),
            "src_file": F.lit("x"),
            "src_offset": F.col("lsn"),
        }
    )
    merge_into(t, lww_dedupe(df), tag={"source_id": "meta", "batch_id": 1})
    files = t.files_df().collect()
    snap = t.current_snapshot()
    assert {r.path for r in files} == {f["path"] for f in snap.files}
    assert sum(r.rows for r in files) == 40
    assert all(r.kind == "base" for r in files)
    # footer key stats surface as per-column bounds (key-sorted layout
    # makes them tight); conv_id is a key col so every file carries them
    phys_key = [c.physical_name for c in t.table_schema.live_columns
                if c.name == "conv_id"][0]
    assert all(phys_key in r.col_mins and r.col_mins[phys_key] <= r.col_maxs[phys_key]
               for r in files)
    # files_df time-travels
    assert t.files_df(snapshot_id=snap.parent_id).count() == 0
    snaps = {r.snapshot_id: r for r in t.snapshots_df().collect()}
    assert snaps[snap.snapshot_id].operation == "merge"
    assert snaps[snap.snapshot_id].source_id == "meta"
    assert snaps[snap.snapshot_id].batch_id == 1
    assert snaps[snap.snapshot_id].summary["upserts"] == "40"
