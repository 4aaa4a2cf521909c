"""Write-audit-publish (staged merges): stage → audit → publish/abort.

Pinned invariants: staging never changes what readers see; read_staged
shows the exact post-publish state; publish is atomic, serializably
validated against writers that touched the staged buckets since, and
exactly-once-taggable; abort reclaims the staged files; the orphan
reaper never eats a pending changeset.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import ConcurrentModification, LakeTable
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _batch(spark, rows, lsn0=0):
    data = [
        (c, t, op, lsn0 + i, json.dumps({"text": txt}) if op != "D" else None)
        for i, (c, t, op, txt) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "conv_id string, turn_idx int, op string, lsn long, after string"
    ).withColumns(
        {
            "commit_ts": F.lit("2026-01-01 00:00:00").cast("timestamp"),
            "src_file": F.lit("test"),
            "src_offset": F.col("lsn"),
        }
    )
    return lww_dedupe(df)


def _state(table):
    return {(r.conv_id, r.turn_idx): r.text for r in table.read_logical().collect()}


@pytest.fixture()
def table(spark, tmp_dir):
    t = LakeTable.create(
        spark, os.path.join(tmp_dir, "t"), SCHEMA, ["conv_id", "turn_idx"], bucket_count=4
    )
    merge_into(
        t,
        _batch(
            spark,
            [("a", 0, "I", "alpha"), ("b", 0, "I", "beta"), ("c", 0, "I", "gamma")],
        ),
    )
    return t


def test_stage_audit_publish(spark, table):
    before = _state(table)
    r = merge_into(
        table,
        _batch(spark, [("a", 0, "U", "ALPHA2"), ("d", 0, "I", "delta"), ("b", 0, "D", None)], lsn0=100),
        staged=True,
    )
    assert r.staged_id and r.snapshot is None and r.strategy.startswith("staged-")
    # readers untouched while staged
    assert _state(table) == before
    assert len(table.staged()) == 1
    # audit view = exact post-publish state
    audit = {
        (row.conv_id, row.turn_idx): row.text
        for row in table.read_staged(r.staged_id).collect()
    }
    want = {("a", 0): "ALPHA2", ("c", 0): "gamma", ("d", 0): "delta"}
    assert audit == want
    snap = table.publish_staged(r.staged_id, tag={"source_id": "wap", "batch_id": 7})
    assert _state(table) == want
    assert snap.summary["published_from"] == r.staged_id
    assert table.staged() == []
    assert table.has_commit_tag("wap", 7)
    # time travel still sees the pre-publish state
    assert {
        (row.conv_id, row.turn_idx)
        for row in table.read_logical(snapshot_id=snap.parent_id).collect()
    } == set(before)


def test_abort_reclaims_files(spark, table):
    r = merge_into(table, _batch(spark, [("a", 0, "U", "X")], lsn0=100), staged=True)
    paths = [f["path"] for f in table._staged_entry(r.staged_id)["new_files"]]
    assert paths and all(os.path.exists(p) for p in paths)
    removed = table.abort_staged(r.staged_id)
    assert removed == len(paths)
    assert not any(os.path.exists(p) for p in paths)
    assert table.staged() == []
    with pytest.raises(KeyError):
        table.read_staged(r.staged_id)


def test_publish_conflicts_with_interleaved_writer(spark, table):
    r = merge_into(table, _batch(spark, [("a", 0, "U", "staged-val")], lsn0=100), staged=True)
    # another writer updates the SAME key (same bucket) after staging
    merge_into(table, _batch(spark, [("a", 0, "U", "racer-val")], lsn0=200))
    with pytest.raises(ConcurrentModification):
        table.publish_staged(r.staged_id)
    # the racer's write survives; the stale changeset can be aborted
    assert _state(table)[("a", 0)] == "racer-val"
    table.abort_staged(r.staged_id)


def test_publish_survives_disjoint_writer(spark, table):
    # a writer touching OTHER buckets only must not block publish
    r = merge_into(table, _batch(spark, [("a", 0, "U", "staged-val")], lsn0=100), staged=True)
    touched = set(r.touched_buckets)
    # find a key hashing to a different bucket
    probe = None
    for i in range(100):
        k = (f"z{i}", 0)
        df = spark.createDataFrame([k], "conv_id string, turn_idx int")
        b = df.select(table.bucket_expr(df).alias("b")).first()["b"]
        if b not in touched:
            probe = k
            break
    assert probe is not None
    merge_into(table, _batch(spark, [(probe[0], probe[1], "I", "other")], lsn0=200))
    table.publish_staged(r.staged_id)
    st = _state(table)
    assert st[("a", 0)] == "staged-val" and st[probe] == "other"


def test_orphan_reaper_spares_staged_files(spark, table):
    r = merge_into(table, _batch(spark, [("a", 0, "U", "pending")], lsn0=100), staged=True)
    paths = [f["path"] for f in table._staged_entry(r.staged_id)["new_files"]]
    removed = table.remove_orphans(older_than_seconds=0)
    assert all(os.path.exists(p) for p in paths), f"reaper ate staged files ({removed} removed)"
    table.publish_staged(r.staged_id)
    assert _state(table)[("a", 0)] == "pending"


def test_staged_rejects_tag_and_delta(spark, table):
    b = _batch(spark, [("a", 0, "U", "x")], lsn0=100)
    with pytest.raises(ValueError, match="publish_staged"):
        merge_into(table, b, staged=True, tag={"source_id": "s", "batch_id": 1})
    with pytest.raises(ValueError, match="copy-on-write"):
        merge_into(table, b, staged=True, delta_auto_ratio=5.0)


def test_publish_is_one_metadata_write(spark, table):
    """Publishing swaps the files in and drops the staged entry in the
    same metadata version: no window where the table is published but
    the changeset still looks pending."""
    r = merge_into(
        table, _batch(spark, [("a", 0, "U", "ALPHA2")], lsn0=100), staged=True
    )
    v0 = table.refresh().meta["_version"]
    table.publish_staged(r.staged_id)
    assert table.refresh().meta["_version"] == v0 + 1
    assert table.staged() == []
    assert _state(table)[("a", 0)] == "ALPHA2"
