"""Optimistic-commit protocol under real concurrent writers: racing
commits must all land (with retries) and no snapshot may be lost —
Iceberg's optimistic concurrency shape (table.py commit path)."""

from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_racing_appends_all_land(spark, tmp_path):
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, ["conv_id", "turn_idx"], 4)
    n_writers, appends_each = 4, 3

    def writer(wid: int) -> int:
        # each writer holds its OWN table handle (separate metadata cache)
        t = LakeTable.load(spark, path)
        done = 0
        for i in range(appends_each):
            df = spark.createDataFrame(
                [(f"w{wid}", i, f"from-{wid}-{i}")], SCHEMA
            )
            t.append(df, tag={"source_id": f"w{wid}", "batch_id": i})
            done += 1
        return done

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        results = list(ex.map(writer, range(n_writers)))
    assert results == [appends_each] * n_writers

    t = LakeTable.load(spark, path)
    # every append became a snapshot (create + 12 appends), none lost
    assert len(t.history()) == 1 + n_writers * appends_each
    # every row from every writer is present exactly once
    rows = t.read_logical().collect()
    assert len(rows) == n_writers * appends_each
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    assert keys == sorted((f"w{w}", i) for w in range(n_writers) for i in range(appends_each))
    # all commit tags visible to a fresh reader
    for w in range(n_writers):
        for i in range(appends_each):
            assert t.has_commit_tag(f"w{w}", i)

def test_replace_buckets_detects_stale_merge(spark, tmp_path, monkeypatch):
    """If a racing writer commits into a bucket between a merge's read and
    its commit, the retry must raise ConcurrentModification instead of
    silently clobbering the racer's rows."""
    from nvimagecodec_spark.lakehouse.table import ConcurrentModification
    import pytest as _pytest

    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, ["conv_id", "turn_idx"], 1)  # one bucket
    t.append(spark.createDataFrame([("c1", 0, "base")], SCHEMA))

    df = spark.createDataFrame([("c1", 0, "merge-view")], SCHEMA)
    bucketed = t.with_bucket(df)

    orig = t._write_version
    state = {"injected": False}

    def inject_racer(v, meta):
        if not state["injected"]:
            state["injected"] = True
            racer = LakeTable.load(spark, path)
            racer.append(spark.createDataFrame([("c2", 0, "racer")], SCHEMA))
        return orig(v, meta)  # now conflicts -> retry -> validation

    monkeypatch.setattr(t, "_write_version", inject_racer)
    with _pytest.raises(ConcurrentModification):
        t.replace_buckets([0], bucketed)
    # the racer's row survived untouched
    t2 = LakeTable.load(spark, path)
    texts = sorted(r["text"] for r in t2.read_logical().collect())
    assert texts == ["base", "racer"]


def test_concurrent_schema_update_is_not_lost(tmp_path, monkeypatch):
    """A schema commit that loses the race re-derives its schema from the
    winner's: both added columns survive, as three schema versions, and
    each schema snapshot points at the version it introduced."""
    path = str(tmp_path / "t")
    t = LakeTable.create(None, path, SCHEMA, ["conv_id", "turn_idx"], 1)
    orig = t._write_version
    state = {"injected": False}

    def inject_racer(v, meta):
        if not state["injected"]:
            state["injected"] = True
            LakeTable.load(None, path).add_column("x", "string")
        return orig(v, meta)  # now conflicts -> retry on the racer's schema

    monkeypatch.setattr(t, "_write_version", inject_racer)
    t.add_column("y", "string")
    t2 = LakeTable.load(None, path)
    assert [c.name for c in t2.table_schema.live_columns] == [
        "conv_id", "turn_idx", "text", "x", "y",
    ]
    assert len(t2.meta["schemas"]) == 3
    schema_snaps = [s for s in t2.history() if s.operation == "schema"]
    assert [s.schema_version for s in schema_snaps] == [1, 2]


def test_racing_delta_appends_all_land(spark, tmp_path):
    """Merge-on-read writers are append-only and conflict-free among
    themselves: N racing delta commits all land (optimistic retries only,
    never ConcurrentModification) and the reconciled read sees every
    writer's winner."""
    from datetime import datetime

    from nvimagecodec_spark.operators.lww import lww_dedupe
    from nvimagecodec_spark.operators.merge import merge_into, merge_into_delta

    path = str(tmp_path / "t")
    t0 = LakeTable.create(spark, path, SCHEMA, ["conv_id", "turn_idx"], 4)
    ev_schema = (
        "op string, lsn long, commit_ts timestamp, conv_id string, "
        "turn_idx int, after string, src_file string, src_offset long"
    )
    ts = datetime(2025, 1, 1)
    base = spark.createDataFrame(
        [("I", 0, ts, f"k{i}", 0, '{"text":"base"}', "f", i) for i in range(8)],
        ev_schema,
    )
    merge_into(t0, lww_dedupe(base))
    n_writers = 4

    def writer(wid: int) -> str:
        t = LakeTable.load(spark, path)
        df = spark.createDataFrame(
            [("U", 100 + wid, ts, f"k{wid}", 0, f'{{"text":"w{wid}"}}', "f", wid)],
            ev_schema,
        )
        return merge_into_delta(
            t, lww_dedupe(df), tag={"source_id": f"w{wid}", "batch_id": 0}
        ).strategy

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        strategies = list(ex.map(writer, range(n_writers)))
    assert strategies == ["delta-append"] * n_writers

    t = LakeTable.load(spark, path)
    got = {r["conv_id"]: r["text"] for r in t.read_logical().collect()}
    assert len(got) == 8
    for w in range(n_writers):
        assert got[f"k{w}"] == f"w{w}"
    # one delta commit per writer in the history, none lost
    assert sum(1 for s in t.history() if s.operation == "delta") == n_writers
