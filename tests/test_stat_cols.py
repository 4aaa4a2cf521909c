"""Column-stats file skipping: "write.stat-cols" manifests +
read(range_filters=).

The Iceberg column-stats tier: per-file [min,max] for configured payload
columns recorded at commit time, so a range predicate prunes files
BEFORE any I/O. Pinned here:

- stats recorded for configured columns (timestamps as epoch micros);
- "write.max-records-per-file" splits buckets into stat-disjoint files;
- range reads prune files (observed via DataFrame.inputFiles()) and
  return exactly the full-scan-filtered rows;
- parquet statistics are written on the key, stat and z-order columns
  only, and still prune lookups and range reads;
- MoR safety: files of delta-carrying buckets are NEVER range-pruned —
  an out-of-range delta layer can hold the newer version of an in-range
  base row, and pruning it would resurrect superseded state.
"""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import (
    LakeTable,
    prune_files_by_range,
)
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into, merge_into_delta

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("val", T.LongType()),
    ]
)

T0 = datetime.datetime(2026, 1, 1)


def _batch(spark, rows, lsn0=10):
    """[(conv, turn, op, hour_offset, val)]"""
    data = []
    for i, (c, t, op, h, v) in enumerate(rows):
        after = (
            json.dumps({"ts": (T0 + datetime.timedelta(hours=h)).strftime("%Y-%m-%d %H:%M:%S"), "val": v})
            if op != "D"
            else None
        )
        data.append((c, t, op, lsn0 + i, after))
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


@pytest.fixture()
def table(spark, tmp_dir):
    t = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "t"),
        SCHEMA,
        ["conv_id", "turn_idx"],
        bucket_count=2,
        properties={
            "write.stat-cols": "ts,val",
            "write.max-records-per-file": "50",
        },
    )
    # key order == ts/val order: key-sorted files get tight, disjoint
    # ranges for the correlated stat columns (the Iceberg layout story)
    rows = [(f"c{i:04d}", 0, "I", i, i) for i in range(400)]
    merge_into(t, _batch(spark, rows))
    return t


def test_stat_cols_recorded_with_micros_timestamps(table):
    files = table.current_snapshot().files
    assert len(files) > 2  # max-records-per-file split the buckets
    for f in files:
        st = f.get("stats") or {}
        assert "val" in st and isinstance(st["val"][0], int), f
        assert "ts" in st and isinstance(st["ts"][0], int), f
        # micros: the fixture spans 400 hours from 2026-01-01
        lo_us = int(T0.timestamp()) * 1_000_000
        assert lo_us <= st["ts"][0] <= st["ts"][1] <= lo_us + 400 * 3600 * 1_000_000


def test_range_read_prunes_files_and_matches_full_scan(table):
    full = table.read_logical()
    expected = sorted(
        (r["conv_id"], r["val"])
        for r in full.where("val >= 100 and val <= 140").collect()
    )
    pruned = table.read_logical(range_filters={"val": (100, 140)})
    got = sorted((r["conv_id"], r["val"]) for r in pruned.collect())
    assert got == expected and len(got) == 41
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_range_read_timestamp_bounds(table):
    lo = T0 + datetime.timedelta(hours=100)
    hi = T0 + datetime.timedelta(hours=140)
    pruned = table.read_logical(range_filters={"ts": (lo, hi)})
    assert pruned.count() == 41
    assert len(pruned.inputFiles()) < len(table.read_logical().inputFiles())


def test_open_bounds_and_unknown_column(table):
    assert table.read_logical(range_filters={"val": (350, None)}).count() == 50
    assert table.read_logical(range_filters={"val": (None, 49)}).count() == 50
    with pytest.raises(ValueError, match="unknown column"):
        table.read_logical(range_filters={"nope": (1, 2)})


def test_files_without_stats_always_survive():
    files = [
        {"path": "a", "bucket": 0, "stats": {"val": [0, 10]}},
        {"path": "b", "bucket": 0},  # legacy: no stats
        {"path": "c", "bucket": 0, "stats": {"val": [100, 200]}},
    ]
    kept = prune_files_by_range(files, {"val": (50, 60)})
    assert [f["path"] for f in kept] == ["b"]


def test_delta_buckets_are_never_range_pruned(spark, tmp_dir):
    """An out-of-range delta layer holds the NEWER state of in-range
    base rows (a delete and an out-of-range move). Pruning it would
    resurrect them; the range read must see neither."""
    t = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "t2"),
        SCHEMA,
        ["conv_id", "turn_idx"],
        bucket_count=1,
        properties={"write.stat-cols": "val"},
    )
    merge_into(t, _batch(spark, [("a", 0, "I", 1, 10), ("b", 0, "I", 2, 20), ("c", 0, "I", 3, 30)], 10))
    # delta layer: delete a; move b out of range (val 20 → 900)
    merge_into_delta(t, _batch(spark, [("a", 0, "D", 0, 0), ("b", 0, "U", 2, 900)], 50))
    got = sorted(
        (r["conv_id"], r["val"])
        for r in t.read_logical(range_filters={"val": (0, 100)}).collect()
    )
    assert got == [("c", 30)]


def test_parquet_statistics_only_on_pruning_columns(spark, tmp_dir):
    """Data files carry parquet min/max statistics on the key,
    ``write.stat-cols`` and z-order columns only; the manifest ranges read
    from them still prune lookups and range reads to the oracle rows."""
    import pyarrow.parquet as pq

    schema = T.StructType(SCHEMA.fields + [T.StructField("note", T.StringType())])
    t = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "lean"),
        schema,
        ["conv_id", "turn_idx"],
        bucket_count=1,
        properties={"write.stat-cols": "val", "write.max-records-per-file": "10"},
    )
    merge_into(t, _batch(spark, [(f"c{i:02d}", 0, "I", i, i) for i in range(40)]))
    phys = {c.name: c.physical_name for c in t.table_schema.live_columns}

    def stats_columns():
        files = t.current_snapshot().files
        assert len(files) == 4
        got = set()
        for f in files:
            md = pq.ParquetFile(f["path"]).metadata
            for rg in range(md.num_row_groups):
                got.add(frozenset(
                    md.row_group(rg).column(j).path_in_schema
                    for j in range(md.num_columns)
                    if md.row_group(rg).column(j).is_stats_set
                ))
        return got

    assert stats_columns() == {frozenset(phys[c] for c in ("conv_id", "turn_idx", "val"))}
    for f in t.current_snapshot().files:
        assert set(f["stats"]) == {phys["conv_id"], phys["turn_idx"], phys["val"]}

    hit = t.lookup(conv_id="c07", turn_idx=0)
    assert [(r["conv_id"], r["val"]) for r in hit.collect()] == [("c07", 7)]
    assert len(hit.inputFiles()) == 1
    full = t.read_logical()
    pruned = t.read_logical(range_filters={"val": (12, 17)})
    assert sorted(r["val"] for r in pruned.collect()) == list(range(12, 18))
    assert len(pruned.inputFiles()) < len(full.inputFiles())

    t.compact(zorder_by=["ts", "val"])
    assert stats_columns() == {
        frozenset(phys[c] for c in ("conv_id", "turn_idx", "ts", "val"))
    }
    lo, hi = T0 + datetime.timedelta(hours=30), T0 + datetime.timedelta(hours=33)
    by_ts = t.read_logical(range_filters={"ts": (lo, hi)})
    assert sorted(r["val"] for r in by_ts.collect()) == [30, 31, 32, 33]
    assert len(by_ts.inputFiles()) < len(t.read_logical().inputFiles())
