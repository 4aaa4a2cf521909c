"""Table maintenance: compaction, export layout, schema log."""

import os

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


def _rows(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.concat(F.lit("c"), (F.col("id") % 37).cast("string")).alias("conv_id"),
        (F.col("id") % 11).cast("int").alias("turn_idx"),
        F.concat(F.lit("txt"), F.col("id").cast("string")).alias("text"),
    )


def test_compact_defragments_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    for i in range(3):  # appends fragment buckets (no bucket replacement)
        t.append(_rows(spark, 50, start=1000 * i))
    before = t.read(with_system=True).count()
    per_bucket: dict = {}
    for f in t.current_snapshot().files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) > 1
    snap = t.compact()
    assert snap is not None and snap.operation == "merge"
    per_bucket2: dict = {}
    for f in t.current_snapshot().files:
        per_bucket2[f["bucket"]] = per_bucket2.get(f["bucket"], 0) + 1
    assert max(per_bucket2.values()) == 1
    assert t.read(with_system=True).count() == before  # no rows lost
    assert t.compact() is None  # idempotent: nothing left to do


def test_export_sorted_layout(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    t.append(_rows(spark, 200))
    out = str(tmp_path / "export")
    t.export(out, sort_order=["conv_id", "turn_idx"])
    back = spark.read.parquet(out)
    assert back.count() == t.read_logical().count()
    assert set(back.columns) == {"conv_id", "turn_idx", "text"}
    # within every file, rows are sorted by the requested order
    # (groupby preserves original in-file row order; no re-sorting here)
    pdf = back.withColumn("_f", F.input_file_name()).toPandas()
    for _, grp in pdf.groupby("_f"):
        keys = list(zip(grp["conv_id"], grp["turn_idx"]))
        assert keys == sorted(keys)


def test_text_export_ignores_columnar_codec_property(spark, tmp_path):
    """A table whose data files are zstd still exports json/csv: Spark's
    text writers have no zstd codec, so the property must not reach them."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4,
        properties={"write.compression": "zstd"},
    )
    t.append(_rows(spark, 50))
    for fmt in ("json", "csv"):
        out = str(tmp_path / f"export_{fmt}")
        t.export(out, format=fmt)
        assert spark.read.format(fmt).load(out).count() == 50


def test_schema_log_tracks_versions(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    t.add_column("rating", "int")
    t.rename_column("text", "body")
    log = t.schema_log()
    assert [e["schema_version"] for e in log] == [0, 1, 2]
    assert ("rating", "int") in log[1]["columns"]
    names_v2 = [c[0] for c in log[2]["columns"]]
    assert "body" in names_v2 and "text" not in names_v2


def test_expiry_preserves_commit_tags(spark, tmp_path):
    """Exactly-once must survive snapshot expiry: a replay of an expired
    batch's tag is still a no-op."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    for i in range(6):
        t.append(_rows(spark, 10, start=100 * i), tag={"source_id": "s", "batch_id": i})
    assert t.has_commit_tag("s", 0)
    t.expire_snapshots(keep_last=2)
    assert len(t.meta["snapshots"]) == 2
    assert t.has_commit_tag("s", 0)  # tag outlived its snapshot
    assert t.has_commit_tag("s", 5)
    assert not t.has_commit_tag("s", 99)


def test_compression_codec_knobs(spark, tmp_path):
    """E7: the write codec is a table property (data files) and an export
    knob — parquet embeds the codec in the file name, so layout proves it."""
    import os as _os

    from pyspark.sql import types as _T
    import pyspark.sql.functions as _F

    schema = _T.StructType(
        [
            _T.StructField("conv_id", _T.StringType()),
            _T.StructField("turn_idx", _T.IntegerType()),
            _T.StructField("text", _T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema,
        ["conv_id", "turn_idx"],
        bucket_count=2,
        properties={"write.compression": "zstd"},
    )
    t.append(spark.createDataFrame([("c1", 0, "x")], schema))
    data_files = [f["path"] for f in t.current_snapshot().files]
    assert data_files and all(".zstd.parquet" in p for p in data_files), data_files

    out = str(tmp_path / "export-gz")
    t.export(out, compression="gzip")
    exported = [f for f in _os.listdir(out) if f.endswith(".parquet")]
    assert exported and all(".gz.parquet" in f for f in exported), exported
    # default falls back to the table property
    out2 = str(tmp_path / "export-default")
    t.export(out2)
    exported2 = [f for f in _os.listdir(out2) if f.endswith(".parquet")]
    assert exported2 and all(".zstd.parquet" in f for f in exported2), exported2


def test_engine_periodic_optimize_sweep(spark, tmp_path):
    """optimize_every_epochs: a long-running stream self-maintains — after
    the sweep the table is defragmented (<= max files/bucket, no delta
    layers) and the final state is untouched."""
    import os

    from nvimagecodec_spark.config import EngineConfig
    from nvimagecodec_spark.sources.generator import (
        events_to_files,
        generate_change_events,
    )
    from nvimagecodec_spark.streaming.engine import CdcEngine
    from tests.test_apply_end_to_end import TARGET_SCHEMA

    events = generate_change_events(n_events=1200, seed=11, with_schema_events=False)
    stream_dir = os.path.join(str(tmp_path), "stream")
    events_to_files(events, stream_dir, files=8)
    table = LakeTable.create(
        spark, os.path.join(str(tmp_path), "t"), TARGET_SCHEMA,
        ["conv_id", "turn_idx"], bucket_count=4,
    )
    cfg = EngineConfig(
        mor_deltas=True,
        delta_compact_max_files=999,   # per-epoch folding OFF...
        optimize_every_epochs=2,       # ...the periodic sweep does it
        optimize_max_files_per_bucket=1,
        expire_every_epochs=0,
        optimize_orphan_grace_seconds=3600,
    )
    engine = CdcEngine(spark, table, source_id="opt", config=cfg)
    n = engine.run_stream(stream_dir, max_files_per_trigger=2)
    assert n == 4
    table.refresh()
    # epoch ids are 0..3; sweeps ran after epochs 2 (and none pending
    # compaction work remains beyond one epoch's layers)
    per_bucket: dict = {}
    for f in table.current_snapshot().files:
        per_bucket.setdefault(f["bucket"], []).append(f)
    for b, fl in per_bucket.items():
        deltas = [f for f in fl if f.get("kind") == "delta"]
        # only the post-sweep epoch (id 3) may still carry delta layers
        assert len(deltas) <= 1, (b, fl)

    from nvimagecodec_spark.oracle.pandas_applier import apply_events_pandas
    from tests.test_apply_end_to_end import canon_oracle, canon_spark

    got = canon_spark(table.read_logical())
    want = canon_oracle(apply_events_pandas(events))
    assert len(got) == len(want)
