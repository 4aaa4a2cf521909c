"""``_sys_raw`` holds a row's after-image only where its typed columns lose
part of it; a lossless image is stored as NULL.

Pins the write-side predicate (lossless → NULL; unknown field, type
mismatch, overflow, malformed JSON → ``after`` verbatim), re-extraction
over a mixed table, the drop → rewrite → re-add → re-extract lifecycle
(dropped values ride through the rewrite in the image ``LakeTable.read``
rebuilds), which column a re-added old name's JSON field fills after a
rename, and the engine skipping the schema-event job on epochs
without S-events.
"""

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into
from nvimagecodec_spark.operators.schema_events import reextract_payloads
from nvimagecodec_spark.sources.changelog import ChangeStream
from nvimagecodec_spark.streaming import engine as engine_mod
from nvimagecodec_spark.streaming.engine import CdcEngine

from tests.test_streaming import _setup

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _table(spark, tmp_dir, name="t"):
    return LakeTable.create(
        spark, os.path.join(tmp_dir, name), SCHEMA, ["conv_id", "turn_idx"],
        bucket_count=1,
    )


def _batch(spark, rows, lsn0):
    """[(conv, turn, op, after)] → deduped change batch; a dict ``after``
    is JSON-encoded, a str is passed through verbatim."""
    data = [
        (c, t, op, lsn0 + i, json.dumps(a) if isinstance(a, dict) else a)
        for i, (c, t, op, a) in enumerate(rows)
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


def _stored(table):
    return {
        (r["conv_id"], r["turn_idx"]): r
        for r in table.read(with_system=True).collect()
    }


def test_lossless_images_store_null_lossy_keep_after(spark, tmp_dir):
    table = _table(spark, tmp_dir)
    table.rename_column("role", "speaker")
    lossy = {
        4: {"speaker": "u", "extra": "x"},  # field the schema lacks
        5: {"n": "abc"},  # type mismatch
        6: {"n": 99_999_999_999},  # int overflow
        7: "not json",
        8: "[1, 2]",  # JSON, but not an object
    }
    rows = [
        ("a", 1, "I", {"speaker": "u", "n": 3, "ts": "2025-01-01 00:00:00"}),
        ("a", 2, "I", {"conv_id": "a", "turn_idx": 2, "speaker": "v"}),  # keys
        ("a", 3, "I", {"role": "w", "n": None}),  # previous name, JSON null
        ("a", 9, "D", None),  # tombstone
    ] + [("a", t, "I", a) for t, a in lossy.items()]
    merge_into(table, _batch(spark, rows, 10))

    got = _stored(table)
    for t in (1, 2, 3, 9):
        assert got[("a", t)]["_sys_raw"] is None, t
    for t, a in lossy.items():
        assert got[("a", t)]["_sys_raw"] == (json.dumps(a) if isinstance(a, dict) else a)
    # the typed columns of the NULL-image rows are the whole image
    assert (got[("a", 1)]["speaker"], got[("a", 1)]["n"]) == ("u", 3)
    assert got[("a", 3)]["speaker"] == "w"


def test_reextract_keeps_typed_rows_and_backfills_lossy_ones(spark, tmp_dir):
    table = _table(spark, tmp_dir)
    merge_into(
        table,
        _batch(
            spark,
            [
                ("a", 1, "I", {"role": "u", "n": 1}),
                ("a", 2, "I", {"role": "v", "rating": 5}),  # ahead of its add
            ],
            10,
        ),
    )
    assert _stored(table)[("a", 1)]["_sys_raw"] is None
    table.add_column("rating", "int")
    reextract_payloads(table)
    got = _stored(table)
    assert (got[("a", 1)]["role"], got[("a", 1)]["n"], got[("a", 1)]["rating"]) == ("u", 1, None)
    assert (got[("a", 2)]["role"], got[("a", 2)]["rating"]) == ("v", 5)


def test_drop_rewrite_readd_reextract_restores_values(spark, tmp_dir):
    """A drop is metadata-only, but the next merge of the bucket rewrites
    its rows with live columns only: the dropped value must ride through
    in the rebuilt image so a re-add + re-extraction brings it back."""
    table = _table(spark, tmp_dir)
    before = [("a", t, "I", {"role": f"r{t}", "n": t}) for t in range(1, 6)]
    merge_into(table, _batch(spark, before, 10))
    assert all(r["_sys_raw"] is None for r in _stored(table).values())
    old_files = {f["path"] for f in table.current_snapshot().files}

    table.drop_column("role")
    merge_into(table, _batch(spark, [("b", 1, "I", {"n": 100})], 100))
    assert not old_files & {f["path"] for f in table.current_snapshot().files}
    rewritten = _stored(table)
    assert json.loads(rewritten[("a", 2)]["_sys_raw"])["role"] == "r2"
    assert rewritten[("b", 1)]["_sys_raw"] is None

    table.add_column("role", "string")
    assert table.read_logical().where(F.col("role").isNotNull()).count() == 0
    reextract_payloads(table)
    got = _stored(table)
    for _, t, _, a in before:
        assert (got[("a", t)]["role"], got[("a", t)]["n"]) == (a["role"], a["n"])
    assert (got[("b", 1)]["role"], got[("b", 1)]["n"]) == (None, 100)


def test_readd_after_rename_claims_the_old_field_name(spark, tmp_dir):
    """rename role → speaker, then add a new role: the JSON field "role"
    fills the new column only, "speaker" the renamed one."""
    table = _table(spark, tmp_dir)
    merge_into(table, _batch(spark, [("a", 1, "I", {"role": "u", "n": 1})], 10))
    table.rename_column("role", "speaker")
    table.add_column("role", "string")
    merge_into(
        table,
        _batch(
            spark,
            [
                ("a", 2, "I", {"speaker": "s", "role": "r", "n": 2}),
                ("a", 3, "I", {"role": "r3"}),
                ("a", 4, "I", {"speaker": "s4"}),
            ],
            20,
        ),
    )
    got = _stored(table)
    assert {t: (got[("a", t)]["speaker"], got[("a", t)]["role"]) for t in (1, 2, 3, 4)} == {
        1: ("u", None),
        2: ("s", "r"),
        3: (None, "r3"),
        4: ("s4", None),
    }
    assert all(got[("a", t)]["_sys_raw"] is None for t in (2, 3, 4))


def test_engine_skips_schema_job_without_s_events(spark, tmp_dir, monkeypatch):
    calls = []
    real = engine_mod.apply_schema_events

    def counting(table, schema_events):
        calls.append(1)
        return real(table, schema_events)

    monkeypatch.setattr(engine_mod, "apply_schema_events", counting)
    for with_schema in (False, True):
        sub = os.path.join(tmp_dir, f"s{int(with_schema)}")
        _, stream_dir, table = _setup(
            spark, sub, n_events=600, with_schema=with_schema, files=2
        )
        engine = CdcEngine(spark, table, source_id="x")
        engine.apply_epoch(ChangeStream(spark, stream_dir).events(), batch_id=0)
        assert len(calls) == int(with_schema), with_schema
        if not with_schema:
            # every wire format's image is lossless under a fixed schema
            stored = table.read(with_system=True)
            assert stored.where(F.col("_sys_raw").isNotNull()).count() == 0
