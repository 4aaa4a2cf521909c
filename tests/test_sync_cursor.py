"""The one derived-table sync cursor (``incremental.pending_changes``).

Every view, index and replica folds its base through it, so its rules are
pinned once here: no-op at the cursor, a target older than the cursor
raises, a cursor the base's retention expired raises a clear ValueError
(not a bare KeyError from deep inside the snapshot diff), and the
expired-create bootstrap reads the target snapshot under that snapshot's
own schema — a later ``add_column`` on the base must not break it.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.functions.hashing import md5_hash32
from nvimagecodec_spark.lakehouse.incremental import pending_changes
from nvimagecodec_spark.lakehouse.replica import TableReplica
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.incremental_dedup import IncrementalDedupIndex
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into
from nvimagecodec_spark.operators.text_index import IncrementalTextIndex

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)
N_HASHES = 4
SHINGLE_N = 2


def _batch(spark, rows, lsn0):
    """[(conv, turn, op, text)] → deduped change batch for merge_into."""
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


@pytest.fixture()
def base(spark, tmp_dir):
    return LakeTable.create(
        spark,
        os.path.join(tmp_dir, "base"),
        SCHEMA,
        ["conv_id", "turn_idx"],
        bucket_count=4,
    )


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_cursor_noop_and_older_target(spark, base, tmp_dir):
    merge_into(base, _batch(spark, [("a", 0, "I", "red fox")], lsn0=0))
    rep = TableReplica.create(spark, os.path.join(tmp_dir, "rep"), base)
    rep.sync(base)
    cursor = rep.last_synced_base_snapshot()
    assert pending_changes(rep.table, rep.SOURCE_ID, base) is None
    merge_into(base, _batch(spark, [("b", 0, "I", "blue jay")], lsn0=10))
    with pytest.raises(ValueError, match=f"older than last synced {cursor}"):
        rep.sync(base, to_id=cursor - 1)
    to_id, changes = pending_changes(rep.table, rep.SOURCE_ID, base)
    assert to_id == base.current_snapshot().snapshot_id
    assert _rows(changes, ["op", "conv_id"]) == [("I", "b")]


def test_expired_create_bootstrap_matches_read_changes_shape(spark, base, tmp_dir):
    """Bootstrap rows carry the same columns, in the same order and with
    the same types (typed NULL befores), as the first sync's diff from
    the create snapshot."""
    merge_into(base, _batch(spark, [("a", 0, "I", "red fox")], lsn0=0))
    view = LakeTable.create(
        spark, os.path.join(tmp_dir, "view"), SCHEMA, ["conv_id", "turn_idx"]
    )
    _, diffed = pending_changes(view, "some-sync", base, with_before=True)
    merge_into(base, _batch(spark, [("a", 1, "I", "blue jay")], lsn0=10))
    base.expire_snapshots(keep_last=1)
    _, boot = pending_changes(view, "some-sync", base, with_before=True)
    shape = lambda df: [(f.name, f.dataType) for f in df.schema]  # noqa: E731
    assert shape(boot) == shape(diffed)
    assert _rows(boot, ["op", "turn_idx", "text", "before_text"]) == [
        ("I", 0, "red fox", None),
        ("I", 1, "blue jay", None),
    ]


def test_view_behind_base_retention_gets_clear_error(spark, base, tmp_dir):
    merge_into(base, _batch(spark, [("a", 0, "I", "first words")], lsn0=0))
    idx = IncrementalTextIndex.create(
        spark, os.path.join(tmp_dir, "idx"), base, text_col="text"
    )
    idx.sync(base)
    assert idx.last_synced_base_snapshot() == 2
    for i in range(4):
        merge_into(
            base, _batch(spark, [("b", i, "I", f"later words {i}")], lsn0=10 * (i + 1))
        )
    base.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError) as err:
        idx.sync(base)
    msg = str(err.value)
    assert IncrementalTextIndex.SOURCE_ID in msg
    assert "snapshot 2" in msg
    assert "retention" in msg


def _signature_recompute(live):
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    sh_expr = F.expr(
        f"transform(sequence(0, size(_toks) - {SHINGLE_N}), "
        f"i -> concat_ws(' ', slice(_toks, i + 1, {SHINGLE_N})))"
    )
    sh = (
        live.select("conv_id", "turn_idx", toks.alias("_toks"))
        .where(F.size("_toks") >= SHINGLE_N)
        .select(
            "conv_id", "turn_idx", F.explode(F.array_distinct(sh_expr)).alias("shingle")
        )
    )
    return sh.groupBy("conv_id", "turn_idx").agg(
        *[
            F.min(md5_hash32(F.col("shingle"), seed=s)).alias(f"mh{s}")
            for s in range(N_HASHES)
        ],
        F.count(F.lit(1)).cast("int").alias("n_shingles"),
    )


def _dedup(spark, path, base):
    idx = IncrementalDedupIndex.create(
        spark, path, base, n_hashes=N_HASHES, shingle_n=SHINGLE_N
    )
    cols = ["conv_id", "turn_idx", *[f"mh{i}" for i in range(N_HASHES)], "n_shingles"]
    return idx, cols, _signature_recompute


def _replica(spark, path, base):
    return TableReplica.create(spark, path, base), list(SCHEMA.fieldNames()), None


@pytest.mark.parametrize("make_view", [_dedup, _replica], ids=["dedup", "replica"])
def test_bootstrap_reads_target_under_its_own_schema(spark, base, tmp_dir, make_view):
    """Expired create + a schema change AFTER the sync target: the
    bootstrap must read the target under the target's schema (selecting
    the base's CURRENT columns from it fails with UNRESOLVED_COLUMN on
    ``extra``)."""
    merge_into(
        base,
        _batch(
            spark, [("a", 0, "I", "the quick brown fox"), ("a", 1, "I", "hi there")], 0
        ),
    )
    merge_into(base, _batch(spark, [("b", 0, "I", "the quick brown dog")], lsn0=10))
    base.expire_snapshots(keep_last=1)
    assert base.history()[0].operation != "create"
    pinned = base.current_snapshot().snapshot_id
    view, cols, recompute = make_view(spark, os.path.join(tmp_dir, "view"), base)
    base.add_column("extra", "string")
    merge_into(base, _batch(spark, [("c", 0, "I", "after the pin")], lsn0=20))

    view.sync(base, to_id=pinned)

    assert view.last_synced_base_snapshot() == pinned
    want = base.read_logical(snapshot_id=pinned)
    if recompute is not None:
        want = recompute(want)
    got = view.table.read_logical()
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(got, cols)) == 3
