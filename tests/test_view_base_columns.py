"""Derived views name base columns by the name they had at view creation
and record those columns' field ids; ``incremental.resolve_columns`` maps
the ids to the sync target's schema.

One scenario per view: insert, create the view, rename the viewed
column, insert again, add a NEW column under the old name, then sync to
the pre-rename snapshot, the pre-add snapshot and the head. Every sync
must work, and the view must end equal to a fresh view created over the
renamed column and synced once: the view follows its column, not the
name.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.agg_view import IncrementalAggView
from nvimagecodec_spark.operators.incremental_dedup import IncrementalDedupIndex
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into
from nvimagecodec_spark.operators.scd2 import Scd2View
from nvimagecodec_spark.operators.text_index import IncrementalTextIndex
from nvimagecodec_spark.operators.transcripts import AssembledTranscriptsView

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def _batch(spark, rows, lsn0, text_name):
    """[(conv, turn, role, text)] inserts → deduped change batch; the
    after-image names the text field ``text_name``."""
    data = [
        (c, t, "I", lsn0 + i, json.dumps({"role": r, text_name: x}))
        for i, (c, t, r, x) in enumerate(rows)
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


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


# view kind → (create(spark, path, base, text column name), state(view))
VIEWS = {
    "assembled": (
        lambda s, p, b, c: AssembledTranscriptsView.create(
            s, p, b, line_cols=["role", c]
        ),
        lambda v: _sorted(v.conversations().select("conv_id", "full_text")),
    ),
    "text-index": (
        lambda s, p, b, c: IncrementalTextIndex.create(s, p, b, text_col=c),
        lambda v: _sorted(v.table.read_logical()),
    ),
    "dedup": (
        lambda s, p, b, c: IncrementalDedupIndex.create(
            s, p, b, n_hashes=4, shingle_n=2, text_col=c
        ),
        lambda v: _sorted(v.table.read_logical()),
    ),
    "scd2": (
        lambda s, p, b, c: Scd2View.create(s, p, b, track_cols=[c]),
        lambda v: _sorted(v.current().select("conv_id", "turn_idx", v.track_cols[0])),
    ),
    "agg": (
        lambda s, p, b, c: IncrementalAggView.create(s, p, b, group_cols=[c]),
        lambda v: _sorted(v.totals()),
    ),
}


@pytest.mark.parametrize("kind", list(VIEWS))
def test_sync_across_base_rename(spark, tmp_dir, kind):
    create, state = VIEWS[kind]
    base = LakeTable.create(
        spark, os.path.join(tmp_dir, "base"), SCHEMA, ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    merge_into(base, _batch(spark, [("a", 0, "user", "red fox runs")], 0, "text"))
    view = create(spark, os.path.join(tmp_dir, "view"), base, "text")
    pre_rename = base.current_snapshot().snapshot_id
    base.rename_column("text", "body")
    merge_into(base, _batch(spark, [("b", 0, "user", "red fox sleeps")], 20, "body"))
    pre_add = base.current_snapshot().snapshot_id
    base.add_column("text", "string")

    view.sync(base, to_id=pre_rename)
    view.sync(base, to_id=pre_add)
    view.sync(base)

    fresh = create(spark, os.path.join(tmp_dir, "fresh"), base, "body")
    fresh.sync(base)
    assert state(view) == state(fresh)


def test_sync_after_drop_and_readd_raises(spark, tmp_dir):
    """A dropped column stays gone for the view even when a new column
    re-uses its name."""
    base = LakeTable.create(
        spark, os.path.join(tmp_dir, "base"), SCHEMA, ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    view = IncrementalTextIndex.create(
        spark, os.path.join(tmp_dir, "view"), base, text_col="text"
    )
    base.drop_column("text")
    base.add_column("text", "string")
    with pytest.raises(ValueError, match="no longer exists"):
        view.sync(base)
