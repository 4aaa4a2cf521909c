"""Runtime strategy fallback (G5 analog) + property-based LWW checks."""

import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators import merge as merge_mod
from nvimagecodec_spark.operators.lww import lww_dedupe, lww_dedupe_window
from nvimagecodec_spark.operators.merge import merge_into

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _events(spark, rows):
    df = spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, lsn long, commit_ts string, "
        "src_file string, src_offset long, after string",
    )
    return df.withColumn("commit_ts", F.to_timestamp("commit_ts"))


def test_broadcast_failure_falls_back_to_sortmerge(spark, tmp_path, monkeypatch):
    """The strategy chain walks to the next processor on execution failure
    — the reference's per-sample retry-on-fallback, at batch granularity."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    # seed one row first: the chain only runs against a NON-empty table
    # (an empty one takes the join-free initial-load fast path and would
    # never call the broadcast impl this test sabotages)
    res0 = merge_into(
        t,
        lww_dedupe(
            _events(
                spark,
                [("I", "c0", 0, 1, "2025-01-01 00:00:00", "f", 0, '{"text":"seed"}')],
            )
        ),
    )
    assert res0.strategy == "initial-load"

    def exploding_broadcast(*a, **k):
        raise RuntimeError("simulated broadcast OOM")

    monkeypatch.setattr(merge_mod, "_merge_broadcast", exploding_broadcast)
    res = merge_into(
        t,
        lww_dedupe(
            _events(
                spark,
                # same key as the seed: the touched bucket must be non-empty
                # or the fast path bypasses the sabotaged broadcast impl
                [("U", "c0", 0, 2, "2025-01-01 00:00:00", "f", 0, '{"text":"a"}')],
            )
        ),
    )
    assert res.strategy == "sort-merge"  # fell back, did not fail
    rows = t.read_logical().collect()
    assert len(rows) == 1 and rows[0]["text"] == "a"


def test_last_strategy_failure_propagates(spark, tmp_path, monkeypatch):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    # seed so the chain (not the initial-load fast path) handles the merge
    merge_into(
        t,
        lww_dedupe(
            _events(
                spark,
                [("I", "c1", 0, 1, "2025-01-01 00:00:00", "f", 0, '{"text":"seed"}')],
            )
        ),
    )
    monkeypatch.setattr(
        merge_mod, "_merge_broadcast", lambda *a, **k: (_ for _ in ()).throw(RuntimeError("b"))
    )
    monkeypatch.setattr(
        merge_mod, "_merge_sortmerge", lambda *a, **k: (_ for _ in ()).throw(RuntimeError("s"))
    )
    with pytest.raises(RuntimeError, match="s"):
        merge_into(
            t,
            lww_dedupe(
                _events(
                    spark,
                    [("U", "c1", 0, 2, "2025-01-01 00:00:00", "f", 1, '{"text":"a"}')],
                )
            ),
        )
    rows = t.read_logical().collect()  # no partial commit — seed intact
    assert len(rows) == 1 and rows[0]["text"] == "seed"


def test_concurrent_modification_not_swallowed_by_chain(spark, tmp_path, monkeypatch):
    """A racing writer's commit between our scan and our commit must surface
    as ConcurrentModification — the fallback chain walking to sort-merge
    with the STALE scan would silently drop the racer's rows (the lost
    update the serializable validation exists to prevent)."""
    from nvimagecodec_spark.lakehouse.table import ConcurrentModification

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    attempts = []
    orig_sm = merge_mod._merge_sortmerge

    def tracking_sortmerge(*a, **k):
        attempts.append("sort-merge")
        return orig_sm(*a, **k)

    monkeypatch.setattr(merge_mod, "_merge_sortmerge", tracking_sortmerge)
    monkeypatch.setattr(
        type(t),
        "replace_buckets",
        lambda *a, **k: (_ for _ in ()).throw(ConcurrentModification("racer won")),
    )
    with pytest.raises(ConcurrentModification):
        merge_into(
            t,
            lww_dedupe(
                _events(
                    spark,
                    [("I", "c1", 0, 1, "2025-01-01 00:00:00", "f", 0, '{"text":"a"}')],
                )
            ),
        )
    assert attempts == [], "chain fell through to sort-merge on a commit race"


# --------------------------------------------------------------- properties

@st.composite
def event_lists(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    for i in range(n):
        conv = draw(st.integers(min_value=0, max_value=3))
        turn = draw(st.integers(min_value=0, max_value=2))
        lsn = draw(st.integers(min_value=1, max_value=60))
        op = draw(st.sampled_from(["I", "U", "D"]))
        events.append((op, f"c{conv}", turn, lsn, i))
    return events


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_lists())
def test_lww_agg_equals_window_formulation(spark, events):
    """max-struct LWW and the row_number window formulation must agree on
    every random event set (duplicates, ties broken by offset)."""
    df = spark.createDataFrame(
        [(op, c, t, lsn, "f", off, f"{op}-{lsn}") for op, c, t, lsn, off in events],
        "op string, conv_id string, turn_idx int, lsn long, src_file string, "
        "src_offset long, payload string",
    ).withColumn("commit_ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))
    a = {
        (r["conv_id"], r["turn_idx"]): (r["op"], r["lsn"], r["payload"])
        for r in lww_dedupe(df).collect()
    }
    b = {
        (r["conv_id"], r["turn_idx"]): (r["op"], r["lsn"], r["payload"])
        for r in lww_dedupe_window(df).collect()
    }
    assert a == b


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_lists())
def test_lww_matches_pandas_reference(spark, events):
    """LWW winner per key == a straightforward pandas groupby idxmax on
    (lsn, src_offset) — an independent formulation of the same rule."""
    df = spark.createDataFrame(
        [(op, c, t, lsn, "f", off) for op, c, t, lsn, off in events],
        "op string, conv_id string, turn_idx int, lsn long, src_file string, src_offset long",
    ).withColumn("commit_ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))
    got = {
        (r["conv_id"], r["turn_idx"]): (r["lsn"], r["src_offset"])
        for r in lww_dedupe(df).collect()
    }
    pdf = pd.DataFrame(events, columns=["op", "conv_id", "turn_idx", "lsn", "src_offset"])
    pdf = pdf.sort_values(["lsn", "src_offset"], kind="stable").groupby(
        ["conv_id", "turn_idx"], as_index=False
    ).last()
    exp = {
        (r.conv_id, r.turn_idx): (r.lsn, r.src_offset) for r in pdf.itertuples()
    }
    assert got == exp


def test_initial_load_fast_path_semantics(spark, tmp_path):
    """First merge into empty buckets skips the join entirely (the resolve
    side is empty, no key can match) but must land EXACTLY what the chain
    would: upserts as rows, deletes as tombstone rows that read_logical
    suppresses, staged variant publishable, and a later merge over the
    now-populated buckets back on the normal chain."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["conv_id", "turn_idx"], 4)
    ep = [
        ("I", "a", 0, 1, "2025-01-01 00:00:00", "f", 0, '{"text":"x"}'),
        ("I", "b", 1, 2, "2025-01-01 00:00:00", "f", 1, '{"text":"y"}'),
        # delete of a never-seen key: lands as a tombstone row either way
        ("D", "gone", 9, 3, "2025-01-01 00:00:00", "f", 2, None),
    ]
    res = merge_into(t, lww_dedupe(_events(spark, ep)))
    assert res.strategy == "initial-load"
    assert res.upserts == 2 and res.deletes == 1
    live = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read_logical().collect()}
    assert live == {("a", 0): "x", ("b", 1): "y"}
    # tombstone row physically present (same as the join paths write)
    assert t.read(with_system=True).where("_sys_deleted").count() == 1

    # second merge touches populated buckets -> normal chain, LWW applies
    res2 = merge_into(
        t,
        lww_dedupe(_events(spark, [
            ("U", "a", 0, 10, "2025-01-01 00:00:01", "f", 3, '{"text":"x2"}'),
            ("U", "b", 1, 1, "2025-01-01 00:00:00", "f", 0, '{"text":"stale"}'),
        ])),
    )
    assert res2.strategy in ("broadcast", "sort-merge")
    live = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read_logical().collect()}
    assert live == {("a", 0): "x2", ("b", 1): "y"}  # stale lsn=1 lost to lsn=2

    # staged initial load on a fresh table: invisible until publish
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA, ["conv_id", "turn_idx"], 4)
    r = merge_into(t2, lww_dedupe(_events(spark, ep[:2])), staged=True)
    assert r.strategy == "staged-initial-load" and r.staged_id is not None
    assert t2.read_logical().count() == 0
    t2.publish_staged(r.staged_id, tag={"source_id": "s", "batch_id": 1})
    assert t2.read_logical().count() == 2
