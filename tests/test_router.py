"""Multi-table fan-out (CdcRouter): one parsed stream split across
tables by envelope predicates, per-table exactly-once via commit tags.

Reference analog: per-item backend dispatch over one input batch
(/root/reference/src/image_generic_codec.h:470-478)."""

import os

import pytest
from pyspark.sql import functions as F

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.oracle.pandas_applier import apply_events_pandas
from nvimagecodec_spark.sources.changelog import ChangeStream, parse_changes, with_lineage
from nvimagecodec_spark.sources.generator import events_to_files, generate_change_events
from nvimagecodec_spark.streaming.router import CdcRouter

from tests.test_apply_end_to_end import TARGET_SCHEMA


def _mk(spark, tmp_dir, n_events=2500, files=6):
    events = generate_change_events(
        n_events=n_events, seed=11, with_schema_events=False
    )
    stream_dir = os.path.join(tmp_dir, "stream")
    events_to_files(events, stream_dir, files=files)
    te = LakeTable.create(
        spark, os.path.join(tmp_dir, "even"), TARGET_SCHEMA,
        ["conv_id", "turn_idx"], bucket_count=4,
    )
    to = LakeTable.create(
        spark, os.path.join(tmp_dir, "odd"), TARGET_SCHEMA,
        ["conv_id", "turn_idx"], bucket_count=4,
    )
    return events, stream_dir, te, to


def _keys(df):
    return {(r["conv_id"], r["turn_idx"]) for r in df.select("conv_id", "turn_idx").collect()}


def test_router_fanout_matches_per_route_oracle(spark, tmp_dir):
    events, stream_dir, te, to = _mk(spark, tmp_dir)
    router = CdcRouter(
        spark,
        routes={
            "even": (te, F.col("turn_idx") % 2 == 0),
            "odd": (to, F.col("turn_idx") % 2 == 1),
        },
        source_id="rt",
    )
    n = router.run_stream(stream_dir, max_files_per_trigger=2)
    assert n >= 3

    want = apply_events_pandas(events)
    want_even = set(
        zip(want[want["turn_idx"] % 2 == 0]["conv_id"],
            want[want["turn_idx"] % 2 == 0]["turn_idx"])
    )
    want_odd = set(
        zip(want[want["turn_idx"] % 2 == 1]["conv_id"],
            want[want["turn_idx"] % 2 == 1]["turn_idx"])
    )
    assert _keys(te.read_logical()) == want_even
    assert _keys(to.read_logical()) == want_odd
    # per-route lineage: same epoch count on both engines
    lin = router.lineage()
    assert len(lin["even"]) == len(lin["odd"]) == n


def test_router_replay_is_idempotent(spark, tmp_dir):
    events, stream_dir, te, to = _mk(spark, tmp_dir, n_events=800, files=2)
    routes = {
        "even": (te, F.col("turn_idx") % 2 == 0),
        "odd": (to, F.col("turn_idx") % 2 == 1),
    }
    r1 = CdcRouter(spark, routes, source_id="rt")
    r1.run_stream(stream_dir)
    s_even = te.current_snapshot().snapshot_id
    s_odd = to.current_snapshot().snapshot_id
    # fresh router, same checkpoint -> no new commits on either table
    r2 = CdcRouter(spark, routes, source_id="rt", checkpoint_dir=r1.checkpoint_dir)
    r2.run_stream(stream_dir)
    assert te.current_snapshot().snapshot_id == s_even
    assert to.current_snapshot().snapshot_id == s_odd


def test_router_batch_replay_skips_committed_route(spark, tmp_dir):
    """Crash between table applies: replaying the epoch must skip the
    already-committed route and apply the missing one."""
    events, stream_dir, te, to = _mk(spark, tmp_dir, n_events=600, files=1)
    routes = {
        "even": (te, F.col("turn_idx") % 2 == 0),
        "odd": (to, F.col("turn_idx") % 2 == 1),
    }
    router = CdcRouter(spark, routes, source_id="rt")
    ch = ChangeStream(spark, stream_dir).events()
    # simulate: only the first route's engine committed batch 0
    router.engines["even"].apply_epoch(
        ch.where((F.col("turn_idx") % 2 == 0) | F.col("op").isNull()), 0
    )
    res = router.apply_epoch(ch, 0)
    assert res["even"].strategy == "skipped-duplicate"
    assert res["odd"].strategy != "skipped-duplicate"
    assert _keys(to.read_logical())  # odd route landed


def test_router_unmatched_error(spark, tmp_dir):
    events, stream_dir, te, to = _mk(spark, tmp_dir, n_events=300, files=1)
    router = CdcRouter(
        spark,
        routes={"even": (te, F.col("turn_idx") % 2 == 0)},
        source_id="rt",
        unmatched="error",
    )
    ch = ChangeStream(spark, stream_dir).events()
    with pytest.raises(ValueError, match="matched no route"):
        router.apply_epoch(ch, 0)


def test_router_validates_args(spark, tmp_dir):
    with pytest.raises(ValueError, match="at least one route"):
        CdcRouter(spark, routes={}, source_id="x")


def test_router_atomic_unmatched_error_stages_nothing(spark, tmp_dir):
    """The unmatched check runs before the transaction begins: no route
    stages anything and the catalog pointer does not move."""
    import copy

    from nvimagecodec_spark.lakehouse.txn import TxnCatalog

    events, stream_dir, te, to = _mk(spark, tmp_dir, n_events=300, files=1)
    catalog = TxnCatalog.create(
        spark, os.path.join(tmp_dir, "cat"), {"even": te, "odd": to}
    )
    state0 = copy.deepcopy(catalog.state)
    never = F.col("turn_idx") < 0
    router = CdcRouter(
        spark,
        routes={"even": (te, never), "odd": (to, never)},
        source_id="rt",
        unmatched="error",
    )
    ch = ChangeStream(spark, stream_dir).events()
    with pytest.raises(ValueError, match="matched no route"):
        router.apply_epoch_atomic(ch, 0, catalog)
    for t in (te, to):
        t.refresh()
        assert t.staged() == []
    catalog.refresh()
    assert catalog.state == state0
    assert catalog.pinned_snapshot("even") == te.current_snapshot().snapshot_id
    assert catalog.pinned_snapshot("odd") == to.current_snapshot().snapshot_id
