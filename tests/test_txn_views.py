"""Catalog-registered derived views (lakehouse/txn.py register_view):
after a transaction's base tables publish, the commit syncs every
dependent view/index to the exact published snapshot and ONE pointer
flip pins bases and views together — catalog readers never see an index
lagging the base it claims to index. Chained views (index over index)
sync in dependency order; crash recovery re-runs syncs idempotently.

Reference analog: the codec registry's by-format lookup structure is
updated inside plugin registration, never left stale relative to the
plugin set (/root/reference/src/codec_registry.cpp)."""

import os

import pytest
from pyspark.sql import functions as F

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.lakehouse.txn import TxnCatalog
from nvimagecodec_spark.operators.incremental_dedup import (
    IncrementalDedupIndex,
    LshBandIndex,
)
from nvimagecodec_spark.operators.merge import merge_into
from nvimagecodec_spark.operators.text_index import IncrementalTextIndex, _terms

from tests.test_txn import SCHEMA, _batch, _state


def _recomputed_postings(base_df):
    """(term, conv_id, turn_idx) set the index SHOULD hold for this
    base state — the full-recompute oracle."""
    rows = (
        base_df.select(
            F.explode(_terms(F.col("text"))).alias("term"), "conv_id", "turn_idx"
        )
        .distinct()
        .collect()
    )
    return {(r.term, r.conv_id, r.turn_idx) for r in rows}


def _postings(df):
    return {(r.term, r.conv_id, r.turn_idx) for r in df.collect()}


@pytest.fixture()
def cat_idx(spark, tmp_dir):
    docs = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "docs"),
        SCHEMA,
        ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    merge_into(docs, _batch(spark, [("a", 0, "I", "red fox"), ("b", 0, "I", "blue")]))
    catalog = TxnCatalog.create(spark, os.path.join(tmp_dir, "cat"), {"docs": docs})
    idx = IncrementalTextIndex.create(
        spark, os.path.join(tmp_dir, "idx"), docs, text_col="text", bucket_count=4
    )
    catalog.register_view("idx", idx, "docs")
    return catalog, docs, idx


def test_registered_view_consistent_through_commits(spark, cat_idx):
    catalog, docs, idx = cat_idx
    # registration synced to the pin: index == recompute of the pinned base
    assert _postings(catalog.read("idx")) == _recomputed_postings(
        catalog.read("docs")
    )
    # an epoch that updates, inserts, and deletes — committed atomically
    txn = catalog.begin("tx", 1)
    txn.merge(
        "docs",
        _batch(
            spark,
            [("a", 0, "U", "green fox"), ("c", 0, "I", "red car"), ("b", 0, "D", None)],
            lsn0=100,
        ),
    )
    snaps = txn.commit()
    assert _postings(catalog.read("idx")) == _recomputed_postings(
        catalog.read("docs")
    )
    # old term retracted, new ones present
    got = _postings(catalog.read("idx"))
    assert ("red", "a", 0) not in got and ("green", "a", 0) in got
    assert not any(t[1] == "b" for t in got)
    # the flip pinned the view at the synced snapshot and logged it
    idx.table.refresh()
    assert catalog.pinned_snapshot("idx") == idx.table.current_snapshot().snapshot_id
    last = catalog.state["txn_log"][-1]
    assert last["tables"] == snaps and "idx" in last["views"]


def test_view_pin_never_precedes_flip_and_crash_recovers(
    spark, cat_idx, monkeypatch
):
    catalog, docs, idx = cat_idx
    before_docs = _state(catalog.read("docs"))
    before_idx = _postings(catalog.read("idx"))

    def boom(self, base, to_id=None):
        raise RuntimeError("simulated crash during view sync")

    monkeypatch.setattr(IncrementalTextIndex, "sync", boom)
    txn = catalog.begin("tx", 2)
    txn.merge("docs", _batch(spark, [("d", 0, "I", "new doc")], lsn0=200))
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.commit()
    monkeypatch.undo()
    # base published durably (tag present) but the catalog still shows the
    # old CONSISTENT pair — pointer moves only after views sync
    assert catalog.table("docs").has_commit_tag("tx.docs", 2)
    assert _state(catalog.read("docs")) == before_docs
    assert _postings(catalog.read("idx")) == before_idx
    # recovery rolls forward: re-publish is a tag-skip, view sync re-runs
    recat = TxnCatalog.load(spark, catalog.path)
    assert _state(recat.read("docs"))[("d", 0)] == "new doc"
    assert _postings(recat.read("idx")) == _recomputed_postings(
        recat.read("docs")
    )
    assert os.listdir(os.path.join(recat.path, "txns")) == []


def test_blocked_view_sync_keeps_catalog_loadable(spark, cat_idx, monkeypatch):
    """A view-sync failure that is NOT a ConcurrentModification (e.g. the
    documented ValueError when a view was manually synced past the txn
    target) must not make the catalog unloadable: recover() records the
    intent as 'blocked', leaves it on disk, and a later load with the
    blockage resolved rolls the transaction forward."""
    catalog, docs, idx = cat_idx

    def boom(self, base, to_id=None):
        raise RuntimeError("simulated crash during view sync")

    monkeypatch.setattr(IncrementalTextIndex, "sync", boom)
    txn = catalog.begin("tx", 2)
    txn.merge("docs", _batch(spark, [("d", 0, "I", "new doc")], lsn0=200))
    with pytest.raises(RuntimeError, match="simulated crash"):
        txn.commit()
    # base published, intent still on disk
    assert catalog.table("docs").has_commit_tag("tx.docs", 2)
    assert len(os.listdir(os.path.join(catalog.path, "txns"))) == 1

    def manual(self, base, to_id=None):
        raise ValueError("view manually synced past txn target")

    monkeypatch.setattr(IncrementalTextIndex, "sync", manual)
    # the load must SUCCEED, not re-raise, with the intent preserved
    recat = TxnCatalog.load(spark, catalog.path)
    actions = recat.recover()
    assert actions and actions[0]["action"] == "blocked"
    assert "ValueError" in actions[0]["error"]
    assert len(os.listdir(os.path.join(recat.path, "txns"))) == 1
    # pointer never moved: readers still see the old consistent pair
    assert ("d", 0) not in _state(recat.read("docs"))

    monkeypatch.undo()
    healed = TxnCatalog.load(spark, catalog.path)
    assert _state(healed.read("docs"))[("d", 0)] == "new doc"
    assert _postings(healed.read("idx")) == _recomputed_postings(
        healed.read("docs")
    )
    assert os.listdir(os.path.join(healed.path, "txns")) == []


def test_chained_views_sync_in_dependency_order(spark, tmp_dir):
    docs = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "docs"),
        SCHEMA,
        ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    text = "the quick brown fox jumps over the lazy dog again and again"
    merge_into(docs, _batch(spark, [("a", 0, "I", text)]))
    catalog = TxnCatalog.create(spark, os.path.join(tmp_dir, "cat"), {"docs": docs})
    sig = IncrementalDedupIndex.create(
        spark, os.path.join(tmp_dir, "sig"), docs, n_hashes=4
    )
    band = LshBandIndex.create(
        spark, os.path.join(tmp_dir, "band"), sig, rows_per_band=2, bucket_count=4
    )
    catalog.register_view("sig", sig, "docs")
    catalog.register_view("band", band, "sig")  # view over a view
    # a near-duplicate lands — one commit must move docs, sig, AND band
    txn = catalog.begin("tx", 1)
    txn.merge("docs", _batch(spark, [("z", 9, "I", text)], lsn0=100))
    txn.commit()
    # the whole chain pinned at post-sync heads
    for name, handle in (("sig", sig), ("band", band)):
        handle.table.refresh()
        assert (
            catalog.pinned_snapshot(name)
            == handle.table.current_snapshot().snapshot_id
        )
    # band postings agree with the banding self-join over the signature
    # table — the identical texts MUST collide
    got = {(r.doc_a, r.doc_b) for r in band.pairs().collect()}
    want = {
        (r.doc_a, r.doc_b)
        for r in sig.pairs(rows_per_band=band.rows_per_band).collect()
    }
    assert got == want and got  # non-vacuous: the planted dup collided


def test_view_over_untouched_base_keeps_pin(spark, tmp_dir):
    docs = LakeTable.create(
        spark, os.path.join(tmp_dir, "docs"), SCHEMA, ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    other = LakeTable.create(
        spark, os.path.join(tmp_dir, "other"), SCHEMA, ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    merge_into(docs, _batch(spark, [("a", 0, "I", "hello world")]))
    catalog = TxnCatalog.create(
        spark, os.path.join(tmp_dir, "cat"), {"docs": docs, "other": other}
    )
    idx = IncrementalTextIndex.create(
        spark, os.path.join(tmp_dir, "idx"), docs, text_col="text", bucket_count=4
    )
    catalog.register_view("idx", idx, "docs")
    pin = catalog.pinned_snapshot("idx")
    txn = catalog.begin("tx", 1)
    txn.merge("other", _batch(spark, [("x", 0, "I", "elsewhere")], lsn0=50))
    txn.commit()
    assert catalog.pinned_snapshot("idx") == pin  # untouched base: no churn


def test_staging_against_a_view_is_rejected(spark, cat_idx):
    catalog, docs, idx = cat_idx
    txn = catalog.begin("tx", 5)
    with pytest.raises(ValueError, match="derived view"):
        txn.merge("idx", _batch(spark, [("q", 0, "I", "nope")]))


def test_catalog_pins_survive_retention(spark, cat_idx):
    """Table maintenance must never reap a snapshot the catalog pointer
    still serves: every pin rides a catalog-owned tag (retention-proof),
    moved to the new pin on each flip."""
    catalog, docs, idx = cat_idx
    txn = catalog.begin("tx", 1)
    txn.merge("docs", _batch(spark, [("c", 0, "I", "pinned row")], lsn0=100))
    txn.commit()
    pinned_docs = _state(catalog.read("docs"))
    pinned_idx = _postings(catalog.read("idx"))
    # out-of-band writers move BOTH heads well past the pins, then run
    # the most aggressive retention possible
    t = catalog.table("docs")
    idx.table.refresh()  # the commit synced the view via its own handle
    for i in range(3):
        merge_into(t, _batch(spark, [("later", i, "I", f"head {i}")], lsn0=200 + i))
        idx.sync(t)  # moves the view head past ITS pin too
    t.expire_snapshots(keep_last=1)
    idx.table.expire_snapshots(keep_last=1)
    # the pinned snapshots survived — catalog reads are unbroken
    assert _state(catalog.read("docs")) == pinned_docs
    assert _postings(catalog.read("idx")) == pinned_idx
    # exactly one catalog pin tag per table, naming the pinned snapshot
    pin_refs = {
        k: v for k, v in t.refs().items() if k.startswith("txncat-")
    }
    assert list(pin_refs.values()) == [catalog.pinned_snapshot("docs")]


def test_register_view_syncs_to_pin_not_head(spark, tmp_dir):
    docs = LakeTable.create(
        spark, os.path.join(tmp_dir, "docs"), SCHEMA, ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    merge_into(docs, _batch(spark, [("a", 0, "I", "pinned words")]))
    catalog = TxnCatalog.create(spark, os.path.join(tmp_dir, "cat"), {"docs": docs})
    # out-of-band writer moves the base head PAST the catalog pin
    merge_into(docs, _batch(spark, [("late", 0, "I", "straggler")], lsn0=10))
    idx = IncrementalTextIndex.create(
        spark, os.path.join(tmp_dir, "idx"), docs, text_col="text", bucket_count=4
    )
    catalog.register_view("idx", idx, "docs")
    got = _postings(catalog.read("idx"))
    assert got == _recomputed_postings(catalog.read("docs"))
    assert not any(t[1] == "late" for t in got)  # head row not indexed yet
    # the next committed epoch folds the straggler in (sync covers the
    # full cursor→target window, not just this txn's rows)
    txn = catalog.begin("tx", 1)
    txn.merge("docs", _batch(spark, [("b", 0, "I", "fresh")], lsn0=100))
    txn.commit()
    got = _postings(catalog.read("idx"))
    assert got == _recomputed_postings(catalog.read("docs"))
    assert any(t[1] == "late" for t in got)


def test_view_synced_past_target_by_concurrent_txn_adopts_newer_state(
    spark, cat_idx, monkeypatch
):
    """Out-of-flip-order commits (chaos-soak-caught race): txn1 publishes
    its base, then txn2 publishes AND fully commits (view synced past
    txn1's snapshot, pointer flipped) before txn1 reaches its own view
    sync. txn1 must not raise 'older than last synced' — it adopts the
    newer base state for its pins, keeping view and base consistent and
    the pointer monotone."""
    catalog, docs, idx = cat_idx
    fired = {"done": False}
    orig = catalog._sync_views

    def hooked(updated):
        if not fired["done"]:
            fired["done"] = True
            # interloper txn lands fully between txn1's publish and sync
            txn2 = catalog.begin("race", 2)
            txn2.merge(
                "docs", _batch(spark, [("z", 9, "I", "late zebra")], lsn0=500)
            )
            txn2.commit()
        return orig(updated)

    monkeypatch.setattr(catalog, "_sync_views", hooked)
    txn1 = catalog.begin("race", 1)
    txn1.merge("docs", _batch(spark, [("y", 5, "I", "early yak")], lsn0=400))
    snaps = txn1.commit()  # must NOT raise

    docs.refresh()
    head = docs.current_snapshot().snapshot_id
    # txn1's pins were raised to the interloper's newer state
    assert snaps["docs"] == head
    assert catalog.pinned_snapshot("docs") == head
    # both rows visible, view consistent with the pinned base
    got = _state(catalog.read("docs"))
    assert got[("y", 5)] == "early yak" and got[("z", 9)] == "late zebra"
    assert _postings(catalog.read("idx")) == _recomputed_postings(
        catalog.read("docs")
    )
    idx.table.refresh()
    assert catalog.pinned_snapshot("idx") == idx.table.current_snapshot().snapshot_id


def test_replica_view_synced_past_target_adopts_newer_state(
    spark, tmp_dir, monkeypatch
):
    """The out-of-flip-order adoption must work for EVERY registered view
    type: _sync_views reads each view's last_synced_base_snapshot(), the
    one cursor name every view exposes (register_view rejects a view
    without it) — when TableReplica named its cursor differently, this
    exact scenario raised 'older than last synced' AFTER txn1's bases
    published, wedging the catalog (regression of the chaos-soak race
    fix)."""
    from nvimagecodec_spark.lakehouse.replica import TableReplica

    docs = LakeTable.create(
        spark,
        os.path.join(tmp_dir, "docs"),
        SCHEMA,
        ["conv_id", "turn_idx"],
        bucket_count=4,
    )
    merge_into(docs, _batch(spark, [("a", 0, "I", "red fox")]))
    catalog = TxnCatalog.create(spark, os.path.join(tmp_dir, "cat"), {"docs": docs})
    rep = TableReplica.create(spark, os.path.join(tmp_dir, "rep"), docs)
    catalog.register_view("rep", rep, "docs")

    fired = {"done": False}
    orig = catalog._sync_views

    def hooked(updated):
        if not fired["done"]:
            fired["done"] = True
            txn2 = catalog.begin("race", 2)
            txn2.merge(
                "docs", _batch(spark, [("z", 9, "I", "late zebra")], lsn0=500)
            )
            txn2.commit()
        return orig(updated)

    monkeypatch.setattr(catalog, "_sync_views", hooked)
    txn1 = catalog.begin("race", 1)
    txn1.merge("docs", _batch(spark, [("y", 5, "I", "early yak")], lsn0=400))
    snaps = txn1.commit()  # must NOT raise

    docs.refresh()
    head = docs.current_snapshot().snapshot_id
    assert snaps["docs"] == head
    assert catalog.pinned_snapshot("docs") == head
    got = _state(catalog.read("docs"))
    assert got[("y", 5)] == "early yak" and got[("z", 9)] == "late zebra"
    # replica column-for-column equal to the pinned base
    a = sorted(map(tuple, catalog.read("docs").collect()))
    b = sorted(map(tuple, catalog.read("rep").collect()))
    assert a == b
