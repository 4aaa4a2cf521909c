"""Persisted LSH band-bucket index (LshBandIndex, index-over-an-index).

Invariants: after any chain of base epochs → sig syncs → band syncs,
(1) the band table's full self-join equals IncrementalDedupIndex.pairs()
recomputed from live signatures; (2) candidates_for(probes) equals the
full pair set restricted to pairs touching a probe; (3) a probe scan is
bucket-pruned (reads strictly fewer band-table files than a full read);
(4) resync at the same sig head is a tagged no-op.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.incremental_dedup import (
    IncrementalDedupIndex,
    LshBandIndex,
)
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _batch(spark, rows, lsn0):
    import json

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


def _texts(k):
    """Deterministic 6-token texts; docs with the same k are exact dups."""
    return " ".join(f"tok{(k * 13 + i * 7) % 23}" for i in range(6))


def _pairset(df):
    return {
        (r.doc_a, r.doc_b, r.n_bands) for r in df.collect()
    }


@pytest.fixture()
def stack(spark, tmp_dir):
    base = LakeTable.create(
        spark, os.path.join(tmp_dir, "base"), SCHEMA, ["conv_id", "turn_idx"], bucket_count=4
    )
    # 12 docs: three dup-groups of 3 (k in 0,1,2) + 3 singletons
    rows = []
    for i in range(12):
        k = i % 3 if i < 9 else 100 + i
        rows.append((f"c{i}", 0, "I", _texts(k)))
    merge_into(base, _batch(spark, rows, lsn0=0))
    sig = IncrementalDedupIndex.create(
        spark, os.path.join(tmp_dir, "sig"), base, n_hashes=4, shingle_n=2
    )
    sig.sync(base)
    band = LshBandIndex.create(
        spark, os.path.join(tmp_dir, "band"), sig, rows_per_band=2, bucket_count=16
    )
    band.sync(sig)
    return base, sig, band


def test_band_table_matches_full_lsh_pairs(stack):
    base, sig, band = stack
    full = _pairset(sig.pairs(rows_per_band=2))
    got = _pairset(band.pairs())
    assert got == full and got
    # exact-dup pairs (same k-group) agree on ALL bands; c0/c3/c6 share k=0
    by_pair = {(a, b): n for (a, b, n) in got}
    assert by_pair[("c0|0", "c3|0")] == band.bands
    assert by_pair[("c3|0", "c6|0")] == band.bands


def test_incremental_update_delete_and_resync(spark, stack):
    base, sig, band = stack
    # epoch 2: c9 (singleton) becomes a dup of group k=0; c1 deleted;
    # c10 text changes to another singleton value
    merge_into(
        base,
        _batch(
            spark,
            [
                ("c9", 0, "U", _texts(0)),
                ("c1", 0, "D", None),
                ("c10", 0, "U", _texts(999)),
            ],
            lsn0=100,
        ),
    )
    sig.sync(base)
    r = band.sync(sig)
    assert r.strategy != "noop"
    assert _pairset(band.pairs()) == _pairset(sig.pairs(rows_per_band=2))
    # c1's postings fully retracted
    assert not any("c1|" in a or "c1|" in b for (a, b, _) in _pairset(band.pairs()))
    # replay: same sig head → tagged no-op
    assert band.sync(sig).strategy == "noop"


def test_candidates_for_probe_docs(spark, stack):
    base, sig, band = stack
    merge_into(base, _batch(spark, [("c9", 0, "U", _texts(0))], lsn0=100))
    sig.sync(base)
    band.sync(sig)
    probes = spark.createDataFrame([("c9", 0)], "conv_id string, turn_idx int")
    got = _pairset(band.candidates_for(sig, probes))
    full = _pairset(band.pairs())
    want = {p for p in full if p[0] == "c9|0" or p[1] == "c9|0"}
    assert got == want and got
    # probe read is bucket-pruned: strictly fewer files than the full read
    n_all = len(band.table.read_logical().inputFiles())
    n_probe = len(band.candidates_for(sig, probes).inputFiles())
    assert 0 < n_probe < n_all


def test_probe_vs_probe_counted_once(spark, stack):
    base, sig, band = stack
    # both probes are in dup-group 0: the pair must appear once with the
    # true distinct-band count, not doubled from both probe directions
    probes = spark.createDataFrame([("c0", 0), ("c3", 0)], "conv_id string, turn_idx int")
    got = {(a, b): n for (a, b, n) in _pairset(band.candidates_for(sig, probes))}
    assert got[("c0|0", "c3|0")] == band.bands


def test_shingleless_doc_has_no_bands(spark, stack):
    base, sig, band = stack
    merge_into(base, _batch(spark, [("tiny", 0, "I", "one")], lsn0=200))
    sig.sync(base)
    band.sync(sig)
    assert (
        band.table.read_logical().where(F.col("doc_key") == "tiny|0").count() == 0
    )
    # and two shingle-less docs never collide via empty band keys
    merge_into(base, _batch(spark, [("tiny2", 0, "I", "two")], lsn0=300))
    sig.sync(base)
    band.sync(sig)
    pairs = _pairset(band.pairs())
    assert not any("tiny" in a or "tiny" in b for (a, b, _) in pairs)


def test_bootstrap_after_sig_create_snapshot_expired(spark, stack, tmp_dir):
    """A band index created after the signature table's create snapshot
    was expired bootstraps from the signature table's full live state —
    diffing from the oldest retained sig snapshot would lose every
    signature written before it."""
    base, sig, _ = stack
    merge_into(base, _batch(spark, [("c9", 0, "U", _texts(0))], lsn0=100))
    sig.sync(base)
    sig.table.expire_snapshots(keep_last=1)
    assert sig.table.history()[0].operation != "create"
    band = LshBandIndex.create(
        spark, os.path.join(tmp_dir, "band2"), sig, rows_per_band=2, bucket_count=16
    )
    band.sync(sig)
    assert band.last_synced_base_snapshot() == sig.table.current_snapshot().snapshot_id
    got = _pairset(band.pairs())
    assert got == _pairset(sig.pairs(rows_per_band=2))
    # the pre-expiry signatures are indexed, c9's new dup pairs included
    assert ("c0|0", "c3|0", band.bands) in got
    assert ("c0|0", "c9|0", band.bands) in got
