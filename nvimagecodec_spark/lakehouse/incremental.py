"""Incremental snapshot-diff reads — the table's OWN change stream.

The export half of the CDC loop (reference analog: the encoder tier,
/root/reference/extensions/nvjpeg/cuda_encoder.cpp — the engine's results
re-emitted in a consumable format; plus time travel via the snapshot log,
/root/reference/include/nvimgcodec.h:1793-1811's per-sample status query).

``read_changes(table, from_id, to_id)`` emits one row per key whose state
differs between the two snapshots, classified I/U/D, carrying the new row
image (old image for D) and the winning order key. Downstream consumers
can chain engines: table A's changelog is a valid source for table B.

``pending_changes(view, source_id, base)`` is the one sync cursor every
derived table (indexes, views, replicas) folds its base through: the
view's commit-tag log says where it stopped, and this module decides what
it has not seen yet.

Scale: the manifest diff first narrows to buckets whose FILE SETS changed
between the snapshots — copy-on-write commits replace whole bucket file
sets, so an epoch that touched 3 of 4096 buckets reads exactly those 3
from each snapshot. The join is bucket-aligned by construction.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nvimagecodec_spark.lakehouse.table import LakeTable


def last_synced_batch_id(table: LakeTable, source_id: str) -> int | None:
    """Sync cursor shared by every derived-table maintainer (dedup/band/
    text indexes, agg view): the highest batch_id this ``source_id`` ever
    committed to ``table``, recovered from the commit-tag log — including
    tags whose snapshots were expired (``expired_tags``), so retention
    can never rewind a cursor. One definition: a tag-expiry edge-case fix
    lands in every index at once (review-caught 4-way copy)."""
    ids = [
        s["tag"]["batch_id"]
        for s in table.meta["snapshots"]
        if s.get("tag", {}) and s["tag"].get("source_id") == source_id
    ]
    ids += [
        b for (src, b) in table.meta.get("expired_tags", []) if src == source_id
    ]
    return max(ids) if ids else None


def pending_changes(
    view: LakeTable,
    source_id: str,
    base: LakeTable,
    to_id: int | None = None,
    with_before: bool = False,
) -> tuple[int, DataFrame] | None:
    """What a derived table has not folded in yet: ``(to_id, changes)``
    with ``read_changes``-shaped rows, or None when ``view`` is already
    at ``to_id`` (default: the base's head).

    The cursor is ``last_synced_batch_id(view, source_id)`` — the base
    snapshot id the view last committed under its own exactly-once tag.
    A first sync diffs from the base's create snapshot (the initial build
    is just a big first increment); once that snapshot has expired,
    diffing from the oldest retained one would silently miss every row
    older than it, so the first sync reads the full live state at
    ``to_id`` as I events instead. A target older than the cursor, or a
    cursor the base's retention has already expired, raises ValueError.
    """
    to_id = base.current_snapshot().snapshot_id if to_id is None else to_id
    from_id = last_synced_batch_id(view, source_id)
    if from_id is None:
        oldest = base.history()[0]
        if oldest.operation != "create":
            return to_id, _live_as_inserts(base, to_id, with_before)
        from_id = oldest.snapshot_id
    elif to_id == from_id:
        return None
    elif to_id < from_id:
        raise ValueError(
            f"sync target snapshot {to_id} is older than last synced {from_id}"
        )
    elif all(s.snapshot_id != from_id for s in base.history()):
        raise ValueError(
            f"{source_id}: last synced base snapshot {from_id} was expired "
            "from the base table; syncs must run within the base's snapshot "
            "retention (recreate the view to rebuild it from full state)"
        )
    return to_id, read_changes(base, from_id, to_id, with_before=with_before)


def _live_as_inserts(base: LakeTable, to_id: int, with_before: bool) -> DataFrame:
    """Every live row of snapshot ``to_id`` as an I event, shaped like
    ``read_changes`` output: read under ``to_id``'s own schema version
    (a later schema change must not leak in), with typed NULL
    ``before_<col>`` columns when ``with_before`` is set."""
    sv, schema = _schema_at(base, to_id)
    payload = [f for f in schema.to_spark().fields if f.name not in base.key_cols]
    live = base.read(snapshot_id=to_id, with_system=True, schema_version=sv).where(
        ~F.coalesce(F.col("_sys_deleted"), F.lit(False))
    )
    before = [
        F.lit(None).cast(f.dataType).alias(f"before_{f.name}") for f in payload
    ]
    return live.select(
        F.lit("I").alias("op"),
        *base.key_cols,
        *[f.name for f in payload],
        *(before if with_before else []),
        F.col("_sys_lsn").alias("lsn"),
        F.col("_sys_cts").alias("commit_ts"),
    )


def _schema_at(table: LakeTable, snapshot_id: int):
    """(schema version, ``TableSchema``) of one snapshot."""
    from nvimagecodec_spark.lakehouse.schema import TableSchema

    sv = table.snapshot(snapshot_id).schema_version
    return sv, TableSchema.from_dict(table.meta["schemas"][sv])


BASE_FIELD_IDS = "view.base-field-ids"


def base_field_ids(base: LakeTable, names: list[str]) -> dict:
    """The property a derived table records at create: each base column
    it names → that column's field id in the base's current schema (a
    JSON string, like every other table property value)."""
    ids = {c.name: c.field_id for c in base.table_schema.live_columns}
    return {BASE_FIELD_IDS: json.dumps({n: ids[n] for n in names})}


def resolve_columns(
    base: LakeTable, view: LakeTable, names: list[str], to_id: int
) -> list[str]:
    """Base column names a derived table stored at create time → the same
    columns' names in snapshot ``to_id``'s schema, which is the schema
    ``pending_changes`` rows are read under. Each name maps to the field
    id ``view`` recorded at create (``base_field_ids``), so a rename on
    either side of ``to_id`` keeps resolving and a later column that
    re-uses the name is never picked up. A column dropped since (or absent
    at ``to_id``) raises ValueError rather than leaving a hole in every
    later row. A view created before field ids were recorded maps its
    names through the base's current names, then their ``prev_names``."""
    recorded = view.meta.get("properties", {}).get(BASE_FIELD_IDS)
    if recorded is not None:
        ids = json.loads(recorded)
    else:
        live = base.table_schema.live_columns
        ids = {c.name: c.field_id for c in live}
        for c in live:
            for p in c.prev_names:
                ids.setdefault(p, c.field_id)
    at = {c.field_id: c.name for c in _schema_at(base, to_id)[1].live_columns}
    out = []
    for name in names:
        if ids.get(name) not in at:
            raise ValueError(
                f"base column {name!r} no longer exists (dropped?) or is absent "
                f"at snapshot {to_id}; recreate the view with current columns"
            )
        out.append(at[ids[name]])
    return out


def changed_buckets(table: LakeTable, from_id: int, to_id: int) -> list[int]:
    """Buckets whose file sets differ between the two snapshots (manifest
    diff — no data read).

    Snapshots name per-bucket manifests by a hash of their
    CONTENT ("unchanged buckets reuse their existing manifest file
    byte-for-byte"), so comparing manifest NAMES across the two
    manifest-LISTS answers the question in O(occupied buckets) without
    parsing a single manifest — equal names guarantee equal file sets;
    unequal names at worst over-report a bucket whose re-serialized set
    happens to match (harmless: the row diff there is empty). Without
    this, every read_changes call (one per view sync per epoch) fully
    materialized both snapshots' manifests on the driver — exactly the
    cost the lazy-manifest tier exists to avoid."""
    om = {e["bucket"]: e["manifest"] for e in table.snapshot(from_id).files.entries}
    nm = {e["bucket"]: e["manifest"] for e in table.snapshot(to_id).files.entries}
    return sorted(b for b in set(om) | set(nm) if om.get(b) != nm.get(b))


def read_changes_for_tags(
    table: LakeTable,
    source_id: str,
    from_batch_id: int,
    to_batch_id: int,
) -> DataFrame:
    """Changelog between two exactly-once commit tags of one source —
    'what did batches (from, to] of source X change' without the caller
    resolving snapshot ids by hand."""
    lo = table.snapshot_for_tag(source_id, from_batch_id)
    hi = table.snapshot_for_tag(source_id, to_batch_id)
    if lo is None or hi is None:
        missing = from_batch_id if lo is None else to_batch_id
        raise KeyError(f"no committed snapshot tagged ({source_id}, {missing})")
    return read_changes(table, lo.snapshot_id, hi.snapshot_id)


def read_changes(
    table: LakeTable, from_id: int, to_id: int, with_before: bool = False
) -> DataFrame:
    """Row-level diff between two snapshots, as change events.

    Output: key columns + ``op`` (I/U/D) + the current payload columns
    (new image for I/U, last image for D) + ``lsn``/``commit_ts`` of the
    winning write. Keys identical in both snapshots are never emitted
    (and never shuffled — the bucket pruning drops untouched buckets
    before the scan).

    ``with_before=True`` adds Debezium-style before-images: one
    ``before_<col>`` per payload column, holding the OLD live row for
    U/D and null for I (a rebirth over a tombstone counts as I — the key
    held no live state before). This is what a retraction-based consumer
    (incremental aggregate maintenance) needs: ``+after`` for I,
    ``+after − before`` for U, ``−before`` for D.
    """
    buckets = changed_buckets(table, from_id, to_id)
    key_cols = table.key_cols
    # Both sides are read under the TO snapshot's schema: a range spanning
    # an add/rename schema event would otherwise give the old side a
    # different column set and fail the full-outer join (stable field ids
    # let the older snapshot null-fill added columns and surface renamed
    # ones under the new name — Iceberg/Delta CDC-read semantics).
    to_sv, to_schema = _schema_at(table, to_id)
    payload_cols = [c.name for c in to_schema.live_columns if c.name not in key_cols]

    def side(snapshot_id: int, tag: str) -> DataFrame:
        df = table.read(
            snapshot_id=snapshot_id, buckets=buckets, with_system=True, schema_version=to_sv
        )
        cols = [F.col(k).alias(f"{tag}_k_{k}") for k in key_cols]
        cols += [F.col(c).alias(f"{tag}_{c}") for c in payload_cols]
        cols += [
            F.col("_sys_lsn").alias(f"{tag}_lsn"),
            F.col("_sys_cts").alias(f"{tag}_cts"),
            F.col("_sys_sf").alias(f"{tag}_sf"),
            F.col("_sys_so").alias(f"{tag}_so"),
            F.coalesce(F.col("_sys_deleted"), F.lit(False)).alias(f"{tag}_del"),
        ]
        return df.select(*cols)

    old = side(from_id, "o")
    new = side(to_id, "n")
    # Null-SAFE key equality (advisor-caught): a name-list full_outer join
    # uses null-unsafe `=`, so a null key part never pairs across sides —
    # an UNCHANGED null-key row in a touched bucket emitted a spurious D+I
    # pair (same lsn/order: a downstream LWW consumer can resolve the tie
    # toward the D and delete a live row), and an updated one emitted D+I
    # instead of U. Same eqNullSafe pattern as merge._merge_broadcast; the
    # output key is the coalesce of the per-side copies (equal-null-safe
    # whenever both sides exist, so coalesce order is immaterial).
    cond = None
    for k in key_cols:
        c = F.col(f"o_k_{k}").eqNullSafe(F.col(f"n_k_{k}"))
        cond = c if cond is None else (cond & c)
    j = old.join(new, cond, "full_outer")
    key_out = [
        F.coalesce(F.col(f"n_k_{k}"), F.col(f"o_k_{k}")).alias(k) for k in key_cols
    ]

    # Presence comes from the {tag}_del columns — non-null iff the side
    # EXISTS (they are coalesced to false for every real row, so only a
    # missing full-outer side leaves them null). Review-caught: using
    # lsn non-nullness as the presence proxy silently hid every row with
    # a null lsn (CHANGE_SCHEMA permits them) from the changelog.
    o_exists = F.col("o_del").isNotNull()
    n_exists = F.col("n_del").isNotNull()
    o_live = o_exists & ~F.col("o_del")
    n_live = n_exists & ~F.col("n_del")
    # Change detection uses the FULL LWW order struct — an update that
    # won on a tie-break (same lsn, later commit_ts/offset) still changed
    # the row; comparing lsn alone missed it (and was null-unsafe).
    ord_of = lambda t: F.struct(  # noqa: E731
        F.col(f"{t}_lsn"), F.col(f"{t}_cts"), F.col(f"{t}_sf"), F.col(f"{t}_so")
    )
    op = (
        F.when(~o_live & n_live, "I")
        .when(o_live & ~n_live, "D")
        .when(o_live & n_live & ~ord_of("n").eqNullSafe(ord_of("o")), "U")
    )
    picked = [
        F.when(n_exists, F.col(f"n_{c}")).otherwise(F.col(f"o_{c}")).alias(c)
        for c in payload_cols
    ]
    lsn = F.when(n_exists, F.col("n_lsn")).otherwise(F.col("o_lsn"))
    cts = F.when(n_exists, F.col("n_cts")).otherwise(F.col("o_cts"))
    before = (
        [
            F.when(o_live, F.col(f"o_{c}")).alias(f"before_{c}")
            for c in payload_cols
        ]
        if with_before
        else []
    )
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            "op", *key_out, *picked, *before, lsn.alias("lsn"), cts.alias("commit_ts")
        )
    )


def emit_changes(
    table: LakeTable,
    from_id: int,
    to_id: int,
    out_dir: str,
    encoding: str = "jsonl",
    files: int = 4,
) -> int:
    """Export a snapshot-range changelog AS change-event LINES in a
    registered wire encoding — closing the CDC loop over plain text: the
    emitted stream is a valid SOURCE for another engine's probe chain
    (chained engines without sharing a lakehouse, the encoder-tier analog
    of re-emitting results in a consumable format,
    /root/reference/extensions/nvjpeg2k/cuda_encoder.cpp).

    Every registered TEXT wire format is an emit target: ``jsonl``,
    ``binary-v1`` and ``tsv`` encode entirely JVM-side (column
    expressions); ``avro`` batches rows through the Arrow encoder (the
    measured-faster path — see avro_sobj.py's encoder note). The emitted
    `lsn` is the winning write's lsn, so replaying the stream into a
    table already holding older state is safe (LWW resolves). Returns
    rows emitted. Requires the engine's transcript key model
    (conv_id, turn_idx) — the normalized CHANGE_SCHEMA keys.
    """
    if table.key_cols != ["conv_id", "turn_idx"]:
        raise ValueError(
            f"emit_changes speaks the CHANGE_SCHEMA key model "
            f"(conv_id, turn_idx); table keys are {table.key_cols}"
        )
    ch = read_changes(table, from_id, to_id)
    payload_cols = [
        c for c in ch.columns if c not in ("op", "conv_id", "turn_idx", "lsn", "commit_ts")
    ]
    after = F.when(
        F.col("op") != "D", F.struct(*[F.col(c) for c in payload_cols])
    ).alias("after")
    if encoding == "jsonl":
        line = F.to_json(
            F.struct(
                F.col("op"),
                F.col("lsn"),
                F.date_format("commit_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "commit_ts"
                ),
                F.col("conv_id"),
                F.col("turn_idx"),
                after,
            )
        )
    elif encoding in ("binary-v1", "tsv"):
        from nvimagecodec_spark.sources.changelog import (
            binary_line_expr,
            tsv_line_expr,
        )

        pay = F.when(F.col("op") != "D", F.to_json(F.struct(*payload_cols)))
        if encoding == "binary-v1":
            # the binary layout delimits conv_id from the payload with the
            # FIRST '|' at/after the fixed header — a key containing '|'
            # would emit lines the decoder mis-splits. The Python encoder
            # raises per value; an expression can't, so validate up front
            # and fail LOUDLY instead of exporting corrupt wire data.
            # Persisted: the validation and the export below would
            # otherwise each run the full snapshot-diff join.
            ch = ch.persist()
            bad = ch.where(F.col("conv_id").contains("|")).limit(1).count()
            if bad:
                raise ValueError(
                    "binary-v1 emit: conv_id values containing '|' cannot "
                    "be framed; use jsonl/tsv/avro for this table"
                )
            line = binary_line_expr(
                F.col("op"),
                F.col("lsn"),
                F.unix_micros(F.col("commit_ts")),
                F.col("conv_id"),
                F.col("turn_idx"),
                pay,
            )
        else:
            line = tsv_line_expr(
                F.col("op"),
                F.col("lsn"),
                F.col("commit_ts"),
                F.col("conv_id"),
                F.col("turn_idx"),
                pay,
            )
    elif encoding == "avro":
        import pandas as pd

        from nvimagecodec_spark.sources.avro_sobj import encode_avro_line

        @F.pandas_udf("string")
        def enc(op, lsn, ts_us, conv, turn, payload):
            return pd.Series(
                [
                    encode_avro_line(
                        o,
                        # CHANGE_SCHEMA permits null lsn but the wire
                        # schema's lsn is a non-nullable long — encode it
                        # as 0 (same guard as ts_us) instead of letting a
                        # single null row raise and fail the whole export
                        0 if pd.isna(l) else int(l),
                        0 if pd.isna(t) else int(t),
                        c,
                        None if pd.isna(ti) else int(ti),
                        None if p is None else p,
                    )
                    for o, l, t, c, ti, p in zip(op, lsn, ts_us, conv, turn, payload)
                ]
            )

        pay = F.when(F.col("op") != "D", F.to_json(F.struct(*payload_cols)))
        ch = ch.select(
            "op",
            "lsn",
            F.unix_micros(F.col("commit_ts")).alias("ts_us"),
            "conv_id",
            "turn_idx",
            pay.alias("payload"),
        )
        line = enc("op", "lsn", "ts_us", "conv_id", "turn_idx", "payload")
    elif encoding == "ocf":
        # Avro OBJECT CONTAINER FILES instead of text lines: the binary
        # sibling of the avro wire emit — downstream engines consume the
        # directory with run_stream_ocf / read_ocf (sources/avro_ocf.py).
        from nvimagecodec_spark.sources.avro_ocf import write_ocf

        pay = F.when(F.col("op") != "D", F.to_json(F.struct(*payload_cols)))
        src = ch.select(
            "op",
            F.coalesce(F.col("lsn"), F.lit(0)).alias("lsn"),
            F.coalesce(F.unix_micros(F.col("commit_ts")), F.lit(0)).alias("ts_us"),
            "conv_id",
            "turn_idx",
            pay.alias("payload"),
        )
        # overwrite semantics, like the text branches' mode("overwrite"):
        # a re-emit with fewer shards must not leave stale shard files
        # behind for run_stream_ocf to double-consume
        import shutil as _shutil

        _shutil.rmtree(out_dir, ignore_errors=True)
        manifest = write_ocf(src, out_dir, shards=files, codec="deflate")
        return sum(r["records"] for r in manifest.collect())
    else:
        raise ValueError(
            f"unknown emit encoding {encoding!r} (jsonl|binary-v1|tsv|avro|ocf)"
        )
    out = ch.select(line.alias("value"))
    try:
        out.repartition(files).write.mode("overwrite").text(out_dir)
    finally:
        ch.unpersist()  # no-op unless the binary branch persisted it
    return table.spark.read.text(out_dir).count()
