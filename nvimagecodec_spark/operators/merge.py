"""MERGE INTO — copy-on-write, bucket-granular upsert apply (SURVEY §2.3).

Reference analog: the umbrella apply operator ``ImageGenericDecoder``
(/root/reference/src/image_generic_decoder.cpp:45-98) with its batched hot
path + prioritized fallback strategy chain
(/root/reference/src/image_generic_codec.h:470-478, 1018-1049).

Correctness model (cross-epoch LWW): the table stores each row's winning
order key in system columns (``_sys_lsn``, ``_sys_cts``, ``_sys_sf``,
``_sys_so``) and keeps deletes as tombstones (``_sys_deleted``). A merge is
therefore *order-aware*: a late event arriving epochs later only wins if
its ``(lsn, commit_ts, src_file, src_offset)`` beats what the table already
holds, and a delete can never be resurrected by a stale insert. This is the
Iceberg sequence-number idea rebuilt by hand.

Two physical strategies, chosen per batch (the G2 fallback chain):

- **broadcast** (small batch — the steady-state CDC hot path): the deduped
  batch is broadcast; touched-bucket table data is LEFT-OUTER joined
  map-side (zero shuffle of the table side!), each matched row resolved by
  order comparison; brand-new keys are computed with two more
  broadcast-side joins. Table data never crosses the network.
- **sort-merge** (large batch / backfill): union(table-as-pseudo-events,
  batch) → the same map-side-combinable LWW ``max(struct)`` aggregation
  used for dedupe. One shuffle of touched buckets, partial-aggregated,
  hot-key safe.

Both strategies end in a single atomic ``replace_buckets`` snapshot commit
(the cross-stream barrier, G7): results are never visible mid-epoch.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.schema import ColumnDef
from nvimagecodec_spark.lakehouse.table import (
    BUCKET_COL,
    SYSTEM_COLS,
    CommitConflict,
    ConcurrentModification,
    LakeTable,
    Snapshot,
    order_struct,
)
from nvimagecodec_spark.operators.lww import lww_dedupe

# batch order-col → system col
_SYS_MAP = {
    "lsn": "_sys_lsn",
    "commit_ts": "_sys_cts",
    "src_file": "_sys_sf",
    "src_offset": "_sys_so",
}
_SYS_ORDER = list(_SYS_MAP.values())


@dataclass
class MergeResult:
    snapshot: Snapshot | None
    touched_buckets: list[int]
    upserts: int
    deletes: int
    duration_sec: float
    strategy: str  # "broadcast" | "sort-merge" | "noop" | "skipped-duplicate"
    staged_id: str | None = None  # set when merged with staged=True (WAP)


_PX_COL = "_px"  # materialized parsed-payload struct column


def payload_field_names(table: LakeTable) -> list[tuple[ColumnDef, list[str]]]:
    """(live non-key column, the JSON field names it reads) — its current
    name, then its previous names; no name appears twice. Live columns
    only: a dropped column stops being extracted. A live column's current
    name claims that JSON field: a previous name that collides with one
    (rename "text" → "body", then add "text") is skipped, so "text" fills
    the new column only. A previous name two columns share goes to the
    first."""
    live = table.table_schema.live_columns
    claimed = {c.name for c in live}
    out = []
    for c in live:
        if c.name in table.key_cols:
            continue
        names = [c.name]
        for p in c.prev_names:
            if p not in claimed:
                claimed.add(p)
                names.append(p)
        out.append((c, names))
    return out


def payload_struct_expr(table: LakeTable, raw_col: str) -> F.Column:
    """ONE ``from_json`` of the raw after-image under the CURRENT (evolved)
    schema, including historical names of renamed columns
    (``payload_field_names``). Materialize this as its own projection
    column (``_PX_COL``) and extract fields from it —
    referencing a from_json from N output columns re-parses the JSON N
    times (measured 20x slowdown on wide extracts)."""
    fields = [
        T.StructField(v, c.logical_type(), True)
        for c, names in payload_field_names(table)
        for v in names
    ]
    return F.from_json(F.col(raw_col), T.StructType(fields))


def payload_extract_exprs(
    table: LakeTable, struct_col: str = _PX_COL, keep_typed: F.Column | None = None
) -> list[F.Column]:
    """Typed per-column extraction from the materialized payload struct.
    A renamed column is read under both its current and historical names
    and coalesced, so pre-rename events still apply; columns added by
    schema evolution but absent in old payloads null-fill (out-of-bounds
    constant fill analog,
    /root/reference/src/imgproc/out_of_bound_roi_fill.cpp:26-46)."""
    j = F.col(struct_col)
    exprs = []
    for c, variants in payload_field_names(table):
        e = F.coalesce(*[j[v] for v in variants]) if len(variants) > 1 else j[variants[0]]
        if keep_typed is not None:  # these rows keep their current typed value
            e = F.when(keep_typed, F.col(c.name)).otherwise(e)
        exprs.append(e.alias(c.name))
    return exprs


def stored_image_expr(table: LakeTable) -> F.Column:
    """``after`` as ``_sys_raw`` stores it: NULL when the typed columns
    rebuild the whole image, i.e. it is a JSON object whose every key is a
    key column or a live column's current or previous name, and whose
    every non-null field parsed to a non-null typed value. Anything else
    (a field ahead of its add/rename event, a type mismatch or overflow,
    malformed JSON) keeps ``after`` verbatim for a later re-extraction.
    Costs one extra ``from_json`` to a string map, over winning rows only;
    reads the typed values from the materialized ``_PX_COL`` struct."""
    j = F.col(_PX_COL)
    typed_ok: dict[str, F.Column] = {k: F.lit(True) for k in table.key_cols}
    for _, names in payload_field_names(table):
        for v in names:
            typed_ok[v] = j[v].isNotNull()
    ok = F.create_map(*[x for k, v in typed_ok.items() for x in (F.lit(k), v)])
    fields = F.from_json(F.col("after"), T.MapType(T.StringType(), T.StringType()))

    def field_kept(e: F.Column) -> F.Column:
        hit = F.element_at(ok, e["key"])
        return hit.isNotNull() & (e["value"].isNull() | hit)

    lossless = F.forall(F.map_entries(fields), field_kept)
    return F.when(lossless, F.lit(None).cast("string")).otherwise(F.col("after"))


def _batch_to_rows(table: LakeTable, deduped: DataFrame) -> DataFrame:
    """Winning change events → target-schema rows + system cols.

    The raw `after` JSON is decoded HERE — once per winning key, not once
    per event (lazy-parse analog, /root/reference/src/code_stream.cpp:201).
    """
    staged = deduped.withColumn(_PX_COL, payload_struct_expr(table, "after"))
    exprs = [F.col(k) for k in table.key_cols]
    exprs += payload_extract_exprs(table)
    for src, dst in _SYS_MAP.items():
        exprs.append(F.col(src).alias(dst))
    exprs.append((F.col("op") == "D").alias("_sys_deleted"))
    exprs.append(stored_image_expr(table).alias("_sys_raw"))
    return staged.select(*exprs)


def _apply_batch_transform(batch: DataFrame, batch_transform) -> DataFrame:
    """Enrichment hook: run a user transform over the TYPED batch rows.

    Runs post-LWW (one row per winning key), so an enrichment join costs
    one dimension probe per key per epoch — not per event — and pre-merge,
    so the enriched values land atomically with the epoch's commit. The
    canonical use is a broadcast join against a small dimension filling a
    table column the wire payload doesn't carry (the classic CDC
    stream-dim enrichment stage).

    Contract: the transform may fill or rewrite non-key data columns; it
    must keep every existing column (keys, ``_sys_*`` order/tombstone
    bookkeeping). The result is re-projected to exactly the input columns,
    so helper columns the transform leaves behind are dropped and column
    order is restored; a transform that LOSES an engine column fails loud
    here rather than corrupting the merge downstream.

    Reference analog: per-sample post-processing applied between decode
    and result publication (/root/reference/src/image_generic_codec.h:
    687-708) — same batch, same ordering, values rewritten in place.
    """
    expected = batch.columns
    out = batch_transform(batch)
    missing = [c for c in expected if c not in out.columns]
    if missing:
        raise ValueError(
            f"batch_transform dropped engine columns {missing}; it may only "
            "add or rewrite non-key data columns"
        )
    return out.select(*[F.col(c) for c in expected])


# the one LWW comparator, shared with the table's merge-on-read reconcile
_ord = order_struct

# Guards the conf flip below; the SESSION ORIGINAL value is captured
# once per session and every restore goes back to it, so any interleaving
# of concurrent small merges converges to the original once the last one
# finishes (restoring the pre-set value instead could latch 'false'
# permanently under a set/set/restore/restore race — review-caught; the
# lock now covers only the set/restore pairs, NOT the merge execution,
# so concurrent small merges on different tables run in parallel).
# A concurrent LARGE merge (or unrelated query) planned inside another
# merge's window can still observe AQE off — slower, never wrong;
# single-driver engines (the normal shape) never hit that window.
_SMALL_BATCH_CONF_LOCK = threading.Lock()
_SESSION_AQE_ORIGINAL: dict[int, str] = {}


@contextmanager
def _small_batch_confs(spark):
    """Steady-state CDC epochs are SMALL (thousands of rows against a big
    table), and the small-batch merge plan has no conf-dependent shuffle:
    the batch is broadcast, the table side is scanned bucket-pruned, and
    the writer repartitions by an explicit bucket count. AQE therefore
    buys nothing here — but it still charges its per-stage materialize-
    and-replan driver rounds, measured at ~25% of a small epoch's
    wall-clock (sf0.1, local[32]: 2.75s → 1.99s per update epoch).
    Disable it around the merge-execute-and-commit step only; backfills
    and large epochs keep AQE (skew handling, coalescing — the 100-TB
    path is untouched)."""
    conf = spark.conf
    key = id(spark)
    with _SMALL_BATCH_CONF_LOCK:
        original = _SESSION_AQE_ORIGINAL.setdefault(
            key, conf.get("spark.sql.adaptive.enabled", "true")
        )
        conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        with _SMALL_BATCH_CONF_LOCK:
            conf.set("spark.sql.adaptive.enabled", original)


class _Prepared(NamedTuple):  # a batch ready to land + its one stats collect
    rows: DataFrame
    cols: list[str]
    upserts: int
    deletes: int
    touched: list[int]  # sorted
    bucketed_under: int  # the bucket count BUCKET_COL was computed under

    @property
    def summary(self) -> dict:
        return {"upserts": self.upserts, "deletes": self.deletes}


@contextmanager
def _prepared_batch(table: LakeTable, deduped: DataFrame, batch_transform):
    """Winning change events → the persisted, bucketed batch every apply
    path lands; unpersisted on exit."""
    from pyspark import StorageLevel

    data_cols = [f.name for f in table.schema().fields]  # includes keys
    cols = data_cols + _SYS_ORDER + ["_sys_deleted", "_sys_raw", BUCKET_COL]
    bucketed_under = table.bucket_count  # layout with_bucket uses just below
    rows = _batch_to_rows(table, deduped)
    if batch_transform is not None:
        rows = _apply_batch_transform(rows, batch_transform)
    # The batch drives bucket discovery AND the join/union (or delta-file
    # write) side — persist so the raw stream isn't re-read per use; without
    # it the whole upstream scan+parse+dedupe recomputes per use. DISK_ONLY,
    # deliberately: the batch carries full after-images; caching it
    # deserialized in-heap at high thread counts caused measurable GC stalls
    # (32-thread local run), while a serialized spill is written once and
    # streamed back twice.
    # Without this flag AQE cannot change a cached plan's output
    # partitioning: the DISK_ONLY batch stays pinned at
    # spark.sql.shuffle.partitions partitions and every consumer (stats
    # job, merge join, writer) pays that task count even for a 100-row
    # epoch. Runtime-settable session conf (same precedent as the
    # outputTimestampType set in _write_data_files).
    table.spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    batch = table.with_bucket(rows).persist(StorageLevel.DISK_ONLY)
    try:
        # ONE driver round-trip yields bucket discovery AND batch stats
        # (per-epoch floor matters for steady-state CDC throughput).
        stats = (
            batch.groupBy(BUCKET_COL)
            .agg(
                F.sum(F.when(~F.col("_sys_deleted"), 1).otherwise(0)).alias("u"),
                F.sum(F.when(F.col("_sys_deleted"), 1).otherwise(0)).alias("d"),
            )
            .collect()
        )
        n_upserts = sum(int(r["u"] or 0) for r in stats)
        n_deletes = sum(int(r["d"] or 0) for r in stats)
        touched = sorted(r[BUCKET_COL] for r in stats)
        yield _Prepared(batch, cols, n_upserts, n_deletes, touched, bucketed_under)
    finally:
        batch.unpersist()


def _append_deltas(table: LakeTable, b: _Prepared, tag: dict | None) -> Snapshot:
    return table.append_deltas(
        b.rows.select(*b.cols),
        tag=tag,
        summary=b.summary,
        bucketed_under=b.bucketed_under,
        touched_buckets=b.touched,
    )


def merge_into(
    table: LakeTable,
    deduped: DataFrame,
    tag: dict | None = None,
    broadcast_threshold_rows: int = 100_000,
    delta_auto_ratio: float | None = None,
    batch_transform=None,
    staged: bool = False,
) -> MergeResult:
    """Apply a deduped change batch (one row/key, op ∈ I,U,D) to the table.

    ``delta_auto_ratio`` enables the ADAPTIVE CoW-vs-merge-on-read choice:
    when the touched buckets hold more than ``ratio × batch_rows`` table
    rows (per-file row stats from the manifests), copy-on-write would
    rewrite that many rows to apply this batch — the epoch is layered as
    delta files instead (O(batch) write; reads reconcile). Backfills and
    dense updates stay CoW; the first epoch on an empty table is always
    CoW (no base to layer over). Legacy files without row stats disable
    the heuristic rather than guessing.

    Exactly-once: if ``tag`` = {source_id, batch_id} already committed, the
    merge is a no-op (replay safety; T3 in SURVEY §2.8).
    """
    t0 = time.time()
    if staged:
        # write-audit-publish: the merge is computed and its files written,
        # but visibility (and the exactly-once tag) belongs to
        # table.publish_staged — staging is repeatable by design
        if tag is not None:
            raise ValueError("staged merges take their tag at publish_staged()")
        if delta_auto_ratio:
            raise ValueError("staged merges are copy-on-write only")
    if tag is not None and table.has_commit_tag(tag["source_id"], tag["batch_id"]):
        return MergeResult(None, [], 0, 0, time.time() - t0, "skipped-duplicate")
    if delta_auto_ratio is None and not staged:
        # Table-level write mode (Iceberg's write.update.mode=merge-on-read
        # analog): a table created with properties={"merge.delta-auto-ratio":
        # 3.0} gets the adaptive CoW-vs-MoR choice on EVERY unstaged merge —
        # including the derived-view syncs (dedup/text indexes, SCD2, agg
        # views) that never expose the knob in their own signatures. An
        # explicit argument always wins; staged merges stay CoW by contract
        # (the property is ignored, not an error — staging a table that
        # carries the property must keep working).
        # When to set it: the scattered-small-update regime where table
        # rows >> batch rows PER SYNC — the 100-TB index case. Measured
        # NEGATIVE at sf0.1 on the neardup index pair (stock 15.5/16.2s vs
        # MoR 18.1/18.5s, interleaved A/B): at 60k rows the reconcile
        # exchange on every downstream read costs more than the CoW write
        # it saves, so this stays OFF by default and is a property, not a
        # blanket behavior change.
        prop = table.meta.get("properties", {}).get("merge.delta-auto-ratio")
        if prop is not None:
            delta_auto_ratio = float(prop)

    with _prepared_batch(table, deduped, batch_transform) as b:
        touched = b.touched
        if not touched:
            return MergeResult(None, [], 0, 0, time.time() - t0, "noop")

        def result(snap, strategy, staged_id=None) -> MergeResult:
            dt = time.time() - t0
            return MergeResult(snap, touched, b.upserts, b.deletes, dt, strategy, staged_id)

        n_batch = b.upserts + b.deletes
        if delta_auto_ratio:
            tbl_files = table.current_snapshot().files.for_buckets(set(touched))
            rows_known = bool(tbl_files) and all(
                f.get("rows", -1) >= 0 for f in tbl_files
            )
            if rows_known and sum(f["rows"] for f in tbl_files) > delta_auto_ratio * n_batch:
                return result(_append_deltas(table, b, tag), "delta-append")

        # Pin the scan AND the commit-validation base to ONE snapshot:
        # table.read() resolves its file list at call time, so a racer
        # committing between an unpinned read and replace_buckets' own
        # baseline capture would be INCLUDED in the baseline and silently
        # swapped out (review-caught lost-update window).
        snap0 = table.current_snapshot()
        assumed = {f["path"] for f in snap0.files.for_buckets(set(touched))}

        def land(merged: DataFrame, strategy: str) -> MergeResult:
            if staged:
                sid = table.stage_buckets(
                    touched, merged, assumed_files=assumed, summary=b.summary
                )
                return result(None, f"staged-{strategy}", staged_id=sid)
            snap = table.replace_buckets(
                touched, merged, tag=tag, summary=b.summary, assumed_files=assumed
            )
            return result(snap, strategy)

        small = n_batch <= broadcast_threshold_rows
        # small epochs execute and commit with AQE off (_small_batch_confs)
        confs = _small_batch_confs(table.spark) if small else nullcontext()
        if not assumed:
            # INITIAL-LOAD fast path: every touched bucket is empty (no data
            # files, no delta layers — files.for_buckets returns both), so
            # all three broadcast joins (or the sort-merge union + second
            # LWW shuffle) reduce algebraically to the batch itself: the
            # resolve branch is empty, no key can match, tombstones land as
            # rows either way. Skipping them drops one full shuffle of the
            # batch from every backfill (600k-row bulk apply: union+LWW-max
            # over an empty side) and 3 join stages from every table's
            # first epoch — the two initial index-build syncs in the
            # neardup chain were paying this on every run. Relies on the
            # documented input contract (deduped: one row per winning key),
            # which the broadcast path's new_rows branch already requires.
            # Serializable vs racers: replace_buckets/stage_buckets still
            # validate assumed_files == ∅ at commit, so a concurrent first
            # writer aborts exactly as before.
            with confs:
                return land(b.rows.select(*b.cols), "initial-load")
        current = table.read(
            snapshot_id=snap0.snapshot_id, buckets=touched, with_system=True
        )

        # Prioritized strategy chain with RUNTIME fallback (reference G5:
        # a failed sample re-probes the next processor in the chain,
        # /root/reference/src/image_generic_codec.h:864-911). The classic
        # trigger: a batch under the row threshold whose broadcast build
        # side still blows the broadcast memory limit — the sort-merge
        # path then applies the identical semantics with one shuffle.
        # Safe to retry: data files written by a failed attempt are
        # orphans until the metadata commit, which is the last step.
        if small:
            chain = [("broadcast", _merge_broadcast), ("sort-merge", _merge_sortmerge)]
        else:
            chain = [("sort-merge", _merge_sortmerge)]

        with confs:
            last_err: Exception | None = None
            for strategy, impl in chain:
                try:
                    return land(impl(current, b.rows, table.key_cols, b.cols), strategy)
                except (ConcurrentModification, CommitConflict):
                    # NOT an execution failure — a racing writer committed after
                    # our scan. Falling through to the next strategy would merge
                    # STALE `current` data against the refreshed snapshot and
                    # silently drop the racer's rows (the exact lost update the
                    # serializable validation exists to prevent). The caller
                    # owns the retry: re-scan, re-merge, re-commit.
                    raise
                except Exception as e:  # noqa: BLE001 — chain walks on any exec failure
                    last_err = e
                    if strategy == chain[-1][0]:
                        raise
            raise last_err  # pragma: no cover — loop always returns or raises


def _merge_broadcast(
    current: DataFrame, batch: DataFrame, key_cols: list[str], all_cols: list[str]
) -> DataFrame:
    """Hot path: table side never shuffles; batch is broadcast 3 ways.

    1. current LEFT OUTER broadcast(batch) → keep the order-winning row.
    2. matched keys (≤ |batch|) = current SEMI broadcast(batch keys).
    3. new rows = batch ANTI broadcast(matched keys).

    Why not ONE full-outer broadcast join: Spark (through 4.1) does not
    support a broadcast build side for FULL OUTER — the hint is ignored
    and the plan silently degrades to a SortMergeJoin that SHUFFLES the
    table side (verified: HintErrorLogger "build right for full outer
    join"). Three broadcast joins that never move the table beat one
    join that does; `test_merge_broadcast_strategy_plan` pins this.
    """
    # Null-key safety (review-caught): every key comparison here must be
    # null-SAFE — the resolve join already was, but (a) the join-matched
    # marker used key-col non-nullness (false for a matched null-key batch
    # row → its update was dropped) and (b) the semi/anti joins used plain
    # equality (null keys never match → a null-key batch row was always
    # 'new' and duplicated the existing row). The marker is now a literal
    # flag column; the semi/anti joins use eqNullSafe conditions.
    b = batch.withColumn("_b_hit", F.lit(True)).alias("b")
    c = current.alias("c")
    cond = [F.col(f"c.{k}").eqNullSafe(F.col(f"b.{k}")) for k in key_cols]

    batch_wins = F.col("b._b_hit").isNotNull() & (_ord("b.") > _ord("c."))
    resolved = c.join(F.broadcast(b), cond, "left_outer").select(
        *[
            F.when(batch_wins, F.col(f"b.{col}")).otherwise(F.col(f"c.{col}")).alias(col)
            for col in all_cols
        ]
    )

    bk = batch.select(*key_cols).distinct().alias("bk")
    cond_bk = [F.col(f"cc.{k}").eqNullSafe(F.col(f"bk.{k}")) for k in key_cols]
    matched_keys = (
        current.alias("cc")
        .join(F.broadcast(bk), cond_bk, "left_semi")
        .select(*key_cols)
        .distinct()
        .alias("mk")
    )
    cond_mk = [F.col(f"bb.{k}").eqNullSafe(F.col(f"mk.{k}")) for k in key_cols]
    new_rows = (
        batch.alias("bb")
        .join(F.broadcast(matched_keys), cond_mk, "left_anti")
        .select(*all_cols)
    )
    return resolved.unionByName(new_rows)


def _merge_sortmerge(
    current: DataFrame, batch: DataFrame, key_cols: list[str], all_cols: list[str]
) -> DataFrame:
    """Backfill path: union + map-side-combinable LWW max — one shuffle of
    the touched buckets, partial-aggregated, immune to hot keys."""
    unioned = current.select(*all_cols).unionByName(batch.select(*all_cols))
    return lww_dedupe(unioned, key_cols=key_cols, order_cols=_SYS_ORDER)


def merge_into_delta(
    table: LakeTable,
    deduped: DataFrame,
    tag: dict | None = None,
    batch_transform=None,
) -> MergeResult:
    """Merge-on-read apply: identical input contract and exactly-once
    semantics as :func:`merge_into`, but the resolved batch is LAYERED
    over the base as per-bucket delta files instead of copy-on-write
    rewriting every touched bucket.

    Why it exists (the 100 TB incremental answer): the steady-state CDC
    regime is a small batch of updates SCATTERED across keys — under CoW
    that touches nearly every bucket and rewrites the whole table per
    epoch (write amplification ~ table_rows / batch_rows); here the write
    is O(batch) and never reads the base at all. Reads reconcile lazily
    with the same order comparator (LakeTable.read), so correctness —
    cross-epoch LWW, tombstones, no-resurrection — is shared, not
    re-implemented. Hudi MOR / Iceberg merge-on-read rebuilt Spark-first.
    Folding layers back into base files is ``LakeTable.compact_deltas``
    (the engine runs it after every delta-append epoch).
    """
    t0 = time.time()
    if tag is not None and table.has_commit_tag(tag["source_id"], tag["batch_id"]):
        return MergeResult(None, [], 0, 0, time.time() - t0, "skipped-duplicate")
    with _prepared_batch(table, deduped, batch_transform) as b:
        snap = _append_deltas(table, b, tag) if b.touched else None
    strategy = "delta-append" if b.touched else "noop"
    return MergeResult(snap, b.touched, b.upserts, b.deletes, time.time() - t0, strategy)
