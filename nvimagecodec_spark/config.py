"""Engine configuration.

Reference analog: ``nvimgcodecInstanceCreateInfo_t`` / ``nvimgcodecExecutionParams_t``
(/root/reference/include/nvimgcodec.h:1089-1130) — the knobs a caller hands the
director before any work is scheduled.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class EngineConfig:
    """Tunables for the CDC engine.

    Attributes
    ----------
    hot_key_threshold:
        Per-epoch event count above which a key is considered "hot". The
        epoch is flagged ``hot_epoch`` in lineage (detection for
        monitoring only): the LWW dedupe is a map-side-combinable
        ``max(struct)`` that a hot key cannot skew (reference analog:
        cost-descending ``sortSamples`` straggler defusal,
        /root/reference/src/image_generic_decoder.cpp:100-148).
    broadcast_threshold_rows:
        If a deduped batch is below this size, the merge uses the
        broadcast-join path instead of the sort-merge path (reference
        analog: priority-ordered backend fallback chain,
        /root/reference/src/image_generic_codec.h:470-478).
    target_batch_events:
        Initial adaptive rate cap — events per epoch. The adaptive
        controller re-tunes it from the previous epoch's duration
        (reference analog: ADAPTIVE_MINIMIZE_IDLE_TIME load-hint policy,
        /root/reference/src/image_generic_codec.h:1064-1123).
    target_epoch_seconds:
        The controller's setpoint for epoch wall time.
    """

    hot_key_threshold: int = 10_000
    broadcast_threshold_rows: int = 100_000
    # Snapshot retention: every snapshot entry carries the table's full
    # live-file manifest, so an unbounded epoch stream grows the metadata
    # json without bound. The engine expires old snapshots every
    # `expire_every_epochs` epochs, keeping `keep_snapshots` (the time-
    # travel window). 0/None disables (tests, short jobs).
    expire_every_epochs: int = 50
    keep_snapshots: int = 20
    target_batch_events: int = 1_000_000
    target_epoch_seconds: float = 30.0
    min_batch_events: int = 10_000
    max_batch_events: int = 50_000_000
    dead_letter_dir: str | None = None
    # CHECK constraints enforced at the apply gate: name -> SQL boolean
    # over the table's logical columns, ANSI semantics (NULL passes;
    # only explicit FALSE rejects). Violating POST-LWW winners are
    # withheld from the merge — the table keeps its current value for
    # that key — counted in lineage, and (when a sink dir is set)
    # preserved under constraint_violation_dir partitioned by
    # (source_id, batch_id) with dynamic overwrite, exactly-once like
    # the dead-letter sink. See operators/validate.py.
    constraints: dict | None = None
    constraint_violation_dir: str | None = None
    # Merge-on-read mode: epochs layer delta files over the base instead
    # of copy-on-write rewriting every touched bucket — the write-
    # amplification answer for the steady-state regime of small batches
    # scattered across keys (O(batch) writes; reads reconcile dirty
    # buckets lazily). True = every epoch; "auto" = per-epoch adaptive
    # choice — an epoch goes delta when the touched buckets hold more
    # than `mor_auto_ratio` x batch_rows table rows (manifest row stats),
    # i.e. exactly when CoW write amplification exceeds that ratio;
    # backfills and the initial load stay CoW. Buckets accumulating more
    # than `delta_compact_max_files` delta layers are folded back into
    # base files after the epoch commit, bounding read amplification.
    mor_deltas: bool | str = False
    # Source-transaction-atomic epochs (Debezium transaction-metadata
    # analog): when True, run_incremental snaps every epoch end to an LSN
    # boundary that splits no source transaction (events sharing a
    # txn_id land in one epoch, so readers never observe a partially-
    # applied source transaction). A transaction larger than the rate
    # cap is indivisible — its epoch simply runs over the cap. Requires
    # a wire format that carries txn_id (jsonlines does); events without
    # one never constrain a boundary.
    txn_atomic: bool = False
    mor_auto_ratio: float = 20.0
    delta_compact_max_files: int = 8
    # Periodic FULL maintenance sweep (table.optimize: fold deltas,
    # bin-pack fragmented buckets, expire snapshots, reclaim orphans)
    # every N epochs — the always-on stream's answer to gradual
    # fragmentation that per-epoch compaction thresholds don't catch.
    # Runs AFTER the epoch's tagged commit; a racing writer makes the
    # sweep a no-op for the contended step, never fails the stream.
    # 0/None disables (default: short jobs and tests sweep explicitly).
    optimize_every_epochs: int = 0
    optimize_max_files_per_bucket: int = 4
    optimize_orphan_grace_seconds: int = 72 * 3600

    def __post_init__(self):
        # a tri-state knob takes bool or ONE exact string; any other string
        # is truthy in Python, so a typo ('Auto', 'true') would silently
        # enable the wrong mode instead of the one asked for
        v = self.mor_deltas
        if not (isinstance(v, bool) or v == "auto"):
            raise ValueError(f"mor_deltas must be True, False or 'auto'; got {v!r}")
