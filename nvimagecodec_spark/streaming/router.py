"""Multi-table fan-out: one change stream routed to several LakeTables.

The wire reality of CDC is one stream carrying many tables' events (a
Debezium connector emits every table of a database; a transcript stream
carries several event families). ``CdcRouter`` splits ONE streaming
epoch across N routes — each a (table, predicate) pair backed by its own
``CdcEngine`` — inside the same streaming epoch:

- **One query.** All routes share one streaming query, one file listing
  and one checkpoint; each route's engine gets the epoch's LAZY parsed
  frame filtered by its predicate. The parse is NOT shared: each
  engine's stats job and merge batch re-scan and re-parse the epoch's
  files (``CdcEngine.apply_epoch`` measured caching the wide event rows
  as slower than re-parsing), so parse cost grows with the route count.
- **Per-table exactly-once.** Each route's engine tags its commits with
  ``{source_id}.{route}`` + the shared streaming batch id. A crash
  between table applies heals on replay: already-committed routes skip
  (``skipped-duplicate``), missing ones apply. This is CRASH CONSISTENCY
  per table, not cross-table atomicity — readers of table A can observe
  an epoch table B hasn't landed yet for the duration of the replay
  window; the tags guarantee both converge. (The reference makes the
  same trade per-sample: each sample's status latches independently in
  the results vector, processing_results.h:51-89.)
- **Routing contract.** Predicates see every claimed row (including
  schema events — route them deliberately). A row matching several
  predicates lands in all matching tables; a row matching none is
  dropped (topic filtering) unless ``unmatched="error"``. Dead rows
  (unparseable lines) ride with the FIRST route's engine so its
  dead-letter sink accounts them exactly once.

Reference analog: codec-dispatch by probed format — one input batch,
per-item backend choice (/root/reference/src/image_generic_codec.h:
470-478 fallback chain; S9 plugin directory scan).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nvimagecodec_spark.config import EngineConfig
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.merge import MergeResult
from nvimagecodec_spark.streaming.engine import (
    CdcEngine,
    drive_stream,
    tail_events,
    text_tail,
)


class CdcRouter:
    def __init__(
        self,
        spark: SparkSession,
        routes: dict[str, tuple[LakeTable, Column | Callable[[DataFrame], Column]]],
        source_id: str = "cdc",
        config: EngineConfig | None = None,
        checkpoint_dir: str | None = None,
        unmatched: str = "ignore",
        batch_transforms: dict[str, Callable] | None = None,
    ):
        if not routes:
            raise ValueError("router needs at least one route")
        if unmatched not in ("ignore", "error"):
            raise ValueError("unmatched must be 'ignore' or 'error'")
        self.spark = spark
        self.source_id = source_id
        self.unmatched = unmatched
        self.route_names = list(routes)
        self._preds: dict[str, Column | Callable] = {}
        self.engines: dict[str, CdcEngine] = {}
        transforms = batch_transforms or {}
        for name, (table, pred) in routes.items():
            self._preds[name] = pred
            self.engines[name] = CdcEngine(
                spark,
                table,
                source_id=f"{source_id}.{name}",
                config=config,
                batch_transform=transforms.get(name),
            )
        first_table = routes[self.route_names[0]][0]
        import os

        self.checkpoint_dir = checkpoint_dir or os.path.join(
            first_table.path, "_router_checkpoints"
        )

    def _routed(self, events: DataFrame, batch_id: int) -> list[tuple[str, DataFrame]]:
        """One epoch split into each route's events. Dead rows ride with
        the primary route: exactly one dead-letter sink accounts them.
        With ``unmatched="error"``, a usable row no route matches raises
        here, before any route applies or stages anything."""
        usable = F.col("src_format").isNotNull() & F.col("op").isNotNull()
        preds = [
            F.coalesce(p(events) if callable(p) else p, F.lit(False))
            for p in self._preds.values()  # route_names order
        ]
        if self.unmatched == "error":
            any_match = F.lit(False)
            for p in preds:
                any_match = any_match | p
            n_unmatched = events.where(usable & ~any_match).count()
            if n_unmatched:
                raise ValueError(
                    f"{n_unmatched} events matched no route in epoch {batch_id}"
                )
        preds[0] = preds[0] | ~usable
        return [
            (name, events.where(p)) for name, p in zip(self.route_names, preds)
        ]

    def apply_epoch(self, events: DataFrame, batch_id: int) -> dict[str, MergeResult]:
        """Fan one parsed epoch out to every route. Idempotent per
        (route, batch_id) — replays skip routes that already committed."""
        return {
            name: self.engines[name].apply_epoch(route_events, batch_id)
            for name, route_events in self._routed(events, batch_id)
        }

    def apply_epoch_atomic(self, events: DataFrame, batch_id: int, catalog):
        """All-or-nothing fan-out: every route's epoch is STAGED (full
        engine path — dead letters, schema events, constraints — but zero
        reader visibility), then a ``MultiTableTxn`` publishes all of them
        under the per-route exactly-once tags and flips the catalog
        pointer in one step. Readers going through ``catalog.read`` never
        see epoch N of one route next to epoch N-1 of another — the
        upgrade over ``apply_epoch``'s per-table crash consistency.

        ``catalog`` is a ``lakehouse.txn.TxnCatalog`` whose table names
        are this router's route names. Returns {route: snapshot_id}.
        Replays are safe end-to-end: committed routes skip on their tags,
        and a crash anywhere re-resolves via the catalog's intent log
        (rolled forward once any route published, rolled back otherwise).
        """
        routed = self._routed(events, batch_id)
        txn = catalog.begin(self.source_id, batch_id)
        try:
            for name, route_events in routed:
                res = self.engines[name].apply_epoch(
                    route_events, batch_id, staged=True
                )
                if res.strategy == "skipped-duplicate":
                    # this route's tag already committed (crash replay) —
                    # commit() re-pins its tagged snapshot
                    txn.stage(name, None)
                elif res.staged_id is not None:
                    txn.stage(name, res.staged_id)
                # else "noop": zero usable events matched this route this
                # epoch — nothing staged, no tag, its catalog pin simply
                # stays. (Passing None here would declare a replay-skip
                # and commit() would fail looking for a tag that never
                # existed.)
        except Exception:
            txn.abort()
            raise
        return txn.commit()

    def run_stream(
        self,
        source_dir: str,
        max_files_per_trigger: int = 16,
        await_seconds: float | None = None,
        catalog=None,
    ) -> int:
        """Structured Streaming tail over ``source_dir``, one streaming
        query fanned out to every route (availableNow: drain + stop).
        With ``catalog`` (a TxnCatalog), epochs land atomically across
        all routes via ``apply_epoch_atomic``."""

        def apply(batch_df: DataFrame, batch_id: int):
            events = tail_events(batch_df)
            if catalog is not None:
                self.apply_epoch_atomic(events, batch_id, catalog)
            else:
                self.apply_epoch(events, batch_id)

        return drive_stream(
            text_tail(self.spark, source_dir, max_files_per_trigger),
            apply,
            self.checkpoint_dir,
            await_seconds=await_seconds,
        )

    def lineage(self) -> dict[str, list[dict]]:
        return {name: eng.lineage() for name, eng in self.engines.items()}
