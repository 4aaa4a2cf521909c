"""Atomic MULTI-TABLE transactions — a single-pointer catalog plus a
two-phase commit built on the existing write-audit-publish staging.

The router (streaming/router.py) fans one change stream out to N
LakeTables with per-table exactly-once tags: a crash mid-epoch heals on
replay, but until it does, readers of table A can observe an epoch that
table B hasn't landed yet. That is the documented per-table trade. This
module removes it for readers who want cross-table consistency, the way
catalog-level lakehouses do (Nessie / Project Tahoe-style single commit
pointer): tables keep their own version logs, but a ``TxnCatalog`` holds
ONE atomically-flipped file pinning a snapshot id per table, and a
``MultiTableTxn`` only flips that pointer after EVERY table's staged
merge has published. Catalog readers move between consistent cross-table
views in one step; they never see epoch N of table A next to epoch N-1
of table B.

Protocol (classic presumed-nothing 2PC over the WAP primitives):

1. **Stage** — each table's merge runs with ``staged=True``
   (operators/merge.py): files written, zero reader visibility,
   serializable baseline recorded. Repeatable; nothing to undo but files.
2. **Intent** — one JSON intent file per (source_id, batch_id) listing
   every ``staged_id``, written atomically BEFORE the first publish.
   This is the redo log: its existence means "publishes may have
   started".
3. **Publish** — each table's ``publish_staged`` runs with the SAME
   per-table exactly-once tag the non-atomic engine path would use
   (``{source_id}.{name}``), so epoch replays and crash recovery can
   always tell "published" from "pending" by looking at the table alone.
4. **Flip** — the catalog pointer file is CAS-replaced with all touched
   tables' new snapshot ids. THE commit point for catalog readers.
5. The intent file is removed (idempotent cleanup).

Crash recovery (``TxnCatalog.recover``, run automatically on load) reads
surviving intent files and decides per transaction from durable state
only:

- **no table published** → roll BACK: abort every staged changeset; the
  stream replays the epoch from its checkpoint.
- **any table published** → roll FORWARD: publish the remaining staged
  changesets, flip the pointer, drop the intent. (The per-table tags
  make a half-published set detectable and completable; a re-crash
  re-enters the same branch.)
- roll-forward hitting ``ConcurrentModification`` (an out-of-band writer
  touched a staged table's buckets after staging — impossible in the
  single-writer-per-table regime the router guarantees, possible if an
  operator ran a manual merge mid-recovery) → the stale staged entries
  are aborted and the batch is reported for REPLAY: already-published
  tables will skip on their tags, the conflicted ones re-merge against
  the new base, and the pointer flips only when the whole batch is in.
  Catalog readers keep the old consistent view throughout.

Scale: the catalog file is O(tables) bytes and touched once per epoch —
the same cost class as the per-table version hint. Staging/publishing do
no extra data I/O over a direct merge (the files written at stage time
ARE the published files).

**Derived views** (``register_view``): incremental indexes/views
(IncrementalTextIndex, IncrementalAggView, IncrementalDedupIndex,
LshBandIndex — anything with ``.table``, a cursor-idempotent
``.sync(base, to_id=)`` and ``.last_synced_base_snapshot()``) can be
registered against a catalog table (or against another view — chains
sync in dependency order). After a transaction's base publishes
succeed, the commit syncs every dependent view to the exact published
snapshot, then ONE pointer flip pins bases
and views together — ``catalog.read`` never shows an index lagging the
base it claims to index. Crash anywhere re-derives: view syncs cursor on
the view's own commit-tag log, so recovery's roll-forward re-runs them
as no-ops or completions. A view's pin only moves when its base moved.
Contract: don't ``sync()`` a registered view out-of-band. A view whose
cursor is already past the txn's target (a manual sync, or a concurrent
txn that committed first) does not raise: the commit adopts that newer
base snapshot as the pin for both base and view, so the pair stays
mutually consistent.

Reference analog: results become visible only after the explicit
cross-stream synchronize-and-publish barrier
(/root/reference/src/image_generic_codec.h:605-638); one status vector
latches per-sample completion so a replay can tell done from pending
(/root/reference/src/processing_results.h:51-89).
"""

from __future__ import annotations

import importlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from nvimagecodec_spark.lakehouse.commit import VersionedFileStore
from nvimagecodec_spark.lakehouse.table import ConcurrentModification, LakeTable


class TxnReplayNeeded(RuntimeError):
    """The transaction could not complete atomically (a serializable
    conflict surfaced mid-commit). Durable state is safe — published
    tables carry their tags, conflicted stages were aborted, the catalog
    pointer did NOT move — but the caller must replay the epoch so the
    conflicted tables re-merge against the new base."""


def _tag_source(source_id: str, name: str) -> str:
    # same per-route convention as CdcRouter, so an epoch staged through
    # a router engine and published here replays identically either way
    return f"{source_id}.{name}"


class TxnCatalog:
    """Single atomically-flipped pointer over N LakeTables.

    State lives in ``path/cat-v{n}.json`` with a ``CURRENT`` hint — a
    ``VersionedFileStore``, the same optimistic protocol as table
    metadata: every state change is one ``_update_state(mutate)``, and a
    writer that loses the race re-runs ``mutate`` on the winner's state.
    Intent files live in ``path/txns/``.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._store = VersionedFileStore(path, "cat-v{}.json", "CURRENT")
        self.state: dict = {}

    # ------------------------------------------------------------ storage
    def _txn_dir(self) -> str:
        return os.path.join(self.path, "txns")

    def refresh(self) -> dict:
        self.state = self._store.read()
        return self.state

    def _write_state(self, v: int, state: dict) -> None:
        self.state = self._store.write(v, state)

    def _update_state(self, mutate) -> dict | None:
        """Optimistic CAS update: ``mutate`` edits a fresh copy in place."""

        def on_copy(state: dict):
            state["tables"] = {k: dict(v) for k, v in state["tables"].items()}
            return mutate(state)

        return self._store.update(on_copy, self.refresh, self._write_state)

    # ----------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls, spark: SparkSession, path: str, tables: dict[str, LakeTable]
    ) -> "TxnCatalog":
        """Pin every table at its CURRENT head. Names are the transaction
        keys — route names, if a router feeds this catalog."""
        os.makedirs(os.path.join(path, "txns"), exist_ok=True)
        state = {
            "tables": {
                name: {
                    "path": t.path,
                    "snapshot_id": t.current_snapshot().snapshot_id,
                }
                for name, t in tables.items()
            },
            "txn_log": [],
        }
        state["catalog_id"] = uuid.uuid4().hex[:12]
        cat = cls(spark, path)
        cat._write_state(1, state)
        # pins are RETENTION-PROOF from birth: a catalog-owned tag rides
        # every pinned snapshot, so table maintenance (expire_snapshots /
        # optimize) can never reap a snapshot the pointer still serves
        for name, t in tables.items():
            cat._protect_pin(t, name, "init", cat.pinned_snapshot(name))
        return cat

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, recover: bool = True
    ) -> "TxnCatalog":
        cat = cls(spark, path)
        cat.refresh()
        if recover:
            cat.recover()
        return cat

    # ------------------------------------------------------------- reading
    def table(self, name: str) -> LakeTable:
        """A live handle on the underlying table (its own head — direct
        readers see per-table progress, the documented router trade)."""
        return LakeTable(self.spark, self.state["tables"][name]["path"])

    def pinned_snapshot(self, name: str) -> int:
        views = self.state.get("views", {})
        if name in views:
            return views[name]["snapshot_id"]
        return self.state["tables"][name]["snapshot_id"]

    def read(self, name: str, **kwargs) -> DataFrame:
        """Catalog-consistent read: the snapshot the last COMPLETED
        transaction pinned — never a half-landed epoch. Works for base
        tables and registered views alike; a view read is guaranteed
        consistent with the base read of the same catalog version."""
        views = self.state.get("views", {})
        if name in views:
            vm = views[name]
            return LakeTable(self.spark, vm["path"]).read_logical(
                snapshot_id=vm["snapshot_id"], **kwargs
            )
        return self.table(name).read_logical(
            snapshot_id=self.pinned_snapshot(name), **kwargs
        )

    # ----------------------------------------------------------- views
    def view(self, name: str):
        """Reconstruct the registered view/index handle from its persisted
        kind ("module:Class" — every view class rehydrates from
        ``__init__(spark, path)`` + its table properties)."""
        vm = self.state.get("views", {})[name]
        mod, _, cls = vm["kind"].rpartition(":")
        klass = getattr(importlib.import_module(mod), cls)
        return klass(self.spark, vm["path"])

    def register_view(self, name: str, view, base: str) -> None:
        """Register a derived view/index of catalog member ``base`` (a
        table or an already-registered view). ``view`` must expose
        ``.table`` (a LakeTable), ``.sync(base_handle, to_id=)`` and
        ``.last_synced_base_snapshot()``, its cursor in its own commit-tag
        log (``incremental.pending_changes``). The view is first synced to
        the base's PINNED snapshot so the catalog starts consistent; from
        then on every committed transaction that moves the base re-syncs
        and re-pins it inside the same pointer flip."""
        if not all(
            hasattr(view, a) for a in ("table", "sync", "last_synced_base_snapshot")
        ):
            raise TypeError(
                "view must expose .table, .sync(base, to_id=) and "
                ".last_synced_base_snapshot()"
            )
        views = self.state.get("views", {})
        if name in self.state["tables"] or name in views:
            raise ValueError(f"name {name!r} already in catalog")
        if base not in self.state["tables"] and base not in views:
            raise KeyError(f"base {base!r} not in catalog")

        class _BasePinMoved(Exception):
            pass

        # sync-then-CAS loop: a transaction committing between our sync
        # and the pointer flip would re-pin the base WITHOUT re-syncing
        # this not-yet-registered view — the catalog would be born
        # inconsistent (view pinned behind its base). The mutate checks
        # the base pin it synced against is still current; if not, re-sync
        # to the new pin and retry.
        while True:
            base_handle = (
                self.table(base) if base in self.state["tables"] else self.view(base)
            )
            synced_to = self.pinned_snapshot(base)
            view.sync(base_handle, to_id=synced_to)
            entry = {
                "path": view.table.path,
                "kind": f"{type(view).__module__}:{type(view).__qualname__}",
                "base": base,
                "snapshot_id": view.table.current_snapshot().snapshot_id,
            }

            def mutate(state: dict) -> None:
                views = {k: dict(v) for k, v in state.get("views", {}).items()}
                if name in state["tables"] or name in views:
                    raise ValueError(f"name {name!r} already in catalog")
                base_pin = (
                    views[base]["snapshot_id"]
                    if base in views
                    else state["tables"][base]["snapshot_id"]
                )
                if base_pin != synced_to:
                    raise _BasePinMoved()
                views[name] = entry
                state["views"] = views

            try:
                self._update_state(mutate)
                break
            except _BasePinMoved:
                continue
        self._protect_pin(view.table, name, "init", entry["snapshot_id"])

    def drop_view(self, name: str) -> None:
        t = LakeTable(self.spark, self.state["views"][name]["path"])

        def mutate(state: dict) -> None:
            views = {k: dict(v) for k, v in state.get("views", {}).items()}
            views.pop(name)
            state["views"] = views

        self._update_state(mutate)
        # release the retention pins this catalog held on the view table
        self._drop_stale_pins(t, keep_label=None)

    def _sync_views(self, updated: dict[str, int]) -> dict[str, int]:
        """Sync every view whose base just moved, in dependency order
        (a view's sync target is its base's NEW pin, so chains — index
        over index — resolve bottom-up). Returns {view_name: new
        snapshot_id} for the flip. Views over untouched bases keep their
        existing pins. Idempotent: each sync cursors on the view's own
        commit-tag log, so recovery re-runs are no-ops."""
        views = self.state.get("views", {})
        done = dict(updated)
        out: dict[str, int] = {}
        pending = dict(views)
        progressed = True
        while pending and progressed:
            progressed = False
            for vname in list(pending):
                base = pending[vname]["base"]
                if base not in done:
                    if base in pending:
                        continue  # chained view — wait for its parent
                    del pending[vname]  # base untouched: pin stays
                    progressed = True
                    continue
                vh = self.view(vname)
                base_h = (
                    self.table(base)
                    if base in self.state["tables"]
                    else self.view(base)
                )
                cursor = vh.last_synced_base_snapshot()
                if cursor is not None and cursor > done[base]:
                    # A concurrent transaction on bucket-DISJOINT keys can
                    # publish after us but commit (sync views + flip)
                    # first — then this view's cursor is already PAST our
                    # target. Per-table history is linear, so the view
                    # state at `cursor` already includes our published
                    # batch; adopt the newer base state for this txn's
                    # pins so view and base stay mutually consistent (the
                    # flip is a monotone max, so nothing regresses).
                    done[base] = cursor
                    if base in updated:
                        updated[base] = max(updated[base], cursor)
                vh.sync(base_h, to_id=done[base])
                sid = vh.table.current_snapshot().snapshot_id
                out[vname] = sid
                done[vname] = sid
                del pending[vname]
                progressed = True
        return out

    # ----------------------------------------------------- pin protection
    @property
    def _cid(self) -> str:
        return self.state.get("catalog_id", "legacy")

    def _pin_ref(self, label) -> str:
        return f"txncat-{self._cid}-{label}"

    def _protect_pin(self, t: LakeTable, name: str, label, sid: int) -> None:
        """Tag a pinned snapshot so retention can't reap it while the
        pointer (or a pointer about to flip) serves it. Superseded pin
        tags are dropped in ``_drop_stale_pins`` AFTER the flip — between
        the two, both old and new pins are protected, so a crash anywhere
        in the window leaves extra tags (harmless, cleaned next epoch),
        never an unprotected pin."""
        t.tag(self._pin_ref(label), sid)

    def _drop_stale_pins(self, t: LakeTable, keep_label) -> None:
        prefix = self._pin_ref("")
        keep = self._pin_ref(keep_label)
        for ref in list(t.refs()):
            if ref.startswith(prefix) and ref != keep:
                try:
                    t.drop_tag(ref)
                except (KeyError, ValueError):
                    pass  # another process already cleaned it

    def _protect_new_pins(
        self, label, snapshots: dict[str, int], view_snapshots: dict[str, int]
    ) -> None:
        views = self.state.get("views", {})
        for name, sid in snapshots.items():
            self._protect_pin(self.table(name), name, label, sid)
        for name, sid in view_snapshots.items():
            if name in views:
                self._protect_pin(
                    LakeTable(self.spark, views[name]["path"]), name, label, sid
                )

    def _cleanup_pins(
        self, label, snapshots: dict[str, int], view_snapshots: dict[str, int]
    ) -> None:
        views = self.state.get("views", {})
        for name in snapshots:
            self._drop_stale_pins(self.table(name), label)
        for name in view_snapshots:
            if name in views:
                self._drop_stale_pins(
                    LakeTable(self.spark, views[name]["path"]), label
                )

    # ---------------------------------------------------------- transacting
    def begin(self, source_id: str, batch_id: int) -> "MultiTableTxn":
        return MultiTableTxn(self, source_id, batch_id)

    def _intent_path(self, source_id: str, batch_id: int) -> str:
        return os.path.join(self._txn_dir(), f"{source_id}.{batch_id}.json")

    def _write_intent(
        self, source_id: str, batch_id: int, staged: dict, skipped: list[str]
    ) -> str:
        p = self._intent_path(source_id, batch_id)
        tmp = p + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "source_id": source_id,
                    "batch_id": batch_id,
                    "staged": staged,
                    # replay-skipped tables (already published under this
                    # batch's tag by a prior attempt) MUST ride the intent:
                    # a roll-forward that flips only the staged tables
                    # would leave a skipped table's pin one epoch behind —
                    # exactly the torn cross-table view this module exists
                    # to prevent.
                    "skipped": skipped,
                    "timestamp_ms": int(time.time() * 1000),
                },
                f,
                indent=1,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)
        return p

    def _flip(
        self,
        source_id: str,
        batch_id: int,
        snapshots: dict[str, int],
        view_snapshots: dict[str, int] | None = None,
    ) -> None:
        def mutate(state: dict) -> None:
            # MONOTONE pin advance: two transactions on bucket-DISJOINT key
            # sets can both publish (no baseline overlap → no serializable
            # conflict) and their flips can land out of publish order; the
            # later-flipping-but-earlier-published txn must not regress a
            # pin — that would hide the other txn's committed batch from
            # catalog readers until some future flip. Snapshot ids are
            # strictly increasing per table (LakeTable._commit: max+1) and
            # the history is linear, so a higher pin always INCLUDES every
            # lower pin's batches — component-wise max never exposes a torn
            # state (multi-process race soak: tests/test_multiprocess_race.py
            # ::test_process_race_catalog_flips_converge).
            for name, sid in snapshots.items():
                cur = state["tables"][name]["snapshot_id"]
                state["tables"][name]["snapshot_id"] = max(cur, sid)
            if view_snapshots:
                views = {k: dict(v) for k, v in state.get("views", {}).items()}
                for name, sid in view_snapshots.items():
                    if name in views:  # dropped mid-txn: skip the pin
                        views[name]["snapshot_id"] = max(
                            views[name]["snapshot_id"], sid
                        )
                state["views"] = views
            log = list(state.get("txn_log", []))
            log.append(
                {
                    "source_id": source_id,
                    "batch_id": batch_id,
                    "tables": snapshots,
                    **({"views": view_snapshots} if view_snapshots else {}),
                    "timestamp_ms": int(time.time() * 1000),
                }
            )
            state["txn_log"] = log[-100:]

        self._update_state(mutate)

    # ------------------------------------------------------------- recovery
    def recover(self) -> list[dict]:
        """Resolve every surviving intent file. Returns one record per
        transaction: {source_id, batch_id, action} with action ∈
        {rolled-forward, rolled-back, replay-needed, blocked}. A
        ``blocked`` intent stays on disk and is retried on the next
        load/recover — the catalog stays loadable throughout."""
        out: list[dict] = []
        tdir = self._txn_dir()
        if not os.path.isdir(tdir):
            return out
        intents: list[tuple[str, dict]] = []
        for fn in sorted(os.listdir(tdir)):
            if not fn.endswith(".json") or ".tmp." in fn:
                continue
            p = os.path.join(tdir, fn)
            try:
                with open(p) as f:
                    intents.append((p, json.load(f)))
            except (OSError, json.JSONDecodeError):
                continue
        # resolve in batch order per source — the filename sort is
        # lexicographic (batch 10 before batch 2), the epoch order is not
        intents.sort(key=lambda pi: (str(pi[1]["source_id"]), int(pi[1]["batch_id"])))
        for p, intent in intents:
            out.append(self._resolve_intent(p, intent))
        return out

    def _resolve_intent(self, path: str, intent: dict) -> dict:
        source_id, batch_id = intent["source_id"], intent["batch_id"]
        staged: dict[str, str] = intent["staged"]
        skipped: list[str] = intent.get("skipped", [])
        tables = {name: self.table(name) for name in (*staged, *skipped)}
        published = {
            name: t.snapshot_for_tag(_tag_source(source_id, name), batch_id)
            for name, t in tables.items()
        }
        rec = {"source_id": source_id, "batch_id": batch_id}
        if not any(published.values()):
            # nothing durable happened — roll back, let the stream replay
            # (an intent with a replay-skip but no tag cannot exist: the
            # skip was DERIVED from the tag's presence)
            for name in staged:
                try:
                    tables[name].abort_staged(staged[name])
                except KeyError:
                    pass  # never staged, or already aborted
            os.remove(path)
            return {**rec, "action": "rolled-back"}
        # at least one table committed: the batch MUST complete — publish
        # the stragglers, then flip. ConcurrentModification here means an
        # out-of-band writer invalidated a staged baseline: abort those
        # stages (their content is stale regardless) and hand the batch
        # back to the stream — published tables will skip on their tags.
        snapshots: dict[str, int] = {}
        conflicted: list[str] = []
        for name, t in tables.items():
            if published[name] is not None:
                snapshots[name] = published[name].snapshot_id
                continue
            try:
                snap = t.publish_staged(
                    staged[name],
                    tag={
                        "source_id": _tag_source(source_id, name),
                        "batch_id": batch_id,
                    },
                )
                snapshots[name] = snap.snapshot_id
            except (ConcurrentModification, KeyError):
                conflicted.append(name)
                try:
                    t.abort_staged(staged[name])
                except KeyError:
                    pass
        if conflicted:
            os.remove(path)
            return {**rec, "action": "replay-needed", "conflicted": conflicted}
        try:
            view_snaps = self._sync_views(snapshots)
        except ConcurrentModification as e:
            # a concurrent writer on a VIEW table invalidated its sync
            # merge. Bases are published (tagged); hand back for replay —
            # the replay's view syncs cursor past whatever landed.
            os.remove(path)
            return {
                **rec,
                "action": "replay-needed",
                "conflicted": [f"view:{e}"],
            }
        except Exception as e:  # noqa: BLE001
            # any other sync failure (e.g. a registered view manually
            # synced past the txn target raises ValueError). Bases are
            # already published; letting this propagate would make every
            # subsequent load(recover=True) re-raise with the intent still
            # on disk — an unloadable catalog. Record the blockage, leave
            # the intent for a later retry once the operator resolves the
            # view state, and keep the catalog loadable.
            return {
                **rec,
                "action": "blocked",
                "error": f"{type(e).__name__}: {e}",
            }
        label = f"{source_id}-b{batch_id}"
        self._protect_new_pins(label, snapshots, view_snaps)
        self._flip(source_id, batch_id, snapshots, view_snaps)
        self._cleanup_pins(label, snapshots, view_snaps)
        os.remove(path)
        return {**rec, "action": "rolled-forward"}


class MultiTableTxn:
    """One all-or-nothing batch across the catalog's tables.

    Stage with ``merge`` (direct batches) or ``stage`` (a staged_id from
    an engine's staged apply_epoch); ``commit`` publishes everything and
    flips the pointer; ``abort`` discards everything staged.
    """

    def __init__(self, catalog: TxnCatalog, source_id: str, batch_id: int):
        self.catalog = catalog
        self.source_id = source_id
        self.batch_id = batch_id
        self._staged: dict[str, str] = {}
        self._skipped: list[str] = []
        self._done = False

    def _check_name(self, name: str) -> None:
        if name in self.catalog.state.get("views", {}):
            raise ValueError(
                f"{name!r} is a derived view — it syncs automatically at "
                f"commit; stage changes against its base table instead"
            )
        if name not in self.catalog.state["tables"]:
            raise KeyError(f"table {name!r} not in catalog")
        if name in self._staged or name in self._skipped:
            raise ValueError(f"table {name!r} already staged in this txn")

    def merge(self, name: str, deduped: DataFrame, **merge_kwargs):
        """Stage a deduped change batch against catalog table ``name``.
        Replay-safe: if this (source, batch) already published to the
        table, the merge is skipped — commit() re-pins the tagged
        snapshot."""
        from nvimagecodec_spark.operators.merge import merge_into

        self._check_name(name)
        t = self.catalog.table(name)
        if t.has_commit_tag(_tag_source(self.source_id, name), self.batch_id):
            self._skipped.append(name)
            return None
        res = merge_into(t, deduped, staged=True, **merge_kwargs)
        if res.staged_id is None:  # empty batch — nothing staged, pin stays
            return res
        self._staged[name] = res.staged_id
        return res

    def stage(self, name: str, staged_id: str | None) -> None:
        """Adopt a changeset staged elsewhere (an engine's staged
        apply_epoch). ``None`` marks a replay-skip (the engine found its
        tag already committed)."""
        self._check_name(name)
        if staged_id is None:
            self._skipped.append(name)
        else:
            self._staged[name] = staged_id

    def commit(self) -> dict[str, int]:
        """Publish every staged table under its exactly-once tag, then
        atomically flip the catalog pointer. Returns {name: snapshot_id}.

        A serializable conflict on any publish aborts the not-yet-
        published stages and raises: ``ConcurrentModification`` if NOTHING
        published (pure roll-back — retry the whole epoch), or
        ``TxnReplayNeeded`` if the batch is half-in (replay the epoch;
        published tables skip on their tags). Either way the catalog
        pointer never moves on a failed commit."""
        if self._done:
            raise RuntimeError("transaction already completed")
        self._done = True
        if not self._staged and not self._skipped:
            # an all-noop epoch (no route had events): nothing to publish,
            # nothing to re-pin — don't churn a catalog version per idle
            # trigger of a sparse stream
            return {}
        cat, sid, bid = self.catalog, self.source_id, self.batch_id
        # resolve replay-skips BEFORE the intent write: this can raise on a
        # caller bug (skip without a tag), and nothing durable should exist
        # yet when it does
        snapshots: dict[str, int] = {}
        for name in self._skipped:
            snap = cat.table(name).snapshot_for_tag(_tag_source(sid, name), bid)
            if snap is None:
                raise RuntimeError(
                    f"table {name!r} was marked replay-skipped but carries no "
                    f"commit tag ({_tag_source(sid, name)}, {bid})"
                )
            snapshots[name] = snap.snapshot_id
        intent = cat._write_intent(sid, bid, dict(self._staged), list(self._skipped))
        pending = dict(self._staged)
        try:
            for name, staged_id in self._staged.items():
                snap = cat.table(name).publish_staged(
                    staged_id,
                    tag={"source_id": _tag_source(sid, name), "batch_id": bid},
                )
                snapshots[name] = snap.snapshot_id
                del pending[name]
        except ConcurrentModification as e:
            published_any = len(pending) < len(self._staged) or self._skipped
            for name, staged_id in pending.items():
                try:
                    cat.table(name).abort_staged(staged_id)
                except KeyError:
                    pass
            os.remove(intent)
            if published_any:
                raise TxnReplayNeeded(
                    f"batch {bid} is half-committed after a concurrent writer "
                    f"invalidated a staged baseline; replay the epoch — "
                    f"published tables skip on their tags ({e})"
                ) from e
            raise
        try:
            view_snaps = cat._sync_views(snapshots)
        except ConcurrentModification as e:
            # bases are in (tagged) but a registered view's sync merge hit
            # a concurrent writer. Pointer stays put; on replay the base
            # merges skip and the view syncs cursor past the interloper.
            os.remove(intent)
            raise TxnReplayNeeded(
                f"batch {bid}: base tables published but a derived view "
                f"sync conflicted; replay the epoch ({e})"
            ) from e
        label = f"{sid}-b{bid}"
        cat._protect_new_pins(label, snapshots, view_snaps)
        cat._flip(sid, bid, snapshots, view_snaps)
        cat._cleanup_pins(label, snapshots, view_snaps)
        os.remove(intent)
        return snapshots

    def abort(self) -> None:
        """Discard everything staged; the catalog never saw this txn."""
        self._done = True
        for name, staged_id in self._staged.items():
            try:
                self.catalog.table(name).abort_staged(staged_id)
            except KeyError:
                pass
        self._staged.clear()
