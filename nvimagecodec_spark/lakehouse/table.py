"""An Iceberg-like transactional table format, from scratch, on parquet.

No Iceberg runtime jar ships in this sandbox, so the engine carries its own
minimal lakehouse table format with the Iceberg semantics the north rule
needs:

- **Atomic snapshot commits.** Every commit writes a new immutable
  ``metadata/v%08d.metadata.json`` and then atomically flips
  ``metadata/version-hint.text`` via ``os.replace`` (POSIX atomic rename;
  the protocol lives in ``commit.py``). Readers resolve the hint first, so
  they always see a complete snapshot — never a half-written one.
  Reference analog: the cross-stream commit
  barrier — results are never visible mid-epoch
  (/root/reference/src/image_generic_codec.h:605-638).
- **Commit tags → exactly-once.** A commit may carry
  ``(source_id, batch_id)``; replays check the tag log and become no-ops.
  Reference analog: the once-only promise latch — ``ProcessingResultsPromise
  ::set`` throws on double-set (/root/reference/src/processing_results.cpp:30-48).
- **Bucket partitioning + file pruning.** Data files live under
  ``data/snap-*/_pb=<bucket>/``; the manifest records each file's bucket, so
  a merge reads ONLY the buckets its batch touches (manifest-level pruning,
  the scan never lists untouched data). At 100 TB this is what makes an
  upsert epoch O(touched partitions), not O(table).
- **Schema evolution** (add / rename / widen) is metadata-only: columns have
  stable field ids; renames never rewrite data (see ``schema.py``).
- **Time travel**: any historical snapshot can be read by id.

Concurrency model: optimistic commits, exactly Iceberg's protocol shape.
Every metadata write — snapshot commits on main or a branch, tag and
branch moves, staging, expiry — is one ``_update_meta(mutate)`` through
``commit.VersionedFileStore.update``: the next version is created
exclusively, and a writer that loses the race re-runs its ``mutate``
against the winner's metadata, so nothing a racer committed is dropped.
Data-level conflicts (a racer rewrote the buckets a merge read) raise
``ConcurrentModification`` from inside that ``mutate``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.commit import (  # CommitConflict: re-exported
    CommitConflict,
    VersionedFileStore,
)
from nvimagecodec_spark.lakehouse.schema import (
    TableSchema,
    spark_type_from_name,
)

BUCKET_COL = "_bucket"
_PART_DIR_COL = "_pb"

# System columns persisted with every row so cross-epoch LWW comparisons and
# delete tombstones survive: the analog of Iceberg's per-row sequence
# numbers. `_sys_deleted` rows are tombstones — invisible to read_logical,
# kept so a late lower-LSN event can never resurrect a deleted key.
SYSTEM_COLS: dict[str, T.DataType] = {
    "_sys_lsn": T.LongType(),
    "_sys_cts": T.TimestampType(),
    "_sys_sf": T.StringType(),
    "_sys_so": T.LongType(),
    "_sys_deleted": T.BooleanType(),
    # winning event's raw after-image, kept ONLY where the typed columns
    # lose part of it (a field not yet in the schema, a type mismatch,
    # malformed JSON); NULL when the typed columns hold the whole image.
    # Lets an add/rename schema event backfill fields that arrived (out of
    # order) before the schema event itself — see
    # operators/schema_events.py::reextract_payloads. Iceberg exports
    # carry the column as stored, NULLs included.
    "_sys_raw": T.StringType(),
}

# data-file codec unless the table sets "write.compression": zstd files of
# the CDC tail are ~20% smaller than snappy's at the same partitioning
DEFAULT_COMPRESSION = "zstd"


_ORDER_COLS = ["_sys_lsn", "_sys_cts", "_sys_sf", "_sys_so"]


def _rebuilt_raw(tschema: TableSchema, dropped: list) -> F.Column:
    """``_sys_raw`` over a PHYSICAL scan that also reads the tombstoned
    columns (``dropped``, newest field id first): a row stored without an
    image (NULL — its typed columns held all of it) that still carries a
    dropped value gets its image back as JSON of its live and dropped
    columns, under their names; a name that is both live and dropped
    takes the live value when present. Rewrites write live columns only,
    so this image is what carries a dropped value through a rewrite to a
    later re-add + ``reextract_payloads``."""
    by_name: dict[str, list[F.Column]] = {}
    for c in tschema.live_columns + dropped:
        by_name.setdefault(c.name, []).append(F.col(c.physical_name))
    image = F.to_json(
        F.struct(*[F.coalesce(*cs).alias(n) for n, cs in by_name.items()]),
        # to_json's default timestamp pattern stops at milliseconds
        {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
    )
    has_dropped = F.lit(False)
    for c in dropped:
        has_dropped = has_dropped | F.col(c.physical_name).isNotNull()
    raw = F.col("_sys_raw")
    return F.when(raw.isNull() & has_dropped, image).otherwise(raw)


def order_struct(prefix: str = "") -> F.Column:
    """Comparable LWW order struct from the system columns (null-floored).
    THE tie-break everywhere: merge strategies, delta reconciliation."""
    floors = {
        "_sys_lsn": F.lit(-(2**62)).cast("long"),
        "_sys_cts": F.to_timestamp(F.lit("1900-01-01 00:00:00")),
        "_sys_sf": F.lit(""),
        "_sys_so": F.lit(-(2**62)).cast("long"),
    }
    return F.struct(
        *[F.coalesce(F.col(prefix + c), floors[c]).alias(c) for c in _ORDER_COLS]
    )


class _LazyFiles:
    """Iterable view of a snapshot's data-file entries that loads
    per-bucket manifests ON DEMAND instead of eagerly parsing every
    manifest at snapshot access. Three access tiers:

    - metadata only (``entries`` / ``n_files``): reads the
      manifest-LIST alone — O(occupied buckets), never a file entry;
    - bucket-pruned (``for_buckets``): parses only the selected buckets'
      manifests — a point ``lookup`` pays 1/B of the metadata, and the
      per-file key blooms of the other B-1 buckets never reach the
      driver;
    - full (iteration / len): materializes everything — maintenance ops
      that walk every file.

    Reference analog: lazy parse-on-access of a multi-image container —
    metadata is decoded when a view asks for it, not at stream open
    (/root/reference/src/code_stream.cpp:201 ensureParsed)."""

    def __init__(self, table: "LakeTable", manifest_list: str | None):
        self._table = table
        self._ml = manifest_list
        self._entries: list[dict] | None = None
        self._by_bucket: dict[int, list[dict]] = {}
        self._all: list[dict] | None = None

    @property
    def entries(self) -> list[dict]:
        if self._entries is None:
            # tables created by older versions stored snapshot 1 (empty)
            # without a manifest-list
            self._entries = (
                self._table._load_manifest(
                    os.path.join(self._table._manifest_dir, self._ml)
                )
                if self._ml
                else []
            )
        return self._entries

    @property
    def n_files(self) -> int:
        return sum(int(e.get("n_files", 0)) for e in self.entries)

    def manifest_path(self, entry: dict) -> str:
        return os.path.join(self._table._manifest_dir, entry["manifest"])

    def _bucket_files(self, entry: dict) -> list[dict]:
        got = self._by_bucket.get(entry["bucket"])
        if got is None:
            got = [
                {**f, "path": os.path.join(self._table.path, f["path"])}
                for f in self._table._load_manifest(self.manifest_path(entry))
            ]
            self._by_bucket[entry["bucket"]] = got
        return got

    def loaded(self, bucket: int) -> list[dict] | None:
        """The bucket's file entries if they were already parsed, else None."""
        return self._by_bucket.get(bucket)

    def for_buckets(self, bset: set[int]) -> list[dict]:
        return [
            f
            for e in self.entries
            if e["bucket"] in bset
            for f in self._bucket_files(e)
        ]

    def _materialize(self) -> list[dict]:
        if self._all is None:
            self._all = [f for e in self.entries for f in self._bucket_files(e)]
        return self._all

    def __iter__(self):
        return iter(self._materialize())

    def __len__(self) -> int:
        return len(self._materialize())


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # "append" | "merge" | "overwrite" | "create" | "schema" | "delta"
    # [{"path": str, "bucket": int, "rows": int[, "kind": "delta"]}], loaded
    # lazily through the manifest-list — see LakeTable._write_manifests
    files: _LazyFiles
    summary: dict = field(default_factory=dict)
    tag: dict | None = None  # {"source_id": str, "batch_id": int}
    schema_version: int = 0
    manifest_list: str | None = None  # name under metadata/manifests/


def _stat_micros(dt) -> int:
    """datetime → epoch micros, exactly (no float seconds round-trip).
    Naive values are UTC — the engine writes with a UTC session TZ."""
    import datetime as _dt

    if dt.tzinfo is not None:
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (dt - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)


def _footer_key_stats(md, key_phys: list[str]) -> dict[str, list]:
    """Per-file [min, max] for each named column, folded over the parquet
    footer's row-group statistics. Only JSON-stable value types are
    recorded — str and int directly, datetime as epoch-micros ints
    (``_stat_micros``; pruning canonicalizes query bounds the same way).
    Anything else (floats, truncated/absent stats) yields no entry for
    that column, which pruning treats as 'may contain anything'
    (conservative, never wrong)."""
    stats: dict[str, list] = {}
    if not key_phys or md.num_row_groups == 0:
        return stats
    rg0 = md.row_group(0)
    names = [rg0.column(j).path_in_schema for j in range(rg0.num_columns)]
    for phys in key_phys:
        if phys not in names:
            continue
        j = names.index(phys)
        lo = hi = None
        ok = True
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            if lo is None or st.min < lo:
                lo = st.min
            if hi is None or st.max > hi:
                hi = st.max
        if not ok:
            continue
        import datetime as _dt

        if isinstance(lo, _dt.datetime) and isinstance(hi, _dt.datetime):
            stats[phys] = [_stat_micros(lo), _stat_micros(hi)]
        elif (
            isinstance(lo, (str, int))
            and isinstance(hi, (str, int))
            and not isinstance(lo, bool)
        ):
            stats[phys] = [lo, hi]
    return stats


# ---- per-file key Bloom filters ------------------------------------------
# Min/max ranges skip files in a KEY-SORTED bucket, but they are useless
# for merge-on-read DELTA layers: every trickle batch spans the whole
# keyspace, so each layer's range covers everything and a point lookup
# reads every layer. A small Bloom filter over the canonical key string,
# recorded per file for low-row-count files only (delta layers are small
# by definition; big CoW files skip it — their sorted ranges already
# prune), lets `lookup` skip layers that cannot contain the key. False
# positives merely read one extra file; false negatives are impossible.
# Parquet's per-column bloom_filter properties make the same trade at
# row-group granularity; recording it in the manifest prunes BEFORE any
# file I/O happens.

_BLOOM_BITS_PER_KEY = 10  # ~1% FPR with k=7
_BLOOM_K = 7
_BLOOM_MAX_ROWS = 50_000  # above this, sorted ranges are the right tool
# a bloom FALSE NEGATIVE loses rows, so writer and lookup must stringify
# key values identically — only types with one canonical text form
# participate (timestamp/float reprs differ between parquet-read values
# and caller values)
_BLOOM_TYPES = {"string", "int", "integer", "bigint", "smallint", "tinyint", "long"}

# Above this many candidate file entries (post manifest-list bucket
# pruning), read() stops materializing manifests driver-side and runs
# stat pruning as a Spark plan over the manifest files themselves —
# the driver collects only the slim post-prune (path, bucket, kind)
# scan handoff. Override per table: "read.distributed-manifest-threshold".
DISTRIBUTED_MANIFEST_THRESHOLD = 10_000


def _bloom_positions(key: str, m: int) -> list[int]:
    import hashlib

    d = hashlib.md5(key.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def bloom_build(keys, n_keys: int) -> dict:
    """{"m": bits, "b64": bitarray} over canonical key strings."""
    import base64

    m = max(n_keys * _BLOOM_BITS_PER_KEY, 64)
    bits = bytearray((m + 7) // 8)
    for key in keys:
        for pos in _bloom_positions(key, m):
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "b64": base64.b64encode(bytes(bits)).decode()}


def bloom_might_contain(bloom: dict, key: str) -> bool:
    import base64

    m = int(bloom["m"])
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7)) for pos in _bloom_positions(key, m)
    )


def canonical_key(values) -> str:
    """THE key canonicalization shared by the bloom writer (parquet
    values) and lookup (caller values) — both sides must stringify
    identically, in key-column order."""
    return "\x1f".join("\x00" if v is None else str(v) for v in values)


def prune_files_by_key(
    files: list[dict], key_phys_vals: dict, key_string: str | None = None
) -> list[dict]:
    """Manifest-level FILE skipping inside a bucket: keep only files whose
    recorded key ranges — and, when present, key Bloom filter — may
    contain the given key values. Files without stats/bloom (legacy
    manifests, non-recordable types, large files) always survive."""
    out = []
    for f in files:
        st = f.get("stats") or {}
        keep = True
        for col, v in key_phys_vals.items():
            rng = st.get(col)
            if rng is None or v is None:
                continue
            lo, hi = rng
            try:
                if v < lo or v > hi:
                    keep = False
                    break
            except TypeError:  # cross-type compare (schema drift) — keep
                continue
        if keep and key_string is not None and f.get("bloom"):
            keep = bloom_might_contain(f["bloom"], key_string)
        if keep:
            out.append(f)
    return out


def prune_files_by_range(files: list[dict], phys_ranges: dict) -> list[dict]:
    """Manifest-level FILE skipping for range predicates: keep only files
    whose recorded [min, max] for every constrained column OVERLAPS the
    queried [lo, hi] (either bound may be None = unbounded). Files
    without stats for a column always survive (legacy manifests,
    non-recordable types). Bounds must already be canonicalized to the
    stats' stored form (epoch micros for timestamp columns)."""
    out = []
    for f in files:
        st = f.get("stats") or {}
        keep = True
        for col, (lo, hi) in phys_ranges.items():
            rng = st.get(col)
            if rng is None:
                continue
            fmin, fmax = rng
            try:
                if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                    keep = False
                    break
            except TypeError:  # cross-type compare (schema drift) — keep
                continue
        if keep:
            out.append(f)
    return out


class ConcurrentModification(RuntimeError):
    """A racing writer changed data this commit was computed from.

    Raised (instead of blind retry) when a replace_buckets retry finds the
    touched buckets' file sets differ from what the merge read: the merged
    output is stale and committing it would drop the winner's rows. The
    caller must re-run the merge against the new snapshot — Iceberg's
    serializable-isolation validation, not just optimistic versioning."""


def _swap_buckets(
    snap: "Snapshot", bset: set[int], assumed: set[str], new_files: list[dict], since: str
) -> list[dict]:
    """``snap``'s files with buckets ``bset`` swapped for ``new_files``.
    Untouched buckets a racing writer committed carry over; if the racer
    touched OUR buckets (their files are no longer ``assumed``), the new
    files are stale — abort instead of clobbering its rows."""
    current = {f["path"] for f in snap.files.for_buckets(bset)}
    if current != assumed:
        raise ConcurrentModification(
            f"buckets {sorted(bset)} changed since {since} "
            f"({len(assumed)} -> {len(current)} files); re-run the merge"
        )
    return [f for f in snap.files if f["bucket"] not in bset] + new_files


def _unstage(staged_id: str):
    """Metadata mutation: drop staged changeset ``staged_id``'s entry."""

    def mutate(meta: dict) -> None:
        meta["staged"] = [
            x for x in meta.get("staged", []) if x["staged_id"] != staged_id
        ]

    return mutate


class LakeTable:
    """A transactional, bucket-partitioned, schema-evolving parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta: dict[str, Any] | None = None
        self._store = VersionedFileStore(
            self._metadata_dir, "v{:08d}.metadata.json", "version-hint.text"
        )
        # manifest/manifest-list files are immutable + content-addressed →
        # safe to cache across refreshes for the life of the handle
        self._manifest_cache: dict[str, list] = {}

    # ------------------------------------------------------------------ paths
    @property
    def _metadata_dir(self) -> str:
        return os.path.join(self.path, "metadata")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self._metadata_dir, "manifests")

    def _version_path(self, v: int) -> str:
        return self._store.path(v)

    # ------------------------------------------------------------ create/load
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        bucket_count: int = 16,
        properties: dict | None = None,
        bucket_cols: list[str] | None = None,
    ) -> "LakeTable":
        """``bucket_cols``: hash-bucket on a SUBSET of the key (Iceberg
        bucket-partition-on-any-column analog). Default = the full key.
        The use case is a secondary-index table whose uniqueness key is
        (term, doc) but whose access path is term-only: bucketing on
        ``term`` alone makes a term lookup a one-bucket read while the
        merge still upserts per (term, doc)."""
        if bucket_cols:
            extra = [c for c in bucket_cols if c not in key_cols]
            if extra:
                raise ValueError(
                    f"bucket_cols must be a subset of key_cols; got {extra}"
                )
        t = cls(spark, path)
        os.makedirs(t._metadata_dir, exist_ok=False)
        os.makedirs(t._data_dir, exist_ok=True)
        tschema = TableSchema.from_spark(schema)
        t._write_version(1, {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "location": t.path,
            "key_cols": key_cols,
            "bucket_cols": list(bucket_cols) if bucket_cols else list(key_cols),
            "bucket_count": bucket_count,
            "properties": properties or {},
            "schemas": [tschema.to_dict()],
            "current_schema_version": 0,
            "snapshots": [t._snapshot_entry(1, None, "create", [], {}, None, 0)],
            "current_snapshot_id": 1,
        })
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        t.refresh()
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", "version-hint.text"))

    def refresh(self) -> "LakeTable":
        self._meta = self._store.read()
        return self

    # ---------------------------------------------------------------- meta io
    def _write_version(self, v: int, meta: dict) -> None:
        """THE metadata write: commit ``meta`` as version ``v`` (raises
        CommitConflict if a racer took it)."""
        self._meta = self._store.write(v, meta)

    def _update_meta(self, mutate) -> dict | None:
        """Optimistic metadata update (see ``VersionedFileStore.update``):
        ``mutate`` edits a fresh copy of the refreshed metadata in place,
        and re-runs on the winner's metadata after a lost race; returning
        False writes nothing. Every metadata write of a table goes
        through here."""
        return self._store.update(
            mutate, lambda: self.refresh().meta, self._write_version
        )

    @property
    def meta(self) -> dict:
        if self._meta is None:
            self.refresh()
        return self._meta

    @property
    def key_cols(self) -> list[str]:
        return list(self.meta["key_cols"])

    @property
    def bucket_count(self) -> int:
        return int(self.meta["bucket_count"])

    @property
    def bucket_cols(self) -> list[str]:
        # pre-bucket_cols metadata (older tables) bucketed on the full key
        return list(self.meta.get("bucket_cols") or self.meta["key_cols"])

    @property
    def table_schema(self) -> TableSchema:
        v = self.meta["current_schema_version"]
        return TableSchema.from_dict(self.meta["schemas"][v])

    def schema(self) -> T.StructType:
        """Current logical Spark schema (no bucket column)."""
        return self.table_schema.to_spark()

    def current_snapshot(self) -> Snapshot:
        sid = self.meta["current_snapshot_id"]
        return self.snapshot(sid)

    def snapshot(self, snapshot_id: int) -> Snapshot:
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return self._entry_to_snapshot(s)
        raise KeyError(f"no snapshot {snapshot_id}")

    def _ancestry_ids(self, head_id: int | None = None) -> list[int]:
        """Snapshot ids on THIS handle's lineage, newest first — the
        parent chain from ``head_id`` (default: current head). With
        branch refs in play the shared snapshot list is a DAG, so
        anything lineage-scoped (time travel, retention, export) must
        walk parents instead of trusting list order (review-caught:
        branch commits at the list tail otherwise leak into main's
        time travel and evict main's own chain from retention)."""
        by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
        cur = (
            self.current_snapshot().snapshot_id if head_id is None else head_id
        )
        out: list[int] = []
        while cur is not None and cur in by_id:
            out.append(cur)
            cur = by_id[cur].get("parent_id")
        return out

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Latest snapshot ON THIS LINEAGE committed at or before
        ``timestamp_ms`` — Iceberg's TIMESTAMP AS OF time travel (U7
        parity). Unpublished branch commits never answer a main-table
        as-of read (and vice versa)."""
        lineage = set(self._ancestry_ids())
        best = None
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] not in lineage:
                continue
            if s["timestamp_ms"] <= timestamp_ms and (
                best is None or s["timestamp_ms"] >= best["timestamp_ms"]
            ):
                best = s
        if best is None:
            raise KeyError(f"no snapshot at or before {timestamp_ms}")
        return self._entry_to_snapshot(best)

    def create_view(self, name: str) -> None:
        """Register the CURRENT logical state as a temp view so plain
        ``spark.sql`` works against the table (snapshot-consistent: the
        view pins the file list resolved now; re-call after new commits)."""
        self.read_logical().createOrReplaceTempView(name)

    def history(self) -> list[Snapshot]:
        return [self._entry_to_snapshot(s) for s in self.meta["snapshots"]]

    # ---------------------------------------------- manifests (v2 metadata)
    # An Iceberg-style two-level indirection: metadata.json snapshot entries
    # hold ONE manifest-list path; the manifest-list holds one entry per
    # occupied bucket pointing at a per-bucket manifest file; manifests hold
    # the actual data-file lists. Manifests are content-addressed (sha1 of
    # the sorted file list), so a commit touching 3 of 4096 buckets writes
    # 3 new manifest files + 1 manifest-list and re-REFERENCES the other
    # 4093 — per-commit metadata I/O is O(touched buckets), not O(live
    # files), and metadata.json grows O(1) per snapshot. Round 1 embedded
    # the full live-file list in every snapshot entry: at 10^5 epochs x
    # 4096 buckets the per-commit JSON rewrite was the scale bottleneck.

    def _load_manifest(self, path: str) -> list:
        cached = self._manifest_cache.get(path)
        if cached is None:
            with open(path) as f:
                cached = json.load(f)
            self._manifest_cache[path] = cached
        return cached

    def _entry_to_snapshot(self, entry: dict) -> Snapshot:
        # LAZY: nothing is parsed until someone actually asks for file
        # entries, and bucket-pruned readers only parse their buckets'
        # manifests (_LazyFiles) — snapshot access itself is O(1).
        return Snapshot(**{**entry, "files": _LazyFiles(self, entry["manifest_list"])})

    def _snapshot_entry(
        self,
        snapshot_id: int,
        parent_id: int | None,
        operation: str,
        files: list[dict],
        summary: dict,
        tag: dict | None,
        schema_version: int,
        parent: Snapshot | None = None,
    ) -> dict:
        """A metadata.json snapshot entry. Its file list goes to manifests
        (``manifest_list``) and never enters metadata.json."""
        return {
            "snapshot_id": snapshot_id,
            "parent_id": parent_id,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "summary": summary,
            "tag": tag,
            "schema_version": schema_version,
            "manifest_list": self._write_manifests(snapshot_id, files, parent),
        }

    def _write_immutable(self, path: str, text: str) -> None:
        if os.path.exists(path):
            return
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def _write_manifests(
        self, snapshot_id: int, files: list[dict], parent: Snapshot | None
    ) -> str:
        """Persist `files` as per-bucket content-addressed manifests + one
        manifest-list; return the manifest-list NAME (paths inside
        manifests/MLs are stored relative — to the table root and the
        manifest dir respectively — keeping entries small and the table
        relocatable). A bucket whose file list is the one ``parent``
        already loaded (a commit carrying the bucket over) reuses the
        parent's manifest-list entry without serializing it, so a commit
        serializes only the buckets it changed; other unchanged buckets
        hash to their existing manifest file and skip the write. The
        manifest cache is primed with what was written, so reading the
        new snapshot back parses nothing."""
        import hashlib

        os.makedirs(self._manifest_dir, exist_ok=True)
        by_bucket: dict[int, list[dict]] = {}
        for f in files:
            by_bucket.setdefault(f["bucket"], []).append(f)
        parent_entries = (
            {e["bucket"]: e for e in parent.files.entries} if parent else {}
        )
        entries = []
        for b in sorted(by_bucket):
            prev = parent_entries.get(b)
            if prev is not None and by_bucket[b] == parent.files.loaded(b):
                entries.append(prev)
                continue
            flist = sorted(
                (
                    {**f, "path": os.path.relpath(f["path"], self.path)}
                    for f in by_bucket[b]
                ),
                key=lambda f: f["path"],
            )
            content = json.dumps(flist, sort_keys=True, default=str)
            h = hashlib.sha1(content.encode()).hexdigest()[:16]
            mname = f"m-{h}.json"
            mpath = os.path.join(self._manifest_dir, mname)
            self._write_immutable(mpath, content)
            if mpath not in self._manifest_cache:
                # as a reader loads it (default=str stringifies, tuples
                # become lists)
                self._manifest_cache[mpath] = json.loads(content)
            entries.append({"bucket": b, "manifest": mname, "n_files": len(flist)})
        ml_name = f"ml-{snapshot_id:08d}-{uuid.uuid4().hex[:8]}.json"
        ml_path = os.path.join(self._manifest_dir, ml_name)
        self._write_immutable(ml_path, json.dumps(entries))
        self._manifest_cache[ml_path] = entries
        return ml_name

    # --------------------------------------------------------------- tags
    def has_commit_tag(self, source_id: str, batch_id: int) -> bool:
        """Exactly-once check: has (source_id, batch_id) already committed?

        Reference analog: once-only status latch
        (/root/reference/src/processing_results.cpp:30-48).
        """
        # tags outlive their snapshots: expiry compacts them into
        # expired_tags so a very late replay of an ancient batch stays a no-op
        return self.snapshot_for_tag(source_id, batch_id) is not None or [
            source_id, batch_id,
        ] in self.meta.get("expired_tags", [])

    def snapshot_for_tag(self, source_id: str, batch_id: int) -> Snapshot | None:
        for s in self.meta["snapshots"]:
            tag = s.get("tag")
            if tag and tag.get("source_id") == source_id and tag.get("batch_id") == batch_id:
                return self._entry_to_snapshot(s)
        return None

    # --------------------------------------------------------------- buckets
    def bucket_expr(self, df: DataFrame, count: int | None = None) -> F.Column:
        """bucket = pmod(xxhash64(key...), B) — Iceberg-style bucket
        transform. THE single definition: every producer (with_bucket,
        lookup's one-row probe, rebucket's rewrite) must come through
        here — a forked copy that drifts would silently read/write the
        wrong bucket."""
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.bucket_cols]),
            F.lit(count or self.bucket_count),
        ).cast("int")

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(BUCKET_COL, self.bucket_expr(df))

    # ------------------------------------------------------------------ read
    def _prune_distributed(
        self,
        lazy: _LazyFiles,
        bset: set[int] | None,
        key_phys_vals: dict | None,
        phys_ranges: dict | None,
    ) -> list[dict]:
        """Metadata-scaling tier: stat pruning as a SPARK PLAN over the
        manifest files. The driver touches only the manifest-list
        (O(occupied buckets)) and the slim post-prune (path, bucket, kind)
        scan handoff — never the full per-file entry list, and the
        per-file key blooms never leave the executors (they are simply
        not in the read schema; range/key stats subsume most of their
        benefit at this tier, and a bloom miss costs I/O, not
        correctness). Semantics mirror prune_files_by_key /
        prune_files_by_range exactly, including the survive-on-missing-
        stats and survive-on-type-drift rules (a failed cast yields NULL
        → the keep condition coalesces to true) and the delta-bucket
        range-pruning exclusion.

        Reference analog: streaming zero-copy metadata access — scan the
        index without materializing it (/root/reference/src/
        mmaped_file_io_stream.cpp)."""
        entries = [
            e for e in lazy.entries if bset is None or e["bucket"] in bset
        ]
        if not entries:
            return []
        paths = [lazy.manifest_path(e) for e in entries]
        mschema = T.ArrayType(
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("bucket", T.IntegerType()),
                    T.StructField("kind", T.StringType()),
                    T.StructField(
                        "stats", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
                    ),
                ]
            )
        )
        # each manifest is one single-line JSON array → one text row.
        # Persisted: the delta-bucket probe below and the pruned collect
        # are two actions — without the cache every range-filtered read
        # at this tier would scan + JSON-parse every candidate manifest
        # twice (review-caught).
        rows = (
            self.spark.read.text(paths)
            .select(F.explode(F.from_json(F.col("value"), mschema)).alias("f"))
            .select("f.*")
        )
        from pyspark import StorageLevel

        persisted = phys_ranges is not None and bool(phys_ranges)
        if persisted:
            rows = rows.persist(StorageLevel.MEMORY_AND_DISK)

        def bounds(col: str, sample):
            arr = F.col("stats").getItem(col)
            lo, hi = F.element_at(arr, 1), F.element_at(arr, 2)
            if isinstance(sample, bool):
                return None, None, None
            if isinstance(sample, int):
                return arr, lo.cast("long"), hi.cast("long")
            if isinstance(sample, str):
                return arr, lo, hi
            return None, None, None  # non-recordable type: never prune on it

        keep = F.lit(True)
        for col, v in (key_phys_vals or {}).items():
            if v is None:
                continue
            arr, lo, hi = bounds(col, v)
            if arr is None:
                continue
            lit = F.lit(v)
            keep = keep & (
                arr.isNull()
                | lo.isNull()
                | hi.isNull()
                | ((lit >= lo) & (lit <= hi))
            )
        if phys_ranges:
            # files of delta-carrying buckets are exempt from RANGE pruning
            # (same rule as the driver path: an out-of-range delta layer can
            # supersede an in-range base row)
            dirty = [
                r["bucket"]
                for r in rows.where(F.col("kind") == "delta")
                .select("bucket")
                .distinct()
                .collect()
            ]
            rc = F.lit(True)
            for col, (qlo, qhi) in phys_ranges.items():
                sample = qlo if qlo is not None else qhi
                if sample is None:
                    continue
                arr, fmin, fmax = bounds(col, sample)
                if arr is None:
                    continue
                cond = F.lit(True)
                if qhi is not None:
                    cond = cond & (fmin <= F.lit(qhi))
                if qlo is not None:
                    cond = cond & (fmax >= F.lit(qlo))
                rc = rc & (arr.isNull() | fmin.isNull() | fmax.isNull() | cond)
            keep = keep & (F.col("bucket").isin(dirty) | rc) if dirty else keep & rc
        slim = rows.where(keep).select("path", "bucket", "kind").collect()
        if persisted:
            rows.unpersist()
        return [
            {
                "path": os.path.join(self.path, r["path"]),
                "bucket": int(r["bucket"]),
                **({"kind": r["kind"]} if r["kind"] else {}),
            }
            for r in slim
        ]

    def _scan_files(
        self, tschema: TableSchema, paths: list[str], with_sys: bool
    ) -> DataFrame:
        """Data files → logical columns + bucket (+ system columns). With
        system columns, tombstoned columns are read too, to rebuild the
        images of rows that still hold dropped values (see _rebuilt_raw)."""
        phys = tschema.to_spark_physical().add(BUCKET_COL, T.IntegerType())
        extra = [BUCKET_COL]
        dropped = []
        if with_sys:
            for name, dtype in SYSTEM_COLS.items():
                phys = phys.add(name, dtype)
            extra += list(SYSTEM_COLS)
            dropped = sorted(
                (c for c in tschema.columns if c.dropped), key=lambda c: -c.field_id
            )
            for c in dropped:
                phys = phys.add(c.physical_name, c.logical_type())
        if not paths:
            out = self.spark.createDataFrame([], phys)
        else:
            out = self.spark.read.schema(phys).parquet(*paths)
        if dropped:
            out = out.withColumn("_sys_raw", _rebuilt_raw(tschema, dropped))
        return tschema.project_physical_to_logical(out, extra_cols=extra)

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        with_system: bool = False,
        schema_version: int | None = None,
        key_equals: dict | None = None,
        range_filters: dict | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read the table (optionally time-travel / bucket-pruned).

        Bucket pruning is manifest-level: only the matching files are ever
        handed to the parquet scan. Old files written before an added
        column simply lack it; passing the table's explicit read schema
        makes the parquet reader null-fill, which implements add-column
        without rewriting data. Renames read the physical name and project
        to the logical one (field-id style mapping, see schema.py).

        ``schema_version`` overrides the projection schema — a snapshot-diff
        spanning a schema change reads BOTH snapshots under the newer
        schema so their columns line up (Iceberg/Delta CDC-read semantics);
        field ids are stable, so older files null-fill added columns and
        surface renamed ones under the new logical name.
        """
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either ref or snapshot_id, not both")
            snapshot_id = self.ref(ref)
        snap = self.current_snapshot() if snapshot_id is None else self.snapshot(snapshot_id)
        if schema_version is not None:
            tschema = TableSchema.from_dict(self.meta["schemas"][schema_version])
        else:
            tschema = (
                self.table_schema
                if snapshot_id is None
                else TableSchema.from_dict(self.meta["schemas"][snap.schema_version])
            )
        # ---- prune inputs (metadata only, no manifest parsing) ----
        bset = set(buckets) if buckets is not None else None
        phys_key_vals = None
        key_string = None
        if key_equals:
            # second pruning tier: manifest key ranges — and key blooms,
            # when the full key is given and its types are bloom-safe —
            # skip files WITHIN the bucket (see _footer_key_stats /
            # bloom_build). ``key_equals`` maps LOGICAL key-column names
            # to values; stats live under physical names.
            key_defs = [c for c in tschema.live_columns if c.name in key_equals]
            phys_key_vals = {c.physical_name: key_equals[c.name] for c in key_defs}
            # blooms apply only when key_equals IS exactly the key column
            # set (a stray non-key column would canonicalize the wrong
            # tuple and bloom-prune files that DO contain the key — a
            # silent false negative; review-caught)
            if {c.name for c in key_defs} == set(self.key_cols) and all(
                c.type_name in _BLOOM_TYPES for c in key_defs
            ):
                key_string = canonical_key([key_equals[c.name] for c in key_defs])
        range_cond = None
        phys_ranges = None
        if range_filters:
            # third pruning tier: per-file column ranges ("write.stat-cols"
            # manifests) vs [lo, hi] predicates. Pruning is restricted to
            # files of CLEAN (no-delta) buckets: a delta layer outside the
            # range can still hold the NEWER version of a key whose stale
            # in-range base row would otherwise win reconciliation —
            # pruning it would resurrect deleted/superseded rows. Clean-
            # bucket files hold final rows only, so dropping a file drops
            # only rows the exact post-filter below would discard anyway.
            import datetime as _dt

            by_name = {c.name: c for c in tschema.live_columns}
            unknown = [c for c in range_filters if c not in by_name]
            if unknown:
                raise ValueError(f"range_filters on unknown column(s) {unknown}")
            phys_ranges = {}
            for name, (lo, hi) in range_filters.items():
                canon = [
                    _stat_micros(v) if isinstance(v, _dt.datetime) else v
                    for v in (lo, hi)
                ]
                phys_ranges[by_name[name].physical_name] = tuple(canon)
                col = F.col(name)
                for bound, op in ((lo, col.__ge__), (hi, col.__le__)):
                    if bound is not None:
                        c = op(F.lit(bound))
                        range_cond = c if range_cond is None else (range_cond & c)

        # ---- file-entry selection: three metadata tiers ----
        # 1. bucket-pruned lazy load: only the probed buckets' manifests
        #    are parsed (a point lookup pays 1/B of the metadata);
        # 2. distributed prune: above the file-count threshold, stat
        #    pruning runs as a Spark plan over the manifests and the
        #    driver collects only the slim scan handoff;
        # 3. classic driver-side pruning loops for small tables.
        lazy = snap.files
        est = sum(
            int(e.get("n_files", 0))
            for e in lazy.entries
            if bset is None or e["bucket"] in bset
        )
        threshold = int(
            self.meta.get("properties", {}).get(
                "read.distributed-manifest-threshold",
                DISTRIBUTED_MANIFEST_THRESHOLD,
            )
        )
        if est > threshold:
            files = self._prune_distributed(lazy, bset, phys_key_vals, phys_ranges)
        else:
            files = lazy.for_buckets(bset) if bset is not None else lazy
            if phys_key_vals:
                files = prune_files_by_key(files, phys_key_vals, key_string)
            if phys_ranges:
                dirty_b = {f["bucket"] for f in files if f.get("kind") == "delta"}
                files = [
                    f for f in files if f["bucket"] in dirty_b
                ] + prune_files_by_range(
                    [f for f in files if f["bucket"] not in dirty_b], phys_ranges
                )

        def scan(fl: list[dict], with_sys: bool) -> DataFrame:
            return self._scan_files(tschema, [f["path"] for f in fl], with_sys)

        # Merge-on-read reconciliation: buckets carrying delta files get
        # base ∪ deltas resolved to one winner per key by the SAME order
        # comparator the merge strategies use (system cols are per-row
        # sequence numbers, so no layer bookkeeping is needed — a stale
        # base row simply loses). Clean buckets scan straight through
        # with NO shuffle; only dirty buckets pay the reconcile exchange.
        dirty = {f["bucket"] for f in files if f.get("kind") == "delta"}
        if not dirty:
            out = scan(files, with_system)
            return out if range_cond is None else out.where(range_cond)
        clean_df = scan([f for f in files if f["bucket"] not in dirty], with_system)
        dirty_df = scan([f for f in files if f["bucket"] in dirty], True)
        cols = dirty_df.columns
        recon = (
            dirty_df.groupBy(*self.key_cols)
            .agg(F.max_by(F.struct(*[F.col(c) for c in cols]), order_struct()).alias("_w"))
            .select(*[F.col(f"_w.{c}").alias(c) for c in cols])
        )
        if not with_system:
            recon = recon.drop(*SYSTEM_COLS)
        out = clean_df.unionByName(recon)
        # the exact predicate runs AFTER reconciliation — a pruning miss
        # (legacy stats, dirty buckets) costs I/O, never correctness
        return out if range_cond is None else out.where(range_cond)

    def read_logical(self, **kw) -> DataFrame:
        """User-facing read: tombstones filtered, system/bucket cols hidden."""
        df = self.read(with_system=True, **kw)
        df = df.where(~F.coalesce(F.col("_sys_deleted"), F.lit(False)))
        return df.drop(BUCKET_COL, *SYSTEM_COLS)

    def lookup(self, **key) -> DataFrame:
        """Point lookup by full primary key — the metadata-query fast path
        (reference analog: per-sample status/metadata query,
        /root/reference/include/nvimgcodec.h:1793-1811).

        Three pruning tiers: the key's bucket is computed ONCE (manifest-
        level pruning hands the scan only that bucket's files — 1/B of
        the table at B buckets); manifest per-file key ranges then skip
        files WITHIN the bucket (a compacted, key-sorted bucket split by
        maxRecordsPerFile has disjoint per-file ranges, so the point read
        touches ONE file, not one bucket); finally the key equality
        predicates push down into the parquet scan so row-group stats
        prune inside the surviving file. The bucket transform (xxhash64)
        is evaluated by a one-row Spark job rather than reimplemented in
        Python — a forked hash would silently read the wrong bucket.

        Delta-carrying buckets reconcile as usual; tombstoned keys return
        an empty frame.
        """
        missing = [k for k in self.key_cols if k not in key]
        unknown = [k for k in key if k not in self.key_cols]
        if missing or unknown:
            raise KeyError(
                f"lookup takes exactly the key columns {self.key_cols}; "
                f"missing={missing} unknown={unknown}"
            )
        key_schema = T.StructType(
            [f for f in self.schema().fields if f.name in self.key_cols]
        )
        row = self.spark.createDataFrame(
            [tuple(key[f.name] for f in key_schema.fields)], key_schema
        )
        b = row.select(self.bucket_expr(row).alias("b")).first()["b"]
        # key_equals is sound ONLY because every returned row is filtered
        # to exactly this key below — pruned files can't contain it, so
        # neither the winner nor its tombstone can be missed
        df = self.read_logical(buckets=[b], key_equals=dict(key))
        for k in self.key_cols:
            df = df.where(F.col(k).eqNullSafe(F.lit(key[k])))
        return df

    # ----------------------------------------------------------------- write
    def _write_data_files(
        self,
        df: DataFrame,
        snapshot_id: int,
        bucket_count: int | None = None,
        key_bloom: bool = False,
        zorder_by: list[str] | None = None,
        write_partitions: int | None = None,
    ) -> list[dict]:
        """Write df (must carry BUCKET_COL) partitioned by bucket; return manifest entries.

        One output dir per commit keeps snapshots immutable: old files are
        never touched, enabling time travel and safe concurrent readers.
        """
        out_dir = os.path.join(self._data_dir, f"snap-{snapshot_id:08d}-{uuid.uuid4().hex[:8]}")
        extra = [BUCKET_COL] + [c for c in SYSTEM_COLS if c in df.columns]
        phys = self.table_schema.project_logical_to_physical(df, extra_cols=extra)
        # Cluster rows by bucket before the dynamic-partition write: without
        # this every reducer task holds rows of MANY buckets and opens one
        # tiny parquet writer per bucket (tasks x buckets files — measured
        # 4x anti-scaling at 32 cores). One shuffle of the merged output
        # yields one well-formed file per bucket, which is also the layout
        # manifest-level pruning wants. maxRecordsPerFile caps file size at
        # production scale (Iceberg's write.target-file-size analog).
        codec = self.meta.get("properties", {}).get(
            "write.compression", DEFAULT_COMPRESSION
        )
        # write_partitions: callers that know how many DISTINCT buckets df
        # holds (replace_buckets/stage_buckets get touched_buckets) cap the
        # exchange there — repartition(N, col) with K distinct values fills
        # at most K partitions, so every partition past K is a guaranteed-
        # EMPTY task. A 50-row epoch touching 3 of 4096 buckets schedules
        # 3 write tasks, not 4096 (and small merges run with AQE off, so
        # nothing else would coalesce them).
        n_parts = bucket_count or self.bucket_count
        if write_partitions is not None:
            n_parts = max(1, min(n_parts, write_partitions))
        staged = phys.withColumn(_PART_DIR_COL, F.col(BUCKET_COL)).repartition(
            n_parts, F.col(_PART_DIR_COL)
        )
        # Key-clustered layout (default ON; table property
        # "write.sort-keys": False opts out): sorting by (partition col,
        # keys) makes parquet row-group min/max stats tight so point
        # lookups skip row groups inside a bucket's files. Measured cost:
        # ZERO — interleaved A/B on the 600k-row CoW apply (32 buckets,
        # wide _sys_raw rows) gives sort-ON 2.98s vs sort-OFF 3.20s
        # (min of 3, within noise), because the dynamic-partition write
        # sorts by the partition column ANYWAY (FileFormatWriter inserts
        # one) and extending that sort with the keys is shuffle-free.
        # (A naive sequential benchmark first suggested +60% — that was
        # machine-load variance; trust interleaved A/Bs on this box.)
        key_phys = [
            c.physical_name
            for c in self.table_schema.live_columns
            if c.name in self.key_cols
        ]
        build_blooms = (
            key_bloom
            and bool(key_phys)
            and all(
                c.type_name in _BLOOM_TYPES
                for c in self.table_schema.live_columns
                if c.name in self.key_cols
            )
            and self.meta.get("properties", {}).get("write.key-bloom", True)
        )
        zorder_phys: list[str] = []
        if zorder_by:
            # Z-order clustering (maintenance rewrites only — see
            # lakehouse/zorder.py): rows sort by the Morton interleave of
            # the clustered columns instead of the key sort, so the files
            # a bucket splits into get per-file min/max boxes selective
            # on EVERY clustered column; range_filters then prunes on any
            # of them, not just the leading sort key.
            from nvimagecodec_spark.lakehouse.zorder import zvalue_expr

            by_name = {c.name: c for c in self.table_schema.live_columns}
            missing = [c for c in zorder_by if c not in by_name]
            if missing:
                raise ValueError(f"zorder_by on unknown column(s) {missing}")
            zorder_phys = [by_name[c].physical_name for c in zorder_by]
            staged = staged.sortWithinPartitions(
                F.col(_PART_DIR_COL), zvalue_expr(staged, zorder_phys)
            )
        elif self.meta.get("properties", {}).get("write.sort-keys", True):
            staged = staged.sortWithinPartitions(_PART_DIR_COL, *key_phys)
        # "write.stat-cols": comma-separated LOGICAL column names whose
        # per-file [min,max] is recorded in the manifest alongside the key
        # ranges — the Iceberg column-stats tier that lets
        # read(range_filters=) skip files by predicate before any I/O.
        # Parquet statistics follow these pruning columns: only the key,
        # stat-cols and z-order columns carry footer min/max (and with it
        # a column-index entry), because no reader prunes by any other.
        # "write.max-records-per-file" caps file size so a bucket splits
        # into several stat-disjoint files (default 5M rows).
        props = self.meta.get("properties", {})
        stat_logical = [
            s for s in props.get("write.stat-cols", "").split(",") if s
        ]
        stat_phys = [
            c.physical_name
            for c in self.table_schema.live_columns
            if c.name in stat_logical and c.physical_name not in key_phys
        ]
        # z-ordered rewrites record stats for the clustered columns even
        # when the table property doesn't list them — the layout exists
        # FOR those per-file ranges
        stat_phys += [
            p for p in zorder_phys if p not in stat_phys and p not in key_phys
        ]
        max_rows_per_file = int(props.get("write.max-records-per-file", 5_000_000))
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which carries NO footer min/max statistics — timestamp
        # stat-cols would silently record nothing. TIMESTAMP_MICROS is
        # the modern annotated int64 every reader (and DuckDB) handles.
        self.spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        no_stats = {
            f"parquet.column.statistics.enabled#{c}": "false"
            for c in phys.columns
            if c not in key_phys and c not in stat_phys
        }
        (
            staged.write.partitionBy(_PART_DIR_COL)
            .option("maxRecordsPerFile", max_rows_per_file)
            .options(**no_stats)
            .parquet(out_dir, compression=codec)
        )
        import pyarrow.parquet as pq

        targets: list[tuple[int, str]] = []
        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith(f"{_PART_DIR_COL}="):
                continue
            bucket = int(entry.split("=", 1)[1])
            bdir = os.path.join(out_dir, entry)
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    targets.append((bucket, os.path.join(bdir, fn)))

        def stat_one(t: tuple[int, str]) -> dict:
            bucket, p = t
            # real row counts + per-file key min/max from the footer
            # (one metadata read per file at commit time): manifests
            # carry per-bucket row stats (adaptive CoW-vs-MoR) and
            # key ranges (point-lookup FILE skipping inside a
            # bucket). The key-sorted layout (default on) makes the
            # ranges tight, and a compacted bucket split by
            # maxRecordsPerFile gets DISJOINT per-file ranges — a
            # point lookup then reads one file, not one bucket.
            # Iceberg manifests record the same (ROI/partial-read
            # analog, /root/reference/include/nvimgcodec.h:564-574).
            md = pq.ParquetFile(p).metadata
            fentry = {"path": p, "bucket": bucket, "rows": md.num_rows}
            stats = _footer_key_stats(md, key_phys + stat_phys)
            if stats:
                fentry["stats"] = stats
            # key Bloom for SMALL files (delta layers): min/max
            # ranges can't skip layers that each span the whole
            # keyspace. One column read of the just-written (page-
            # cache-hot) file; large files skip — their sorted
            # ranges already prune, and their blooms would bloat
            # the manifests. write.key-bloom: False opts out.
            # only DELTA commits request blooms (key_bloom=True):
            # CoW files in a key-sorted bucket already prune by
            # range, and reading every bulk file's key columns
            # back at commit time would tax the hot path for
            # nothing
            if build_blooms and 0 < md.num_rows <= _BLOOM_MAX_ROWS:
                tbl = pq.read_table(p, columns=key_phys)
                cols = [tbl.column(c).to_pylist() for c in key_phys]
                fentry["bloom"] = bloom_build(
                    (canonical_key(vals) for vals in zip(*cols)),
                    md.num_rows,
                )
            return fentry

        # pyarrow footer reads release the GIL — a thread pool keeps a
        # large backfill's commit from being driver-serial over 10^3+
        # files (order preserved by map; small commits stay in-line)
        if len(targets) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(targets))) as ex:
                return list(ex.map(stat_one, targets))
        return [stat_one(t) for t in targets]

    def _commit(
        self,
        operation: str,
        files,  # list[dict] | Callable[[Snapshot], list[dict]]
        summary: dict,
        tag: dict | None = None,
        mutate=None,
    ) -> Snapshot:
        """Optimistic snapshot commit: one ``_update_meta`` that appends a
        snapshot on top of the head as REFRESHED for each attempt. ``files``
        may be a CALLABLE that recomputes the file list against that head —
        required for correctness under concurrent writers: a retry that
        reused a file list computed against a stale base would silently
        drop the files a racing writer just committed (Iceberg's
        reapply-on-refreshed-base retry semantics). ``mutate`` edits the
        same refreshed metadata before the snapshot is built (schema
        pointer, bucket count, staged entries), so what it derives from
        the metadata is never stale either."""
        new_id = 0

        def attempt(meta: dict) -> None:
            nonlocal new_id
            head = self.current_snapshot()
            snap_files = files(head) if callable(files) else files
            if mutate is not None:
                mutate(meta)
            # GLOBALLY unique id, not parent+1: branch commits append to
            # the same snapshot list, so a main commit after a branch
            # commit would otherwise mint the branch's id again
            new_id = max(x["snapshot_id"] for x in meta["snapshots"]) + 1
            meta["snapshots"] = meta["snapshots"] + [
                self._snapshot_entry(
                    new_id, head.snapshot_id, operation, snap_files, summary,
                    tag, meta["current_schema_version"], parent=head,
                )
            ]
            self._advance_head(meta, new_id)

        self._update_meta(attempt)
        return self.snapshot(new_id)

    def _advance_head(self, meta: dict, snapshot_id: int) -> None:
        meta["current_snapshot_id"] = snapshot_id

    def _bucket_layout_guard(self, expected_bc: int) -> None:
        """Raise if the bucket layout changed since ``expected_bc`` was
        captured. Every write whose BUCKET_COL was computed under an
        entry-time layout must call this from its commit's files_fn
        (_commit refreshes before each attempt, so the check sees the
        winning layout): a rebucket() landing concurrently would otherwise
        commit files whose bucket ids follow the OLD transform while
        metadata says the new count — bucket-pruned reads (lookup, merge's
        touched-bucket scan) would silently miss those keys."""
        if self.bucket_count != expected_bc:
            raise ConcurrentModification(
                f"bucket layout changed ({expected_bc} -> {self.bucket_count}) "
                "since this batch computed its buckets; re-run the write"
            )

    def append(self, df: DataFrame, tag: dict | None = None) -> Snapshot:
        """Append rows (no key resolution). Fast path for initial loads."""
        self.refresh()
        expected_bc = self.bucket_count
        df = self.with_bucket(df) if BUCKET_COL not in df.columns else df
        next_id = self.current_snapshot().snapshot_id + 1
        new_files = self._write_data_files(df, next_id)

        # callable: on a retry after losing a commit race, re-base on the
        # WINNER's file list so its files are never dropped
        def files_fn(snap: Snapshot) -> list[dict]:
            self._bucket_layout_guard(expected_bc)
            return list(snap.files) + new_files

        return self._commit(
            "append", files_fn, {"appended_files": len(new_files)}, tag=tag
        )

    def overwrite(self, df: DataFrame, tag: dict | None = None) -> Snapshot:
        self.refresh()
        expected_bc = self.bucket_count
        df = self.with_bucket(df) if BUCKET_COL not in df.columns else df
        next_id = self.current_snapshot().snapshot_id + 1
        new_files = self._write_data_files(df, next_id)

        def files_fn(snap: Snapshot) -> list[dict]:
            self._bucket_layout_guard(expected_bc)
            return new_files

        return self._commit("overwrite", files_fn, {"files": len(new_files)}, tag=tag)

    def replace_buckets(
        self,
        touched_buckets: list[int],
        df: DataFrame,
        tag: dict | None = None,
        summary: dict | None = None,
        assumed_files: set[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> Snapshot:
        """Copy-on-write commit: swap out all files of `touched_buckets` for
        the new data files. The merge operator builds `df` = new content of
        exactly those buckets. Untouched buckets carry over by reference.

        ``assumed_files`` is the file set the caller's READ actually
        pinned for the touched buckets — pass it whenever `df` was built
        from a scan taken before calling here. Without it, the validation
        base is captured at entry, which leaves a window: a commit landing
        between the caller's scan and this call would be included in the
        baseline and silently swapped out (review-caught lost update).
        """
        self.refresh()
        next_id = self.current_snapshot().snapshot_id + 1
        new_files = self._write_data_files(
            df, next_id, zorder_by=zorder_by,
            write_partitions=max(1, len(set(touched_buckets))),
        )
        bset = set(touched_buckets)
        extra = sorted({f["bucket"] for f in new_files} - bset)
        if extra:
            raise ValueError(f"merge wrote to undeclared buckets {extra}")
        s = {"touched_bucket_count": len(bset), "new_files": len(new_files)}
        s.update(summary or {})
        # what the merge read for the touched buckets — the validation base
        if assumed_files is not None:
            assumed = set(assumed_files)
        else:
            assumed = {
                f["path"] for f in self.current_snapshot().files.for_buckets(bset)
            }

        def files_fn(snap: Snapshot) -> list[dict]:
            return _swap_buckets(snap, bset, assumed, new_files, "merge read")

        return self._commit("merge", files_fn, s, tag=tag)

    def rollback(self, snapshot_id: int, tag: dict | None = None) -> Snapshot:
        """Restore the table to ``snapshot_id``'s state with a NEW commit.

        Metadata-only (Iceberg ``rollback_to_snapshot`` semantics): the
        target's data files are re-referenced, never rewritten, so the
        cost is one manifest-list write regardless of table size. History
        is preserved — the rolled-back-over snapshots stay time-travelable
        until retention reaps them, and ``read_changes(bad_head,
        rollback_snap)`` shows consumers the restore as ordinary change
        events (the undo is itself CDC). The schema pointer returns to the
        target's version; later schema events evolve from there (stable
        field ids keep every file readable either way).

        Refused across a ``rebucket``: the target's file bucket ids follow
        the OLD bucket transform — re-referencing them under the new
        layout would silently break bucket-pruned reads. Re-run
        ``rebucket`` afterwards instead.
        """
        self.refresh()
        target = self.snapshot(snapshot_id)  # raises if expired/unknown
        if self.current_snapshot().snapshot_id == snapshot_id:
            return self.current_snapshot()  # already there — no-op

        def files_fn(cur: Snapshot) -> list[dict]:
            for s in self.history():
                if (
                    target.snapshot_id < s.snapshot_id <= cur.snapshot_id
                    and s.operation == "rebucket"
                ):
                    raise ValueError(
                        f"cannot roll back across rebucket snapshot "
                        f"{s.snapshot_id}: the target's files follow the "
                        f"old bucket layout"
                    )
            return list(target.files)

        def mutate(meta: dict) -> None:
            meta["current_schema_version"] = target.schema_version

        return self._commit(
            "rollback", files_fn, {"rollback_to": snapshot_id}, tag=tag, mutate=mutate
        )

    # ------------------------------------------------------- named refs/tags
    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Name a snapshot (Iceberg tag analog): ``read(ref=name)`` time-
        travels to it, and ``expire_snapshots`` NEVER drops a tagged
        snapshot — the audit/rollback anchor retention cannot erode.
        Defaults to the current head; returns the tagged id."""
        self.refresh()
        sid = self.current_snapshot().snapshot_id if snapshot_id is None else snapshot_id
        self.snapshot(sid)  # raises if unknown/already expired

        def mutate(meta: dict) -> None:
            refs = dict(meta.get("refs", {}))
            refs[name] = sid
            meta["refs"] = refs

        self._update_meta(mutate)
        return sid

    def drop_tag(self, name: str) -> None:
        if name not in self.meta.get("refs", {}):
            raise KeyError(f"no ref {name!r}")

        def mutate(meta: dict) -> None:
            refs = dict(meta.get("refs", {}))
            refs.pop(name, None)
            meta["refs"] = refs

        self._update_meta(mutate)

    def refs(self) -> dict[str, int]:
        return dict(self.meta.get("refs", {}))

    # -------------------------------------------------- branches (WAP v2)
    # Iceberg branch refs: a named, independently-advancing commit chain
    # over the same table. Unlike a staged changeset (single-commit WAP),
    # a branch carries a MULTI-COMMIT audit chain — stage several epochs,
    # validate the branch state, then fast_forward main in one atomic
    # pointer move. Branch snapshots live in the same snapshot list
    # (globally unique ids, linked by parent_id); main's pointer never
    # moves until fast_forward. Reference analog: work staged on a side
    # surface and adopted wholesale on completion
    # (/root/reference/src/image_generic_codec.h batched submit-then-
    # publish flow).

    def branches(self) -> dict[str, int]:
        return dict(self.meta.get("branches", {}))

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Create branch ``name`` at ``snapshot_id`` (default: current
        head). Branch and tag namespaces are separate."""
        self.refresh()
        sid = (
            self.current_snapshot().snapshot_id
            if snapshot_id is None
            else snapshot_id
        )
        self.snapshot(sid)  # raises if unknown/expired

        def mutate(meta: dict) -> None:
            br = dict(meta.get("branches", {}))
            if name in br:
                raise ValueError(f"branch {name!r} already exists")
            br[name] = sid
            meta["branches"] = br

        self._update_meta(mutate)
        return sid

    def drop_branch(self, name: str) -> None:
        if name not in self.meta.get("branches", {}):
            raise KeyError(f"no branch {name!r}")

        def mutate(meta: dict) -> None:
            br = dict(meta.get("branches", {}))
            br.pop(name, None)
            meta["branches"] = br

        self._update_meta(mutate)

    def branch(self, name: str) -> "BranchView":
        """Writable handle on a branch: reads resolve from the branch
        head, commits advance the branch pointer — main is untouched.
        Maintenance ops refuse on a branch handle (run them on main)."""
        self.refresh()
        if name not in self.meta.get("branches", {}):
            raise KeyError(f"no branch {name!r}")
        return BranchView(self.spark, self.path, name)

    def fast_forward(self, name: str) -> int:
        """Atomically advance MAIN to branch ``name``'s head. Requires the
        current head to be an ancestor of the branch head (same rule as
        git fast-forward) — a main that moved since the branch forked
        raises ConcurrentModification: rebase by re-running the branch
        work on a fresh branch. Returns the new head id."""
        head = 0

        def mutate(meta: dict) -> bool | None:
            nonlocal head
            head = meta.get("branches", {}).get(name)
            if head is None:
                raise KeyError(f"no branch {name!r}")
            cur = meta["current_snapshot_id"]
            if head == cur:
                return False
            if cur not in self._ancestry_ids(head):
                raise ConcurrentModification(
                    f"main moved since branch {name!r} forked (head {cur} is "
                    f"not an ancestor of branch head {head}); re-branch and "
                    "replay the work"
                )
            meta["current_snapshot_id"] = head

        self._update_meta(mutate)
        return head

    def ref(self, name: str) -> int:
        refs = self.meta.get("refs", {})
        if name not in refs:
            raise KeyError(f"no ref {name!r}")
        return int(refs[name])

    # ------------------------------------------------- metadata tables (U7)
    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Iceberg ``table.files`` metadata-table analog: one row per live
        data file of the (optionally time-traveled) snapshot, with bucket,
        kind (base/delta), row count and key range — the inputs every
        maintenance decision (compaction targeting, skew checks, delta
        pressure) reads. Built from the manifests, which this design
        already materializes driver-side; no data files are opened."""
        snap = (
            self.current_snapshot() if snapshot_id is None else self.snapshot(snapshot_id)
        )
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("kind", T.StringType()),
                T.StructField("rows", T.LongType()),
                # per-column [min, max] from the manifest footer stats
                # (physical column name → stringified bounds; datetimes
                # are epoch micros, the same canonical form pruning uses)
                T.StructField(
                    "col_mins", T.MapType(T.StringType(), T.StringType())
                ),
                T.StructField(
                    "col_maxs", T.MapType(T.StringType(), T.StringType())
                ),
            ]
        )
        rows = [
            (
                f["path"],
                int(f["bucket"]),
                f.get("kind", "base"),
                int(f["rows"]) if f.get("rows", -1) >= 0 else None,
                {k: str(v[0]) for k, v in (f.get("stats") or {}).items()},
                {k: str(v[1]) for k, v in (f.get("stats") or {}).items()},
            )
            for f in snap.files
        ]
        return self.spark.createDataFrame(rows, schema)

    def snapshots_df(self) -> DataFrame:
        """Iceberg ``table.snapshots`` analog: the commit log as a frame."""
        schema = T.StructType(
            [
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("parent_id", T.LongType()),
                T.StructField("timestamp_ms", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("schema_version", T.IntegerType()),
                T.StructField("source_id", T.StringType()),
                T.StructField("batch_id", T.LongType()),
                T.StructField("summary", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        rows = []
        for s in self.history():
            tag = s.tag or {}
            rows.append(
                (
                    s.snapshot_id,
                    s.parent_id,
                    s.timestamp_ms,
                    s.operation,
                    s.schema_version,
                    tag.get("source_id"),
                    tag.get("batch_id"),
                    {k: str(v) for k, v in (s.summary or {}).items()},
                )
            )
        return self.spark.createDataFrame(rows, schema)

    # -------------------------------------------------- write-audit-publish
    def stage_buckets(
        self,
        touched_buckets: list[int],
        df: DataFrame,
        assumed_files: set[str],
        summary: dict | None = None,
    ) -> str:
        """WRITE-AUDIT-PUBLISH step 1 (Iceberg audit-branch analog): write
        the would-be content of ``touched_buckets`` WITHOUT committing a
        snapshot. Readers are untouched; the staged entry records the
        validation baseline so ``publish_staged`` gets the same
        serializable guarantee as a direct ``replace_buckets``. Returns a
        ``staged_id`` for read_staged / publish_staged / abort_staged.

        Reference analog: results become visible only after the explicit
        cross-stream synchronize-and-publish step
        (/root/reference/src/image_generic_codec.h:605-638)."""
        self.refresh()
        base = self.current_snapshot()
        new_files = self._write_data_files(
            df, base.snapshot_id + 1,
            write_partitions=max(1, len(set(touched_buckets))),
        )
        bset = set(touched_buckets)
        extra = sorted({f["bucket"] for f in new_files} - bset)
        if extra:
            raise ValueError(f"stage wrote to undeclared buckets {extra}")
        staged_id = uuid.uuid4().hex[:12]
        entry = {
            "staged_id": staged_id,
            "base_snapshot_id": base.snapshot_id,
            "timestamp_ms": int(time.time() * 1000),
            "touched_buckets": sorted(bset),
            "assumed_files": sorted(assumed_files),
            "new_files": new_files,
            "summary": summary or {},
            "schema_version": self.meta["current_schema_version"],
        }

        def mutate(meta: dict) -> None:
            meta["staged"] = list(meta.get("staged", [])) + [entry]

        self._update_meta(mutate)
        return staged_id

    def staged(self) -> list[dict]:
        return list(self.meta.get("staged", []))

    def _staged_entry(self, staged_id: str) -> dict:
        for e in self.meta.get("staged", []):
            if e["staged_id"] == staged_id:
                return e
        raise KeyError(f"no staged changeset {staged_id!r}")

    def read_staged(self, staged_id: str, with_system: bool = False) -> DataFrame:
        """AUDIT read: the hypothetical post-publish state — current
        snapshot's untouched buckets (delta layers reconciled as usual)
        plus the staged files. Touched-bucket writes landing AFTER staging
        are not reflected here; they surface as ConcurrentModification at
        publish time."""
        self.refresh()
        e = self._staged_entry(staged_id)
        bset = set(e["touched_buckets"])
        others = sorted(
            {f["bucket"] for f in self.current_snapshot().files} - bset
        )
        untouched = self.read(buckets=others, with_system=True)
        st = self._scan_files(
            self.table_schema, [f["path"] for f in e["new_files"]], True
        )
        out = untouched.unionByName(st)
        out = out.where(~F.coalesce(F.col("_sys_deleted"), F.lit(False)))
        if not with_system:
            out = out.drop(BUCKET_COL, *SYSTEM_COLS)
        return out

    def publish_staged(self, staged_id: str, tag: dict | None = None) -> Snapshot:
        """WAP step 3: atomically swap the staged files in. Validates the
        staged baseline against the CURRENT touched-bucket file set — a
        writer that touched those buckets since staging forces
        ConcurrentModification (re-run the merge), exactly like a direct
        replace_buckets race."""
        self.refresh()
        e = self._staged_entry(staged_id)
        bset = set(e["touched_buckets"])
        assumed = set(e["assumed_files"])
        new_files = e["new_files"]

        def files_fn(snap: Snapshot) -> list[dict]:
            # the entry must still be pending at COMMIT time (_commit
            # refreshes per attempt): a concurrent abort_staged may have
            # removed it and already be deleting the staged files —
            # committing a manifest that references them would corrupt
            # the table (review-caught abort/publish race)
            if not any(
                x["staged_id"] == staged_id for x in self.meta.get("staged", [])
            ):
                raise ConcurrentModification(
                    f"staged changeset {staged_id!r} was aborted concurrently"
                )
            return _swap_buckets(snap, bset, assumed, new_files, "staging")

        # the entry leaves ``staged`` in the same metadata write that
        # publishes it, recomputed on each attempt's refreshed list, so
        # entries staged concurrently by another writer survive
        return self._commit(
            "merge",
            files_fn,
            {**e["summary"], "published_from": staged_id},
            tag=tag,
            mutate=_unstage(staged_id),
        )

    def abort_staged(self, staged_id: str) -> int:
        """Discard a staged changeset and its files. Returns files removed.
        If the changeset was already PUBLISHED — by a racing publish, or
        before a crash that left its entry behind (older versions unstaged
        in a second metadata write) — only the entry is removed: the files
        are live table data."""
        self.refresh()
        e = self._staged_entry(staged_id)

        # decide 'published' from the meta version THIS update wrote, not
        # entry-time state: a publish_staged that committed concurrently
        # (even from another process) is in that version's snapshot list,
        # since _update_meta refreshes before writing — deciding from a
        # stale handle could delete files the publish made live table
        # data (review-caught). A publish still IN FLIGHT after our
        # removal aborts at its own commit-time pending check above.
        meta = self._update_meta(_unstage(staged_id))
        published = any(
            (s.get("summary") or {}).get("published_from") == staged_id
            for s in meta["snapshots"]
        )
        if published:
            return 0
        removed = 0
        for f in e["new_files"]:
            try:
                os.remove(f["path"])
                removed += 1
            except FileNotFoundError:
                pass
        for f in e["new_files"]:
            d = os.path.dirname(f["path"])
            try:
                if os.path.isdir(d) and not os.listdir(d):
                    os.rmdir(d)
            except OSError:
                pass
        return removed

    def append_deltas(
        self,
        df: DataFrame,
        tag: dict | None = None,
        summary: dict | None = None,
        bucketed_under: int | None = None,
        touched_buckets: list[int] | None = None,
    ) -> Snapshot:
        """Merge-on-read commit: layer pre-resolved winner rows (target
        schema + system order cols + tombstones, one row per key) OVER the
        base WITHOUT reading or rewriting it. Write cost is O(batch) —
        the streaming-ingest hot path where copy-on-write would rewrite
        every touched bucket for a trickle of scattered updates (classic
        CoW write amplification; Hudi/Iceberg solve it the same way).

        Reads reconcile lazily (see ``read``): the per-row order keys make
        reconciliation commutative, so delta commits are append-only and
        conflict-free among themselves — a lost optimistic race just
        replays on top of the winner. A racing compaction that consumed
        existing deltas still validates against ITS assumed file set, so
        nothing is ever double-dropped. Fold deltas back into the base
        with ``compact_deltas`` once read amplification matters.
        """
        self.refresh()
        # the layout the caller's BUCKET_COL was actually computed under —
        # callers pass it (merge_into_delta does); entry-time fallback
        # still catches a rebucket landing after this refresh
        expected_bc = bucketed_under if bucketed_under is not None else self.bucket_count
        next_id = self.current_snapshot().snapshot_id + 1
        new_files = [
            {**f, "kind": "delta"}
            for f in self._write_data_files(
                df, next_id, key_bloom=True,
                write_partitions=(
                    max(1, len(set(touched_buckets)))
                    if touched_buckets else None
                ),
            )
        ]
        s = {"delta_files": len(new_files)}
        s.update(summary or {})

        def files_fn(snap: Snapshot) -> list[dict]:
            # delta appends are file-level conflict-free, but the bucket
            # IDS in `df` were computed under the layout at entry — if a
            # rebucket() landed since, layering them would put rows in
            # buckets the new transform never probes (duplicate keys,
            # unsuppressed tombstones).
            self._bucket_layout_guard(expected_bc)
            return list(snap.files) + new_files

        return self._commit("delta", files_fn, s, tag=tag)

    def delta_stats(self, snapshot: Snapshot | None = None) -> dict[int, int]:
        """Per-bucket live delta-file counts — the compaction-scheduling
        signal (read amplification grows with layered deltas). Pass a
        pinned ``snapshot`` to count against it instead of current."""
        out: dict[int, int] = {}
        for f in (snapshot or self.current_snapshot()).files:
            if f.get("kind") == "delta":
                out[f["bucket"]] = out.get(f["bucket"], 0) + 1
        return out

    def compact_deltas(
        self, max_delta_files: int = 0, tag: dict | None = None
    ) -> Snapshot | None:
        """Fold delta layers back into base files for every bucket holding
        more than ``max_delta_files`` deltas (bucket-granular — untouched
        buckets carry over by reference). The reconciled read IS the new
        base content; `replace_buckets` swaps out base and consumed delta
        files atomically, with serializable validation against racing
        writers. Returns None if nothing to fold."""
        self.refresh()
        snap0 = self.current_snapshot()
        per_bucket = self.delta_stats(snap0)
        dirty = sorted(b for b, n in per_bucket.items() if n > max_delta_files)
        if not dirty:
            return None
        # pin the read AND the validation base to the same snapshot: a
        # delta landing between this read and the commit must surface as
        # ConcurrentModification, not be silently folded away
        df = self.read(snapshot_id=snap0.snapshot_id, buckets=dirty, with_system=True)
        dset = set(dirty)
        assumed = {f["path"] for f in snap0.files.for_buckets(dset)}
        return self.replace_buckets(
            dirty,
            df,
            tag=tag,
            summary={"compacted_delta_buckets": len(dirty)},
            assumed_files=assumed,
        )

    def rebucket(self, new_bucket_count: int, tag: dict | None = None) -> Snapshot:
        """Online re-bucketing — the operational answer when a table has
        outgrown its bucket count (the CoW/merge unit and the pruning
        granule: 32 buckets on a table that grew 100x makes every merge
        rewrite ~3% of a now-huge table, and compaction units balloon).

        One full rewrite under the new bucket transform, committed
        atomically WITH the new ``bucket_count`` — readers before the
        commit see the old layout, after it the new; time travel keeps
        working because every file carries its bucket in data + manifest.
        Delta layers are consumed (the rewrite reads reconciled state).
        Serializable: if any writer commits between our scan and the
        metadata write, the commit aborts with ConcurrentModification
        (its rows would otherwise be silently dropped) — re-run on the
        fresh snapshot. Writers that raced and lost recompute buckets
        under the new count on their retry via ``with_bucket``.
        """
        self.refresh()
        old = self.bucket_count
        if new_bucket_count == old:
            return self.current_snapshot()
        df = self.read(with_system=True).drop(BUCKET_COL)
        df = df.withColumn(BUCKET_COL, self.bucket_expr(df, count=new_bucket_count))
        next_id = self.current_snapshot().snapshot_id + 1
        new_files = self._write_data_files(df, next_id, bucket_count=new_bucket_count)
        assumed = {f["path"] for f in self.current_snapshot().files}

        def files_fn(snap: Snapshot) -> list[dict]:
            cur = {f["path"] for f in snap.files}
            if cur != assumed:
                raise ConcurrentModification(
                    "table changed during rebucket; re-run against the new snapshot"
                )
            return new_files

        def mutate(meta: dict) -> None:
            meta["bucket_count"] = new_bucket_count

        return self._commit(
            "rebucket",
            files_fn,
            {"rebucket_from": old, "rebucket_to": new_bucket_count},
            tag=tag,
            mutate=mutate,
        )

    def optimize(
        self,
        max_delta_files: int = 0,
        max_files_per_bucket: int = 1,
        keep_snapshots: int = 10,
        orphan_grace_seconds: int = 72 * 3600,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """One-call maintenance sweep, in dependency order: fold delta
        layers into base (read amplification), bin-pack fragmented
        buckets (small files), expire old snapshots (metadata growth +
        dead data files), reclaim orphans (failed-attempt leftovers).
        Each step is individually atomic and optional-by-threshold;
        returns a summary of what ran."""
        out: dict = {}
        snap = self.compact_deltas(max_delta_files=max_delta_files)
        out["delta_buckets_folded"] = (
            snap.summary.get("compacted_delta_buckets", 0) if snap else 0
        )
        snap = self.compact(
            max_files_per_bucket=max_files_per_bucket, zorder_by=zorder_by
        )
        out["buckets_compacted"] = (
            snap.summary.get("compacted_buckets", 0) if snap else 0
        )
        out["snapshots_expired"] = self.expire_snapshots(keep_last=keep_snapshots)
        out["orphans_removed"] = self.remove_orphans(
            older_than_seconds=orphan_grace_seconds
        )
        return out

    def remove_orphans(self, older_than_seconds: int = 72 * 3600) -> int:
        """Delete data + manifest files NO snapshot references — the
        leftovers of failed attempts. By design the metadata commit is the
        LAST step of every write, so a merge strategy that falls back
        after `_write_data_files`, or a crash before `_write_version`,
        leaves fully-written `snap-*` files behind that nothing will ever
        read or reclaim (expire_snapshots only deletes files of DROPPED
        snapshots). Age gate: files younger than ``older_than_seconds``
        may belong to an in-flight commit whose metadata hasn't landed
        yet — never touched (Iceberg ``remove_orphan_files`` contract).
        The grace period MUST exceed the longest plausible in-flight
        write: a rebucket/compaction whose file-writing stage runs for
        hours has its earliest staged files aged well past a short
        cutoff while still unreferenced. Default 72h (Iceberg defaults
        this gate to 3 days for the same reason); tests pass small
        values explicitly. Returns the number of files deleted.
        """
        self.refresh()
        cutoff = time.time() - older_than_seconds
        snaps = self.history()
        live = {os.path.abspath(f["path"]) for s in snaps for f in s.files}
        # staged (write-audit-publish) changesets are unreferenced by any
        # snapshot until published — their files are pending, not orphaned
        for entry in self.meta.get("staged", []):
            for f in entry["new_files"]:
                live.add(os.path.abspath(f["path"]))
        removed = 0
        for root, _dirs, fns in os.walk(self._data_dir):
            for fn in fns:
                p = os.path.abspath(os.path.join(root, fn))
                if p in live:
                    continue
                try:
                    if os.path.getmtime(p) >= cutoff:
                        continue
                    os.remove(p)
                    removed += 1
                except FileNotFoundError:  # racing cleaner — fine
                    continue
        # sweep now-empty snap directories (bucket dirs then snap dirs)
        for root, dirs, fns in list(os.walk(self._data_dir, topdown=False)):
            if root != self._data_dir and not dirs and not fns:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        # manifests: reachable = every snapshot's manifest-list + every
        # per-bucket manifest those lists reference
        mdir = self._manifest_dir
        if os.path.isdir(mdir):
            live_m = {s.manifest_list for s in snaps}
            live_m.update(m["manifest"] for s in snaps for m in s.files.entries)
            for fn in os.listdir(mdir):
                if fn in live_m:
                    continue
                p = os.path.join(mdir, fn)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        removed += 1
                except FileNotFoundError:
                    continue
        return removed

    # -------------------------------------------------------- schema updates
    def update_schema(self, updater) -> Snapshot:
        """Apply a function TableSchema -> TableSchema as a metadata-only
        commit. A no-op update (replayed widen/add after a crash between
        schema apply and data commit) returns the current snapshot without
        appending a duplicate schema version — schema application stays
        idempotent under epoch replay. ``updater`` runs again on the
        winner's schema whenever the commit loses a race, so a concurrent
        schema change is evolved from, never overwritten."""
        self.refresh()
        if updater(self.table_schema).to_dict() == self.table_schema.to_dict():
            return self.current_snapshot()

        def mutate(meta: dict) -> None:
            cur = self.table_schema.to_dict()
            new = updater(self.table_schema).to_dict()
            if new != cur:  # a racer may have made this very change
                meta["schemas"] = meta["schemas"] + [new]
                meta["current_schema_version"] = len(meta["schemas"]) - 1

        return self._commit(
            "schema", lambda snap: snap.files, {"schema_change": True}, mutate=mutate
        )

    def add_column(self, name: str, type_name: str) -> Snapshot:
        return self.update_schema(lambda s: s.add_column(name, spark_type_from_name(type_name)))

    def rename_column(self, old: str, new: str) -> Snapshot:
        return self.update_schema(lambda s: s.rename_column(old, new))

    def drop_column(self, name: str) -> Snapshot:
        """Tombstone a column (metadata-only commit — no data rewrite):
        reads/exports stop projecting it immediately, extraction stops,
        old files keep the data for time travel, and the name is free for
        a later re-add under a fresh field id (see schema.py). Rows
        stored without a raw image (``_sys_raw`` NULL) get one rebuilt
        from their live and dropped values whenever they are read with
        system columns, so a merge that rewrites the bucket keeps the
        dropped value and a re-add + ``reextract_payloads`` still brings
        it back. Key columns are the table's identity and can never be
        dropped."""
        if name in self.key_cols:
            raise ValueError(f"cannot drop key column {name!r}")
        return self.update_schema(lambda s: s.drop_column(name))

    def widen_column(self, name: str, type_name: str) -> Snapshot:
        return self.update_schema(lambda s: s.widen_column(name, spark_type_from_name(type_name)))

    # ------------------------------------------------------------ maintenance
    def compact(
        self,
        max_files_per_bucket: int = 1,
        tag: dict | None = None,
        zorder_by: list[str] | None = None,
    ) -> Snapshot | None:
        """Rewrite buckets holding more than ``max_files_per_bucket`` live
        files into one file each (Iceberg ``rewrite_data_files`` analog).
        Append-heavy histories fragment buckets; merge commits don't (they
        already replace whole buckets). Metadata + data of untouched
        buckets carry over by reference; returns None if nothing to do.

        ``zorder_by``: re-CLUSTER instead of just bin-packing — every
        non-empty bucket is rewritten sorted by the Morton interleave of
        the given columns (Delta ``OPTIMIZE ZORDER BY`` analog; see
        lakehouse/zorder.py), and per-file [min,max] for those columns is
        recorded so ``read(range_filters=)`` prunes on any of them. Set
        ``write.max-records-per-file`` so buckets split into several
        stat-disjoint files — one giant file per bucket has nothing to
        skip."""
        self.refresh()
        snap0 = self.current_snapshot()
        per_bucket: dict[int, int] = {}
        for f in snap0.files:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        if zorder_by:
            # a re-clustering pass rewrites every non-empty bucket: the
            # point is the LAYOUT, not the file count
            fragmented = sorted(per_bucket)
        else:
            fragmented = sorted(
                b for b, n in per_bucket.items() if n > max_files_per_bucket
            )
        if not fragmented:
            return None
        df = self.read(
            snapshot_id=snap0.snapshot_id, buckets=fragmented, with_system=True
        )
        fset = set(fragmented)
        assumed = {f["path"] for f in snap0.files.for_buckets(fset)}
        summary = {"compacted_buckets": len(fragmented)}
        if zorder_by:
            summary["zorder_by"] = list(zorder_by)
        return self.replace_buckets(
            fragmented,
            df,
            tag=tag,
            summary=summary,
            assumed_files=assumed,
            zorder_by=zorder_by,
        )

    def export(
        self,
        path: str,
        sort_order: list[str] | None = None,
        target_file_size_rows: int = 5_000_000,
        format: str = "parquet",
        compression: str | None = None,
    ) -> None:
        """Export the logical table (tombstones dropped, system columns
        hidden) for downstream consumers — the encoder-tier analog
        (/root/reference/extensions/nvjpeg2k/cuda_encoder.cpp: progression
        order / tile / quality knobs ↔ sort order / file size / format /
        compression knobs here). ``sort_order`` uses a range repartition
        so files are globally clustered on the sort key (layout for
        downstream range pruning). ``compression`` falls back to the
        table's ``write.compression`` property, then zstd, for the columnar
        formats; text formats fall back to snappy."""
        df = self.read_logical()
        if sort_order:
            df = df.repartitionByRange(*[F.col(c) for c in sort_order]).sortWithinPartitions(
                *sort_order
            )
        # the table's data-file codec (zstd by default) is a columnar-format
        # codec; Spark's json/csv writers lack zstd, so text exports ignore
        # it and keep snappy
        if format in ("parquet", "orc"):
            default = (
                self.meta.get("properties", {}).get("write.compression")
                or DEFAULT_COMPRESSION
            )
        else:
            default = "snappy"
        codec = compression or default
        writer = (
            df.write.mode("overwrite")
            .option("maxRecordsPerFile", target_file_size_rows)
            .option("compression", codec)
        )
        writer.format(format).save(path)

    def schema_log(self) -> list[dict]:
        """All schema versions with the snapshots that introduced them
        (metadata inspection API — reference analog: get_metadata,
        /root/reference/python/decoder.cpp:573-597)."""
        out = []
        for v, s in enumerate(self.meta["schemas"]):
            introduced = next(
                (snap for snap in self.meta["snapshots"] if snap["schema_version"] == v), None
            )
            out.append(
                {
                    "schema_version": v,
                    "columns": [(c["name"], c["type_name"]) for c in s["columns"]],
                    "snapshot_id": introduced["snapshot_id"] if introduced else None,
                    "timestamp_ms": introduced["timestamp_ms"] if introduced else None,
                }
            )
        return out

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Drop old snapshot entries + delete data files no live snapshot references.

        Ordering is metadata-FIRST: the pruned metadata commits (with
        optimistic retry, like every other commit), and only then are the
        now-unreferenced data files deleted. Deleting first would mean a
        lost race or a crash between os.remove and the commit leaves
        committed metadata whose retained snapshots reference deleted
        files — time travel and read_changes on them would fail."""
        kept: list[dict] = []
        dropped: list[dict] = []

        def mutate(meta: dict) -> bool | None:
            nonlocal kept, dropped
            snaps = meta["snapshots"]
            if len(snaps) <= keep_last:
                return False
            # Retention is LINEAGE-scoped, not list-scoped (review-caught:
            # with branch refs the shared list is a DAG — branch commits
            # at the tail would otherwise evict main's own chain, up to
            # and including the CURRENT snapshot, whose data files would
            # then be deleted). Keep: the newest keep_last of MAIN's
            # parent chain; every tag ref; and each branch's ancestry
            # back to its fork point with main (the first ancestor on
            # main's chain) — beyond the fork it IS main history and
            # main retention governs. A fast-forwarded branch's head sits
            # on main's chain, so its extra pins collapse to nothing and
            # expiry keeps working (no manual drop_branch needed).
            main_chain = self._ancestry_ids()  # newest first
            keep_ids = set(main_chain[:keep_last])
            keep_ids.update(meta.get("refs", {}).values())
            by_id = {x["snapshot_id"]: x for x in snaps}
            main_set = set(main_chain)
            for head in meta.get("branches", {}).values():
                cur = head
                while cur is not None and cur in by_id:
                    keep_ids.add(cur)
                    if cur in main_set:
                        break  # fork point reached — main retention owns the rest
                    cur = by_id[cur].get("parent_id")
            kept = [x for x in snaps if x["snapshot_id"] in keep_ids]
            dropped = [x for x in snaps if x["snapshot_id"] not in keep_ids]
            if not dropped:
                return False
            meta["snapshots"] = kept
            # commit tags must outlive their snapshots: they are the
            # exactly-once replay guard (a late replay of an expired batch
            # must still no-op). Kept as compact [source_id, batch_id] pairs.
            expired_tags = list(meta.get("expired_tags", []))
            seen = {tuple(p) for p in expired_tags}
            for s in dropped:
                tag = s.get("tag")
                if tag and (tag["source_id"], tag["batch_id"]) not in seen:
                    seen.add((tag["source_id"], tag["batch_id"]))
                    expired_tags.append([tag["source_id"], tag["batch_id"]])
            meta["expired_tags"] = expired_tags

        if self._update_meta(mutate) is None:
            return 0
        # commit landed: anything referenced only by dropped snapshots
        # is unreachable (new commits always build on the latest kept
        # snapshot), so physical deletion is safe now.
        kept_snaps = [self._entry_to_snapshot(s) for s in kept]
        dropped_snaps = [self._entry_to_snapshot(s) for s in dropped]
        live = {f["path"] for s in kept_snaps for f in s.files}
        removed = 0
        for s in dropped_snaps:
            for f in s.files:
                if f["path"] not in live and os.path.exists(f["path"]):
                    os.remove(f["path"])
                    removed += 1
        # reap metadata files the dropped snapshots owned: their
        # manifest-lists, plus manifests no kept snapshot references
        # (content-addressed manifests are shared across snapshots)
        kept_manifests = {m["manifest"] for s in kept_snaps for m in s.files.entries}
        for s in dropped_snaps:
            if not s.manifest_list:  # snapshot 1 of an older version's table
                continue
            ml_path = os.path.join(self._manifest_dir, s.manifest_list)
            if not os.path.exists(ml_path):
                continue
            for m in s.files.entries:
                mp = os.path.join(self._manifest_dir, m["manifest"])
                if m["manifest"] not in kept_manifests and os.path.exists(mp):
                    os.remove(mp)
                    self._manifest_cache.pop(mp, None)
            os.remove(ml_path)
            self._manifest_cache.pop(ml_path, None)
        return removed


class BranchView(LakeTable):
    """Writable handle on a branch ref (``table.branch(name)``).

    Overrides only how the head is read (``current_snapshot``) and
    advanced (``_advance_head``): the base ``_commit`` appends a snapshot
    with the branch head as parent (globally-unique id) and moves ONLY the
    branch pointer — main's ``current_snapshot_id`` never moves until
    ``fast_forward``. The standard merge/append paths work unchanged
    because every baseline they validate against flows through
    ``current_snapshot()``. Maintenance (compaction, expiry, rebucket,
    orphan GC) and schema evolution refuse here: retention, layout and
    schema are main's to manage — a branch-side expiry could drop
    snapshots main still serves.
    """

    def __init__(self, spark: SparkSession, path: str, branch_name: str):
        super().__init__(spark, path)
        self.branch_name = branch_name

    def current_snapshot(self) -> Snapshot:
        bid = self.meta.get("branches", {}).get(self.branch_name)
        if bid is None:
            raise KeyError(f"branch {self.branch_name!r} was dropped")
        return self.snapshot(bid)

    # Maintenance refuses AT CALL TIME (explicit overrides, not an
    # attribute-access hook: a __getattribute__ raise breaks hasattr/
    # getattr-with-default feature probing — review-caught)
    def _no_maintenance(self, name: str):
        raise TypeError(
            f"{name}() is not available on a branch handle — run "
            "maintenance on the main table"
        )

    def compact(self, *a, **kw):
        self._no_maintenance("compact")

    def compact_deltas(self, *a, **kw):
        self._no_maintenance("compact_deltas")

    def expire_snapshots(self, *a, **kw):
        self._no_maintenance("expire_snapshots")

    def remove_orphans(self, *a, **kw):
        self._no_maintenance("remove_orphans")

    def rebucket(self, *a, **kw):
        self._no_maintenance("rebucket")

    def optimize(self, *a, **kw):
        self._no_maintenance("optimize")

    def rollback(self, *a, **kw):
        self._no_maintenance("rollback")

    def update_schema(self, *a, **kw):
        raise TypeError(
            "schema evolution commits on a branch are not supported — "
            "evolve the schema on main, then re-branch"
        )

    def _advance_head(self, meta: dict, snapshot_id: int) -> None:
        meta["branches"] = {**meta.get("branches", {}), self.branch_name: snapshot_id}
