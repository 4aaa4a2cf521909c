"""SCD Type-2 history — changelog → validity-interval dimension table.

Turns a CDC change stream into the classic slowly-changing-dimension
shape: one row per (key, version) with ``valid_from`` / ``valid_to``
bounds, where a new version opens whenever a tracked attribute actually
changes (or a key is re-inserted after a delete) and the current version
carries ``is_current = true``. Deletes close the open interval and emit
no row of their own.

Scale design — ONE shuffle for the whole derivation:

- The change stream is sorted per key by the full LWW order struct
  (window partitioned by the key columns). Run detection is a null-safe
  lag comparison on the tracked columns + the delete/rebirth boundary;
  version ids are a running sum of boundaries — all partition-local
  after the single hash exchange.
- ``valid_to`` needs the timestamp of the first event AFTER a run, so
  ``lead`` is computed over the FULL sequence (deletes included) before
  dead rows are dropped.
- The per-version collapse is ``groupBy(key..., version)``. Spark's
  EnsureRequirements sees ``HashPartitioning(key)`` already satisfies
  clustering on the superset ``(key..., version)``, so the aggregation
  runs in the same stage — no second exchange (pinned in
  tests/test_scd2.py).

Reference analog: per-offset parsed-state views — each stream position
exposes the state in force at that offset, superseded states remain
addressable (/root/reference/src/code_stream.cpp:47-95; time-travel tier
of SURVEY §2 S7/U7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from nvimagecodec_spark.lakehouse.incremental import (
    base_field_ids,
    last_synced_batch_id,
    pending_changes,
    resolve_columns,
)
from nvimagecodec_spark.operators.lww import KEY_COLS, ORDER_COLS, _ord_struct


def scd2_history(
    changes: DataFrame,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    track_cols: list[str] | None = None,
    ts_col: str = "commit_ts",
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Build the SCD2 table from a change stream.

    ``changes`` rows: key columns + ``op`` (I/U/D) + payload + order
    columns. ``track_cols`` are the attributes whose change opens a new
    version (default: every payload column except order/op). Exact
    duplicate deliveries (same key + same full order) are dropped first
    so re-delivered events can't split a run.

    Output: key cols + track cols (the version's values) +
    ``valid_from_lsn``/``valid_to_lsn`` + ``valid_from``/``valid_to``
    (``ts_col`` bounds, valid_to null while current) + ``n_events``
    (events collapsed into the version) + ``is_current``.
    """
    key_cols = key_cols or KEY_COLS
    order_cols = order_cols or ORDER_COLS
    if track_cols is None:
        skip = set(key_cols) | set(order_cols) | {op_col}
        track_cols = [c for c in changes.columns if c not in skip]
    if not track_cols:
        raise ValueError("scd2_history needs at least one tracked column")

    ord_c = _ord_struct(order_cols).alias("_ord")
    df = changes.select(*changes.columns, ord_c)

    w = Window.partitionBy(*key_cols).orderBy("_ord")
    # Exact-duplicate deliveries (same key + same full order) sort
    # adjacent, so a lag comparison drops them PARTITION-LOCALLY — a
    # dropDuplicates(key+order) would hash-exchange on the superset key
    # and cost a second shuffle.
    df = df.withColumn(
        "_dup", F.lag("_ord").over(w).eqNullSafe(F.col("_ord"))
    ).where(~F.col("_dup"))
    is_dead = F.col(op_col) == "D"
    prev_dead = F.lag(is_dead).over(w)

    def _tracked_changed() -> Column:
        changed = F.lit(False)
        for c in track_cols:
            changed = changed | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
        return changed

    # A version boundary: first event for the key, rebirth after a D, or
    # a tracked attribute changed. D rows are boundaries too (they must
    # not extend the run they close), but they are dropped below.
    boundary = (
        F.when(prev_dead.isNull(), True)
        .when(prev_dead, True)
        .when(is_dead, True)
        .otherwise(_tracked_changed())
    )
    # Two select stages: the running version-id sums the BOUNDARY column,
    # and a window function can't take another window function as input.
    # Both stages share the same partitioning + ordering, so they are
    # consecutive Window nodes over ONE exchange, not a second shuffle.
    marked = df.select(
        *key_cols,
        *track_cols,
        F.col(op_col).alias("_op"),
        F.col(lsn_col).alias("_lsn"),
        F.col(ts_col).alias("_ts"),
        "_ord",
        boundary.cast("int").alias("_boundary"),
        # valid_to of a run = first event after it, deletes included —
        # computed before dead rows are dropped. The existence marker is
        # a lead over a CONSTANT: lead(lsn) is null both at end-of-key
        # and when the closing event carries a null lsn (CHANGE_SCHEMA
        # permits them), which would mislabel a closed version current.
        F.lead(F.col(lsn_col)).over(w).alias("_next_lsn"),
        F.lead(F.col(ts_col)).over(w).alias("_next_ts"),
        F.lead(F.lit(1)).over(w).alias("_next_exists"),
    )
    seq = marked.withColumn("_version", F.sum("_boundary").over(w))

    live = seq.where(F.col("_op") != "D")
    last_pick = F.max(
        F.struct(
            F.col("_ord"),
            F.col("_next_lsn").alias("_nl"),
            F.col("_next_ts").alias("_nt"),
            F.col("_next_exists").alias("_ne"),
        )
    ).alias("_last")
    out = live.groupBy(*key_cols, "_version").agg(
        F.min("_lsn").alias("valid_from_lsn"),
        F.min("_ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
        *[F.first(c).alias(c) for c in track_cols],  # constant within a run
        last_pick,
    )
    return out.select(
        *key_cols,
        *track_cols,
        "valid_from_lsn",
        F.col("_last._nl").alias("valid_to_lsn"),
        "valid_from",
        F.col("_last._nt").alias("valid_to"),
        "n_events",
        F.col("_last._ne").isNull().alias("is_current"),
    )


class Scd2View:
    """Incrementally-maintained SCD2 dimension — an append-only version
    log over a CDC-maintained base table, kept fresh with O(changed-rows)
    work per sync.

    ``scd2_history`` above derives history from a full change stream;
    this class MAINTAINS it as the base table evolves, at SYNC grain:
    each ``sync(base)`` folds ``read_changes(with_before=True)`` into new
    version rows — a key whose tracked attributes changed (null-safely)
    opens a version stamped with the target base snapshot id, a deleted
    key appends a delete marker, everything else appends NOTHING. Changes
    that cancel out between two syncs never produce a version (history is
    as-of sync points, the standard warehouse-load semantics).

    The log is its own LakeTable keyed by (base key..., valid_from_sid),
    so maintenance is PURE APPEND through the same exactly-once tagged
    ``merge_into`` as data — no view row is ever updated in place and the
    sync never reads the view back. ``valid_to`` is not stored at all:
    a version is closed implicitly by the NEXT version (or marker) of its
    key, derived at read time by one lead() window in ``history()``.
    This is what makes the write path O(changed rows): closing versions
    in place would need a (key → open version) lookup join per sync.

    Cursor, replay safety, and expired-create bootstrap come from
    ``incremental.pending_changes`` (commit-tag log keyed by base
    snapshot id), shared with every other derived table.

    Reference analog: per-offset parsed-state views over an append-only
    stream — superseded states stay addressable, current state = latest
    entry (/root/reference/src/code_stream.cpp:47-95).
    """

    SOURCE_ID = "scd2-sync"
    _KIND_VERSION = "v"
    _KIND_DELETE = "d"

    def __init__(self, spark: SparkSession, path: str):
        from nvimagecodec_spark.lakehouse.table import LakeTable

        self.spark = spark
        self.table = LakeTable(spark, path)
        props = self.table.meta.get("properties", {})
        self.track_cols = props["scd2.track-cols"].split(",")
        self.base_key_cols = props["scd2.base-key-cols"].split(",")

    # ----------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        base,
        track_cols: list[str],
        bucket_count: int | None = None,
    ) -> "Scd2View":
        from nvimagecodec_spark.lakehouse.table import LakeTable

        base_fields = {f.name: f for f in base.schema().fields}
        for c in track_cols:
            if c not in base_fields:
                raise ValueError(f"base table has no column {c!r}")
            if c in base.key_cols:
                raise ValueError(
                    f"{c!r} is a base KEY column — keys cannot change, "
                    "tracking one would never version"
                )
        if not track_cols:
            raise ValueError("Scd2View needs at least one tracked column")
        fields = [T.StructField(k, base_fields[k].dataType) for k in base.key_cols]
        fields.append(T.StructField("valid_from_sid", T.LongType()))
        fields.append(T.StructField("kind", T.StringType()))
        fields += [T.StructField(c, base_fields[c].dataType) for c in track_cols]
        LakeTable.create(
            spark,
            path,
            T.StructType(fields),
            list(base.key_cols) + ["valid_from_sid"],
            bucket_count=bucket_count or base.bucket_count,
            properties={
                "scd2.track-cols": ",".join(track_cols),
                "scd2.base-key-cols": ",".join(base.key_cols),
                **base_field_ids(base, track_cols),
            },
        )
        return cls(spark, path)

    # ----------------------------------------------------------- sync
    def last_synced_base_snapshot(self) -> int | None:
        return last_synced_batch_id(self.table, self.SOURCE_ID)

    def sync(self, base, to_id: int | None = None):
        """Fold base changes since the last sync into new version rows."""
        from nvimagecodec_spark.operators.merge import MergeResult, merge_into

        pending = pending_changes(
            self.table, self.SOURCE_ID, base, to_id, with_before=True
        )
        if pending is None:
            return MergeResult(None, [], 0, 0, 0.0, "noop")
        to_id, ch = pending
        # track columns keep their create-time names in the view; in `ch`
        # they carry their names at to_id
        at = resolve_columns(base, self.table, self.track_cols, to_id)
        track = list(zip(self.track_cols, at))
        changed = F.lit(False)
        for _, c in track:
            changed = changed | ~F.col(c).eqNullSafe(F.col(f"before_{c}"))
        keep = (
            (F.col("op") == "I")
            | (F.col("op") == "D")
            | ((F.col("op") == "U") & changed)
        )
        kind = F.when(F.col("op") == "D", self._KIND_DELETE).otherwise(
            self._KIND_VERSION
        )
        tracked = [F.when(F.col("op") != "D", F.col(c)).alias(name) for name, c in track]
        rows = ch.where(keep).select(*self.base_key_cols, kind.alias("kind"), *tracked)
        return merge_into(
            self.table,
            self._merge_batch(rows, to_id),
            tag={"source_id": self.SOURCE_ID, "batch_id": to_id},
        )

    def _merge_batch(self, rows: DataFrame, to_id: int) -> DataFrame:
        """Version rows → pure-insert change batch. Every key is
        (base key..., to_id) — brand new per sync, so the merge never
        conflicts with existing view rows."""
        after = F.to_json(F.struct(F.col("kind"), *[F.col(c) for c in self.track_cols]))
        return rows.select(
            *self.base_key_cols,
            F.lit(to_id).cast("long").alias("valid_from_sid"),
            F.lit("I").alias("op"),
            after.alias("after"),
            F.lit(to_id).cast("long").alias("lsn"),
            F.lit(None).cast("timestamp").alias("commit_ts"),
            F.lit(self.SOURCE_ID).alias("src_file"),
            F.lit(to_id).cast("long").alias("src_offset"),
        )

    # ----------------------------------------------------------- queries
    def history(self) -> DataFrame:
        """The SCD2 table: one row per stored version with
        ``valid_to_sid`` (null while open) and ``is_current``, derived
        from the version log by one per-key lead() window. Delete
        markers close their predecessor and emit no row."""
        log = self.table.read_logical()
        w = Window.partitionBy(*self.base_key_cols).orderBy("valid_from_sid")
        closed = log.withColumn("valid_to_sid", F.lead("valid_from_sid").over(w))
        return closed.where(F.col("kind") == self._KIND_VERSION).select(
            *self.base_key_cols,
            *self.track_cols,
            "valid_from_sid",
            "valid_to_sid",
            F.col("valid_to_sid").isNull().alias("is_current"),
        )

    def current(self) -> DataFrame:
        """Live dimension rows (open versions only)."""
        return self.history().where(F.col("is_current")).drop(
            "valid_to_sid", "is_current"
        )
