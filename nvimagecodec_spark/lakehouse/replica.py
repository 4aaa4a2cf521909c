"""Exactly-once lake-to-lake replication off the snapshot-diff changelog.

A replica is the degenerate derived view: identity transform, same keys.
It also supports the two standard narrowing transforms:

- ``columns=`` — a PROJECTED replica (e.g. a PII-stripped mirror): only
  the listed columns exist downstream; source schema changes to
  untracked columns are ignored, renames/widens/drops of tracked ones
  still propagate.
- ``row_filter=`` — a PREDICATED replica (e.g. one domain's slice): the
  filter is evaluated against each net change's after-image AND (via
  read_changes before-images) its prior image, so a row LEAVING the
  predicate becomes a delete downstream, a row entering becomes an
  insert, and rows that never matched emit nothing at all — the filtered
  replica holds no tombstone shadow of the other 99% of the source.
``sync()`` folds the source's net row changes since the last sync (the
shared derived-table cursor, ``incremental.pending_changes``) into a
sibling LakeTable through the standard order-aware merge, so the replica
inherits every engine guarantee (atomic commits, tag-cursor idempotence,
time travel, bucket-pruned writes) — and because it exposes the
``.table`` + cursor-idempotent ``.sync(base, to_id=)`` contract, it can
be registered in a ``TxnCatalog`` like any other view for
transactionally-consistent fan-out (DR mirrors, region copies, dev
snapshots that track prod).

Schema evolution PROPAGATES: before each data fold, the replica diffs the
source's live schema against its own and replays the implied operations —
adds, widens, drops, and renames (a rename is inferred exactly, not
guessed, because the source schema carries each column's ``prev_names``
history under a stable field id). The one-way assumption is that the
replica's schema history is a prefix of the source's — true by
construction when all schema changes arrive through sync.

Scale shape per sync: one manifest-diff-pruned changelog read + one
bucket-pruned merge. No driver-side loops over data; schema diffing is
metadata-only.

Reference analog: transcode — decode one stream, re-encode into a sink
with the same logical content (`nvimtrans` decode→encode pipeline,
/root/reference/src/nvimtrans.cpp; SURVEY §3.2), plus the chained-engine
replay test tier (tests/test_chained_engines.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nvimagecodec_spark.lakehouse.incremental import (
    last_synced_batch_id,
    pending_changes,
)
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.merge import MergeResult, merge_into

# SQL single-quoted string literal, with '' as the escaped quote.
# Spark SQL (non-ANSI default) accepts BOTH ''-doubling and backslash
# escapes inside string literals; matching only the former would end a
# literal early at \' and let the substitution below rewrite what is
# semantically still literal text (review-caught)
_SQL_LITERAL = re.compile(r"'(?:[^'\\]|\\.|'')*'")


def _sub_outside_literals(sql: str, mapping: dict[str, str]) -> str:
    """Whole-word column-name substitution that never touches the inside
    of single-quoted string literals — so a filter like
    ``category = 'text'`` keeps its literal even when ``text`` is also a
    payload column name. Longer names substitute first so a column whose
    name is a prefix of another is never partially rewritten."""
    ordered = sorted(mapping, key=len, reverse=True)

    def sub(seg: str) -> str:
        for c in ordered:
            seg = re.sub(rf"\b{re.escape(c)}\b", mapping[c], seg)
        return seg

    out: list[str] = []
    last = 0
    for m in _SQL_LITERAL.finditer(sql):
        out.append(sub(sql[last : m.start()]))
        out.append(m.group())  # the literal, verbatim
        last = m.end()
    out.append(sub(sql[last:]))
    return "".join(out)


class TableReplica:
    SOURCE_ID = "replica-sync"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LakeTable(spark, path)
        props = self.table.meta.get("properties", {})
        self.track_all = props.get("replica.columns", "*") == "*"
        self.row_filter = props.get("replica.row-filter") or None

    # ----------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        src: LakeTable,
        bucket_count: int | None = None,
        columns: list[str] | None = None,
        row_filter: str | None = None,
        properties: dict | None = None,
    ) -> "TableReplica":
        """An empty replica of ``src``'s current schema and keys. The
        bucket count may differ (e.g. a smaller dev mirror); the merge
        re-buckets rows under the replica's own transform.

        ``columns``: projected replica — only these columns (key columns
        are always included). ``row_filter``: ANSI boolean SQL over the
        tracked columns; NULL evaluates as not-matching."""
        src_fields = {f.name: f for f in src.schema().fields}
        if columns is not None:
            missing = [c for c in columns if c not in src_fields]
            if missing:
                raise ValueError(f"source has no columns {missing}")
            names = list(dict.fromkeys(list(src.key_cols) + list(columns)))
            schema = type(src.schema())(
                [src_fields[n] for n in src.schema().fieldNames() if n in names]
            )
        else:
            schema = src.schema()
        props = dict(properties or {})
        props["replica.columns"] = "*" if columns is None else ",".join(columns)
        if row_filter:
            # the filter must analyze against exactly the replica's
            # (key + tracked) columns: a reference to an untracked source
            # column would silently evaluate the before-image against the
            # AFTER value (before_<c> is only staged for tracked payload)
            try:
                spark.createDataFrame([], schema).where(F.expr(row_filter))
            except Exception as e:
                raise ValueError(
                    "row_filter must reference only key + tracked columns "
                    f"({[f.name for f in schema.fields]}); analysis failed: {e}"
                ) from e
            props["replica.row-filter"] = row_filter
        LakeTable.create(
            spark,
            path,
            schema,
            list(src.key_cols),
            bucket_count=bucket_count or src.bucket_count,
            properties=props,
        )
        return cls(spark, path)

    # ----------------------------------------------------------- schema
    def _sync_schema(self, src: LakeTable) -> int:
        """Replay source schema evolution onto the replica (metadata-only
        commits). Renames resolve through the source column's prev_names
        history; order is renames → adds → widens → drops so a renamed
        column is never mistaken for a dropped one. Returns the number of
        operations applied."""
        ops = 0
        src_cols = list(src.table_schema.live_columns)
        src_names = {c.name for c in src_cols}
        keys = set(self.table.key_cols)

        rep_names = {c.name for c in self.table.table_schema.live_columns}
        for c in src_cols:
            if c.name in rep_names:
                continue
            prev_here = [p for p in c.prev_names if p in rep_names and p not in src_names]
            if prev_here:
                # the replica still holds an older name of this field
                self.table.rename_column(prev_here[-1], c.name)
                self._rewrite_filter_on_rename(prev_here[-1], c.name)
            elif self.track_all:
                self.table.add_column(c.name, c.type_name)
            else:
                continue  # projected replica: new untracked source columns stay out
            ops += 1
            rep_names = {x.name for x in self.table.table_schema.live_columns}

        for c in src_cols:
            mine = next(
                (x for x in self.table.table_schema.live_columns if x.name == c.name),
                None,
            )
            if mine is not None and mine.type_name != c.type_name:
                self.table.widen_column(c.name, c.type_name)
                ops += 1

        for x in list(self.table.table_schema.live_columns):
            if x.name not in src_names and x.name not in keys:
                self.table.drop_column(x.name)
                ops += 1
        return ops

    def _rewrite_filter_on_rename(self, old: str, new: str) -> None:
        """When a source rename propagates to a column the stored
        row_filter references, rewrite and persist the filter — otherwise
        every future sync fails analysis against the old name."""
        if not self.row_filter:
            return
        rewritten = _sub_outside_literals(self.row_filter, {old: new})
        if rewritten == self.row_filter:
            return
        self.row_filter = rewritten

        def mutate(meta: dict) -> None:
            meta.setdefault("properties", {})["replica.row-filter"] = rewritten

        self.table._update_meta(mutate)

    # ----------------------------------------------------------- sync
    def last_synced_base_snapshot(self) -> int | None:
        return last_synced_batch_id(self.table, self.SOURCE_ID)

    def sync(self, base: LakeTable, to_id: int | None = None) -> MergeResult:
        """Fold source changes since the last sync. Idempotent under the
        (SOURCE_ID, to_id) commit tag; schema evolution is propagated
        first so the data fold lands under the evolved schema."""
        # a predicated replica needs before-images: whether a change emits
        # I/U/D/nothing downstream depends on which side(s) of the filter
        # the old and new images fall on
        pending = pending_changes(
            self.table,
            self.SOURCE_ID,
            base,
            to_id,
            with_before=self.row_filter is not None,
        )
        if pending is None:
            return MergeResult(None, [], 0, 0, 0.0, "noop")
        to_id, changes = pending
        self._sync_schema(base)
        if self.row_filter is not None:
            changes = self._apply_row_filter(changes)
        return merge_into(
            self.table,
            self._events(changes, to_id),
            tag={"source_id": self.SOURCE_ID, "batch_id": to_id},
        )

    def _apply_row_filter(self, changes: DataFrame) -> DataFrame:
        """Predicated replication. Truth table over (old image matched,
        new image matches):  I: emit iff new matches.  U: new matches → U;
        only old matched → D (the row LEFT the slice); neither → nothing.
        D: emit iff old matched. Rows that never matched emit nothing, so
        the replica carries no tombstone shadow of the unmatched corpus.
        NULL filter results count as not-matching (ANSI WHERE semantics).
        """
        keep = F.coalesce(F.expr(self.row_filter), F.lit(False))
        keys = list(self.table.key_cols)
        payload = [
            c.name
            for c in self.table.table_schema.live_columns
            if c.name not in keys and c.name in changes.columns
        ]
        # evaluate the filter on the BEFORE image without a self-join:
        # capture the after-side verdict + payload first, then re-project
        # before_<c> under the canonical names and evaluate again
        staged = changes.withColumn("_keep_after", keep)
        carried = [c for c in changes.columns if not c.startswith("before_")]
        staged = staged.select(
            *[F.col(c) for c in carried],
            F.col("_keep_after"),
            *[F.col(f"before_{c}").alias(f"__b_{c}") for c in payload],
        )
        # the before-side verdict: same filter with payload references
        # rewritten to the __b_ aliases (keys are their own before-image)
        keep_before = F.coalesce(
            F.expr(self._substitute_before(self.row_filter, payload)),
            F.lit(False),
        )
        staged = staged.withColumn("_keep_before", keep_before)
        op_out = (
            F.when(F.col("op") == "I", F.when(F.col("_keep_after"), "I"))
            .when(
                F.col("op") == "U",
                F.when(F.col("_keep_after"), "U").when(F.col("_keep_before"), "D"),
            )
            .otherwise(F.when(F.col("_keep_before"), "D"))
        )
        out = staged.withColumn("op", op_out).where(F.col("op").isNotNull())
        return out.drop("_keep_after", "_keep_before", *[f"__b_{c}" for c in payload])

    @staticmethod
    def _substitute_before(sql: str, payload: list[str]) -> str:
        """Rewrite payload column references in the filter to their
        before-image aliases. Whole-word textual substitution outside
        single-quoted literals — ``category = 'text'`` keeps its literal
        even when ``text`` is also a payload column. The filter grammar
        this replica supports is plain column references (no quoted
        identifiers shadowing payload names)."""
        return _sub_outside_literals(sql, {c: f"__b_{c}" for c in payload})

    def _events(self, changes: DataFrame, to_id: int) -> DataFrame:
        """read_changes output → merge batch (already one net event per
        key, so no dedupe pass). Timestamps serialize through the same
        micros format the parse path uses."""
        keys = list(self.table.key_cols)
        payload = [
            c.name
            for c in self.table.table_schema.live_columns
            if c.name not in keys and c.name in changes.columns
        ]
        def _field(c: str) -> F.Column:
            # timestamps serialize through the micros format the parse
            # path's from_json expects (same as the engine's after-images)
            if changes.schema[c].dataType.simpleString() == "timestamp":
                return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(c)
            return F.col(c)

        after = F.when(
            F.col("op") != "D",
            F.to_json(F.struct(*[_field(c) for c in payload])),
        )
        return changes.select(
            *keys,
            "op",
            "lsn",
            "commit_ts",
            after.alias("after"),
            F.lit(self.SOURCE_ID).alias("src_file"),
            F.lit(to_id).cast("long").alias("src_offset"),
        )
