"""Schema-evolution event applier (SURVEY §7.1 M4, §3.3).

Reference analog: the metadata/control-plane path —
``Decoder.get_metadata`` walking extractors per metadata kind
(/root/reference/extensions/nvtiff/metadata_extractor.cpp:317-466) and the
per-stream barrier before results publish: schema events must be applied
*before* the data merge of the same epoch, in LSN order.

An epoch's events are split at schema events: S-events are tiny (collected
to the driver — they are control messages, not data), sorted by lsn, and
applied to the table via metadata-only commits; the data events of the
epoch then merge under the new schema. Incompatible schema events (unknown
kind / illegal widen) are dead-lettered, mirroring UNSUPPORTED statuses.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nvimagecodec_spark.lakehouse.table import LakeTable


@dataclass
class SchemaApplyResult:
    applied: list[dict]
    rejected: list[dict]

    @property
    def needs_backfill(self) -> bool:
        return any(a.get("kind") in ("add", "rename") for a in self.applied)


def split_schema_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(data_events, schema_events) — one pass, no shuffle."""
    return events.where(F.col("op") != "S"), events.where(F.col("op") == "S")


def apply_schema_events(table: LakeTable, schema_events: DataFrame) -> SchemaApplyResult:
    """Apply S-events to the table in LSN order. Returns applied/rejected."""
    if "schema_change" not in schema_events.columns:
        # a parsed stream whose format carries no schema-event channel
        # (e.g. a snapshot-diff or fixture stream) — nothing to apply,
        # and selecting the absent column must not fail the epoch
        return SchemaApplyResult(applied=[], rejected=[])
    rows = (
        schema_events.select("lsn", "schema_change")
        .where(F.col("schema_change").isNotNull())
        .orderBy("lsn")
        .collect()
    )
    applied: list[dict] = []
    rejected: list[dict] = []
    for r in rows:
        sc = r["schema_change"].asDict()
        sc["lsn"] = r["lsn"]
        kind = (sc.get("kind") or "").lower()
        try:
            if kind == "add":
                if not table.table_schema.has_column(sc["column"]):
                    table.add_column(sc["column"], sc["new_type"] or "string")
                applied.append(sc)
            elif kind == "rename":
                if table.table_schema.has_column(sc["column"]):
                    table.rename_column(sc["column"], sc["new_name"])
                    applied.append(sc)
                elif table.table_schema.has_column(sc["new_name"]):
                    applied.append(sc)  # replay of an already-applied rename → no-op
                else:
                    raise KeyError(f"rename source column {sc['column']!r} missing")
            elif kind == "widen":
                table.widen_column(sc["column"], sc["new_type"])
                applied.append(sc)
            elif kind == "drop":
                # Iceberg-style tombstone: field id retained, extraction
                # stops, excluded from reads/export (the reference's
                # UNSUPPORTED-vs-supported metadata-kind split,
                # /root/reference/extensions/nvtiff/metadata_extractor.cpp:317-466).
                # Dropping a key column or a never-existed column raises
                # inside -> dead-lettered below.
                table.drop_column(sc["column"])
                applied.append(sc)
            else:
                raise ValueError(f"unknown schema-change kind {kind!r}")
        except Exception as e:  # incompatible → dead letter, keep applying rest
            sc["error"] = str(e)
            rejected.append(sc)
    return SchemaApplyResult(applied, rejected)


def reextract_payloads(table: LakeTable) -> None:
    """One-time backfill after an add/rename schema event.

    With bounded delivery disorder, events carrying a new/renamed field can
    be applied in an epoch BEFORE the schema event announcing the field —
    extraction under the then-current schema dropped those values. Such a
    row keeps its winning raw after-image (``_sys_raw``), so applying the
    new schema is a re-extraction over the table: its payload columns are
    recomputed from the raw image under the evolved schema. A row whose
    ``_sys_raw`` is NULL had an image its typed columns hold whole (see
    ``merge.stored_image_expr``) and keeps its typed values; keys, order
    keys and tombstones pass through untouched. Dropped values come back
    through the image ``LakeTable.read`` rebuilds for such rows.

    Cost: one copy-on-write rewrite of the table per add/rename event.
    Schema events are rare (a handful over a table's lifetime), and this is
    the price of exact replay parity under disorder; the common fast path
    (no disorder across the schema boundary) pays nothing extra because the
    rewrite replaces work the next compaction would do anyway.
    """
    from pyspark.sql import functions as F2

    from nvimagecodec_spark.lakehouse.table import BUCKET_COL, SYSTEM_COLS
    from nvimagecodec_spark.operators.merge import (
        _PX_COL,
        payload_extract_exprs,
        payload_struct_expr,
    )

    current = table.read(with_system=True).withColumn(
        _PX_COL, payload_struct_expr(table, "_sys_raw")
    )
    exprs = [F2.col(k) for k in table.key_cols]
    exprs += payload_extract_exprs(table, keep_typed=F2.col("_sys_raw").isNull())
    exprs += [F2.col(c) for c in SYSTEM_COLS]
    exprs.append(F2.col(BUCKET_COL))
    table.overwrite(current.select(*exprs))
