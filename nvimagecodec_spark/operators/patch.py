"""Partial after-image ("patch") CDC apply — updates that carry ONLY the
changed fields (Debezium/MongoDB ``$set``-style partial images, Cassandra
per-cell updates).

A patch event (``op = 'P'``) has an after-image JSON containing just the
fields the writer touched; every other column must inherit the row's
current value, and an explicitly-``null`` field must null the column
(absence and explicit null are different — presence is detected with
``json_object_keys``, which keeps explicit-null keys in both Spark and
DuckDB).

``expand_patches`` turns a raw change batch that may contain P events into
a standard full-image deduped batch for :func:`merge_into`, so the merge
hot paths stay untouched. Resolution is EXPRESSION-SIDE and combinable:

- Per key, one ``max(struct(meta, full-image))`` picks the latest
  row-defining event (I/U/D), and one ``max(when(P ∧ sets(f), …))`` per
  live column picks the latest patch that sets that column — all map-side
  partial aggregations, never a window (the same skew argument as
  ``lww_dedupe``).
- A patch applies iff it is newer than the row-defining event; patches
  behind a full image are superseded, and a delete is never resurrected
  by a later patch (deletes latch, exactly like the reference's
  "statuses latch once" rule, /root/reference/src/processing_results.cpp:30-48).
- Keys with ONLY patches fill unspecified columns from the table's
  current live row via a bucket-pruned read of just the touched buckets
  (the patch side is broadcast — it is the steady-state trickle); a patch
  to a key that does not exist (or is tombstoned) is dropped, the
  standard no-upsert partial-update contract.

Ordering contract (documented limitation): WITHIN an epoch, per-field
resolution is exact. ACROSS epochs the table stores one order key per
row (row-level LWW, Iceberg sequence-number style), so patch epochs must
be delivered in stream order — the same contract Debezium consumers
already have. A whole patch event older than the table row still loses
via the merge's row-level order check.

Scale shape at 100 TB: one groupBy of the batch (map-side combinable),
one bucket-pruned scan of touched buckets joined against a broadcast
key set — O(batch + touched buckets), never O(table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.lww import ORDER_COLS, _ord_struct
from nvimagecodec_spark.operators.merge import payload_field_names, payload_struct_expr

_META = ["lsn", "commit_ts", "src_file", "src_offset"]
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # matches the wire format parsers emit


def _field_specs(table: LakeTable) -> list[tuple[str, list[str], T.DataType]]:
    """(logical name, json name variants incl. pre-rename, type) per live
    non-key column — the variants ``payload_field_names`` assigns."""
    return [
        (c.name, variants, c.logical_type())
        for c, variants in payload_field_names(table)
    ]


def _value_expr(variants: list[str]) -> F.Column:
    j = F.col("_px")
    return F.coalesce(*[j[v] for v in variants]) if len(variants) > 1 else j[variants[0]]


def _json_field(col: F.Column, dtype: T.DataType) -> F.Column:
    """Serialize a resolved field back into after-image JSON. Timestamps
    use the engine's wire format (micros), the one payload_struct_expr is
    proven to parse losslessly."""
    if isinstance(dtype, T.TimestampType):
        return F.date_format(col, _TS_FMT)
    return col


def expand_patches(
    table: LakeTable, batch: DataFrame, broadcast_fill: bool = True
) -> DataFrame:
    """Raw change batch (op ∈ I,U,D,P) → standard deduped full-image batch
    (op ∈ I,U,D, one row per key) ready for ``merge_into``.

    ``broadcast_fill``: broadcast the patch-only key set when joining the
    table fill read (default — patches are the trickle regime). Pass
    False for patch backfills comparable to table size.
    """
    key_cols = table.key_cols
    specs = _field_specs(table)

    staged = (
        batch.withColumn("_px", payload_struct_expr(table, "after"))
        .withColumn("_keys", F.json_object_keys(F.col("after")))
        .withColumn("_ord", _ord_struct(ORDER_COLS))
    )
    meta = F.struct(
        F.col("_ord").alias("o"), *[F.col(m).alias(m) for m in _META]
    )
    full_val = F.struct(
        F.col("op").alias("op"),
        F.struct(*[_value_expr(v).alias(n) for n, v, _ in specs]).alias("flds"),
    )
    aggs = [
        F.max(
            F.when(F.col("op") != "P", F.struct(meta.alias("m"), full_val.alias("v")))
        ).alias("_full")
    ]
    for name, variants, _ in specs:
        sets_field = F.arrays_overlap(
            F.col("_keys"), F.array(*[F.lit(v) for v in variants])
        )
        aggs.append(
            F.max(
                F.when(
                    (F.col("op") == "P") & sets_field,
                    F.struct(meta.alias("m"), _value_expr(variants).alias("v")),
                )
            ).alias(f"_p_{name}")
        )
    agg = staged.groupBy(*key_cols).agg(*aggs)

    def _meta_cols(m: F.Column) -> list[F.Column]:
        return [m[x].alias(x) for x in _META]

    # ---- keys with a row-defining event: compose full image + newer patches
    fullm, fullv = F.col("_full.m"), F.col("_full.v")
    applied = {
        n: F.col(f"_p_{n}").isNotNull() & (F.col(f"_p_{n}")["m"]["o"] > fullm["o"])
        for n, _, _ in specs
    }
    resolved_full = [
        F.when(applied[n], F.col(f"_p_{n}")["v"]).otherwise(fullv["flds"][n]).alias(n)
        for n, _, _ in specs
    ]
    meta_cands = [fullm] + [F.when(applied[n], F.col(f"_p_{n}")["m"]) for n, _, _ in specs]
    eff_meta = meta_cands[0] if len(meta_cands) == 1 else F.greatest(*meta_cands)
    is_del = fullv["op"] == "D"
    frame_full = agg.where(F.col("_full").isNotNull()).select(
        *key_cols,
        fullv["op"].alias("op"),
        F.when(
            ~is_del,
            F.to_json(
                F.struct(
                    *[
                        _json_field(c, dt).alias(n)
                        for c, (n, _, dt) in zip(resolved_full, specs)
                    ]
                )
            ),
        ).alias("after"),
        *_meta_cols(F.when(is_del, fullm).otherwise(eff_meta)),
    )

    # ---- patch-only keys: fill unspecified columns from the current live
    # row; keys with no live row (missing or tombstoned) are dropped
    po = agg.where(F.col("_full").isNull())
    pm = [F.col(f"_p_{n}")["m"] for n, _, _ in specs]
    po_meta = pm[0] if len(pm) == 1 else F.greatest(*pm)
    po = po.where(po_meta.isNotNull()).select(
        *key_cols,
        *[F.col(f"_p_{n}").alias(f"_p_{n}") for n, _, _ in specs],
        po_meta.alias("_m"),
    )
    buckets = sorted(
        r["b"]
        for r in po.select(table.bucket_expr(po).alias("b")).distinct().collect()
    )
    live = table.read_logical(buckets=buckets)
    rhs = F.broadcast(po) if broadcast_fill else po
    cond = None
    for k in key_cols:
        c = live[k].eqNullSafe(rhs[k])
        cond = c if cond is None else (cond & c)
    joined = live.join(rhs, cond, "inner")
    resolved_po = [
        F.when(rhs[f"_p_{n}"].isNotNull(), rhs[f"_p_{n}"]["v"])
        .otherwise(live[n])
        .alias(n)
        for n, _, _ in specs
    ]
    frame_po = joined.select(
        *[rhs[k].alias(k) for k in key_cols],
        F.lit("U").alias("op"),
        F.to_json(
            F.struct(
                *[
                    _json_field(c, dt).alias(n)
                    for c, (n, _, dt) in zip(resolved_po, specs)
                ]
            )
        ).alias("after"),
        *_meta_cols(rhs["_m"]),
    )
    return frame_full.unionByName(frame_po)
