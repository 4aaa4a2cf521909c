"""Incrementally-maintained aggregate view (materialized GROUP BY).

A count/sum rollup of a CDC-maintained base table, stored as its own
LakeTable and kept fresh with O(changed-rows) work per sync — the
streaming-materialized-view pattern: never re-aggregate the world
because one epoch landed.

Maintenance is RETRACTION-based. ``read_changes(with_before=True)``
yields before/after images, and every change row contributes signed
deltas:

- I → ``(+1, +after)`` under the after-image's group,
- D → ``(−1, −before)`` under the before-image's group,
- U → BOTH — so a row whose group column changed migrates cleanly
  (its old group shrinks, its new group grows).

Deltas collapse to one row per touched group (map-side combinable sum —
the only shuffle of the sync), current totals for exactly the touched
view buckets are read back (the delta group keys are pushed through the
view's own bucket transform; untouched buckets are never scanned), and
new totals merge in through the same exactly-once tagged ``merge_into``
as data. A group whose row count returns to zero is deleted, not left
as a ghost row.

Sync cursor = the view table's commit-tag log (batch_id = base snapshot
id), read through ``incremental.pending_changes`` like every derived
table: replays are no-ops, and a view created after the base's create
snapshot was expired bootstraps from full state (I rows with NULL
before-images, which the retraction arithmetic needs no case for).

Reference analog: incremental status accumulation — per-batch results
fold into a persistent status vector rather than recomputing all
samples (/root/reference/src/processing_results.h:51-89).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.lakehouse.incremental import (
    base_field_ids,
    last_synced_batch_id,
    pending_changes,
    resolve_columns,
)
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.merge import MergeResult, merge_into

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class IncrementalAggView:
    """``SELECT group_cols, count(*), sum(sum_cols...)`` as a LakeTable."""

    SOURCE_ID = "aggview-sync"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LakeTable(spark, path)
        props = self.table.meta.get("properties", {})
        self.group_cols = props["aggview.group-cols"].split(",")
        self.sum_cols = [c for c in props["aggview.sum-cols"].split(",") if c]
        self.min_cols = [c for c in props.get("aggview.min-cols", "").split(",") if c]
        self.max_cols = [c for c in props.get("aggview.max-cols", "").split(",") if c]
        # views created before the nn_ counters lack those columns —
        # they keep the old sum semantics (all-null group sums to 0)
        # instead of failing to read (same legacy rule as bucket_cols)
        names = {f.name for f in self.table.schema().fields}
        self._has_nn = all(f"nn_{c}" in names for c in self.sum_cols)

    @property
    def _mm_cols(self) -> list[str]:
        return sorted(set(self.min_cols) | set(self.max_cols))

    # ----------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        base: LakeTable,
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        bucket_count: int | None = None,
        min_cols: list[str] | None = None,
        max_cols: list[str] | None = None,
    ) -> "IncrementalAggView":
        """``min_cols``/``max_cols``: maintain MIN/MAX per group. Unlike
        count/sum these are not retraction-invertible — a delete of the
        current extremum forces an AFFECTED-GROUP recompute (see sync);
        numeric and string columns only (types whose JSON round-trip is
        exact)."""
        sum_cols = sum_cols or []
        min_cols = min_cols or []
        max_cols = max_cols or []
        base_fields = {f.name: f for f in base.schema().fields}
        for c in group_cols + sum_cols + min_cols + max_cols:
            if c not in base_fields:
                raise ValueError(f"base table has no column {c!r}")
        mm_ok = _INTEGRAL + (T.FloatType, T.DoubleType, T.StringType)
        for c in set(min_cols) | set(max_cols):
            if not isinstance(base_fields[c].dataType, mm_ok):
                raise ValueError(
                    f"min/max column {c!r} must be numeric or string, "
                    f"got {base_fields[c].dataType.simpleString()}"
                )
        fields = [T.StructField(c, base_fields[c].dataType) for c in group_cols]
        fields.append(T.StructField("n_rows", T.LongType()))
        for c in sum_cols:
            # integral sums stay exact (long); everything else widens to
            # double — incremental +/- on long never drifts, which keeps
            # the view hash-identical to a from-scratch recompute.
            t = base_fields[c].dataType
            out_t = T.LongType() if isinstance(t, _INTEGRAL) else T.DoubleType()
            fields.append(T.StructField(f"sum_{c}", out_t))
        for c in min_cols:
            fields.append(T.StructField(f"min_{c}", base_fields[c].dataType))
        for c in max_cols:
            fields.append(T.StructField(f"max_{c}", base_fields[c].dataType))
        for c in sum_cols:
            # non-null contribution counter: lets totals() report SQL
            # semantics exactly — SUM over an all-null group is NULL, not
            # the 0 the signed-coalesce arithmetic would leave behind
            fields.append(T.StructField(f"nn_{c}", T.LongType()))
        LakeTable.create(
            spark,
            path,
            T.StructType(fields),
            list(group_cols),
            bucket_count=bucket_count or base.bucket_count,
            properties={
                "aggview.group-cols": ",".join(group_cols),
                "aggview.sum-cols": ",".join(sum_cols),
                "aggview.min-cols": ",".join(min_cols),
                "aggview.max-cols": ",".join(max_cols),
                **base_field_ids(
                    base, list(dict.fromkeys(group_cols + sum_cols + min_cols + max_cols))
                ),
            },
        )
        return cls(spark, path)

    # ----------------------------------------------------------- sync
    def last_synced_base_snapshot(self) -> int | None:
        return last_synced_batch_id(self.table, self.SOURCE_ID)

    def sync(self, base: LakeTable, to_id: int | None = None) -> MergeResult:
        """Fold base changes since the last sync into the view."""
        pending = pending_changes(
            self.table, self.SOURCE_ID, base, to_id, with_before=True
        )
        if pending is None:
            return MergeResult(None, [], 0, 0, 0.0, "noop")
        to_id, ch = pending
        # view column name → the base column's name at to_id
        cols = list(dict.fromkeys(self.group_cols + self.sum_cols + self._mm_cols))
        names = dict(zip(cols, resolve_columns(base, self.table, cols, to_id)))
        plus = self._signed(ch.where(F.col("op") != "D"), "", 1, names)
        minus = self._signed(ch.where(F.col("op") != "I"), "before_", -1, names)
        # cached: the collapsed deltas (one row per touched group) feed
        # both the bucket discovery collect and the totals join
        deltas = self._collapse(plus.unionByName(minus)).cache()
        try:
            batch = self._merge_batch(deltas, to_id, base, names)
            return merge_into(
                self.table,
                batch,
                tag={"source_id": self.SOURCE_ID, "batch_id": to_id},
            )
        finally:
            deltas.unpersist()

    def _signed(
        self, rows: DataFrame, prefix: str, sign: int, names: dict[str, str]
    ) -> DataFrame:
        """One signed contribution per change row: group key from the
        ``prefix`` image, ±1 row count, ± each sum column. A group/sum
        column that is a base KEY col has no ``before_`` copy (keys
        cannot change) — it reads unprefixed on both sides."""
        cols = set(rows.columns)

        def img(c: str) -> F.Column:
            c = names[c]
            return F.col(f"{prefix}{c}" if f"{prefix}{c}" in cols else c)

        gs = [img(g).alias(g) for g in self.group_cols]
        ss = [
            (F.lit(sign) * F.coalesce(img(c), F.lit(0))).alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        nn = [
            (F.lit(sign) * img(c).isNotNull().cast("long")).alias(f"nn_{c}")
            for c in (self.sum_cols if self._has_nn else [])
        ]
        mm = [img(c).alias(f"_mm_{c}") for c in self._mm_cols]
        return rows.select(
            *gs, F.lit(sign).cast("long").alias("n_rows"), *ss, *nn, *mm
        )

    def _collapse(self, contributions: DataFrame) -> DataFrame:
        aggs = (
            [F.sum("n_rows").alias("n_rows")]
            + [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in self.sum_cols]
            + [
                F.sum(f"nn_{c}").alias(f"nn_{c}")
                for c in (self.sum_cols if self._has_nn else [])
            ]
        )
        # min/max bookkeeping: per group, the epoch's INSERTED candidates
        # (can only extend the stored extremum monotonically) and the
        # RETRACTED values (may have BEEN the stored extremum — the
        # recompute trigger). The per-row sign (±1) distinguishes them.
        ins = F.col("n_rows") == 1
        for c in self._mm_cols:
            v = F.col(f"_mm_{c}")
            if c in self.min_cols:
                aggs.append(F.min(F.when(ins, v)).alias(f"_ins_min_{c}"))
                aggs.append(F.min(F.when(~ins, v)).alias(f"_ret_min_{c}"))
            if c in self.max_cols:
                aggs.append(F.max(F.when(ins, v)).alias(f"_ins_max_{c}"))
                aggs.append(F.max(F.when(~ins, v)).alias(f"_ret_max_{c}"))
        return contributions.groupBy(*self.group_cols).agg(*aggs)

    def _merge_batch(
        self, deltas: DataFrame, to_id: int, base: LakeTable, names: dict[str, str]
    ) -> DataFrame:
        """deltas + current totals of the TOUCHED buckets → change rows."""
        # The delta side is one row per touched GROUP — bounded by the
        # epoch's distinct groups, and the bucket list by bucket_count.
        touched = [
            r["b"]
            for r in deltas.select(
                self.table.bucket_expr(deltas).alias("b")
            ).distinct().collect()
        ]
        sum_out = [f"sum_{c}" for c in self.sum_cols] + [
        # additive like the sums; absent on pre-counter legacy views
            f"nn_{c}" for c in (self.sum_cols if self._has_nn else [])
        ]
        mm_out = [f"min_{c}" for c in self.min_cols] + [
            f"max_{c}" for c in self.max_cols
        ]
        state = self.table.read(buckets=touched, with_system=True)
        state = state.where(~F.coalesce(F.col("_sys_deleted"), F.lit(False))).select(
            *[F.col(g).alias(f"o_{g}") for g in self.group_cols],
            F.col("n_rows").alias("o_n"),
            *[F.col(c).alias(f"o_{c}") for c in sum_out + mm_out],
        )
        cond = None
        for g in self.group_cols:
            c = F.col(f"o_{g}").eqNullSafe(F.col(g))
            cond = c if cond is None else (cond & c)
        j = deltas.join(state, cond, "left_outer")
        o_exists = F.col("o_n").isNotNull()
        new_n = F.coalesce(F.col("o_n"), F.lit(0)) + F.col("n_rows")
        new_sums = [
            (F.coalesce(F.col(f"o_{s}"), F.lit(0)) + F.col(s)).alias(s) for s in sum_out
        ]
        gkeys = [
            F.coalesce(F.col(g), F.col(f"o_{g}")).alias(g) for g in self.group_cols
        ]

        # MIN/MAX maintenance. Inserts extend monotonically
        # (least/greatest, null-skipping); a RETRACTION threatens the
        # stored extremum only when the retracted value ties-or-beats it —
        # the equality gate that keeps recomputes rare under ordinary
        # update traffic. Flagged groups recompute from the base's live
        # state AT THE SYNC TARGET SNAPSHOT (pinned: a later unsynced
        # epoch must not leak in), filtered to exactly those groups via a
        # broadcast join — O(affected-groups) compute; the scan reads only
        # the group + min/max columns (parquet column pruning), the one
        # non-incremental cost this aggregate family fundamentally has.
        rc_flags = []
        for c in self.min_cols:
            rc_flags.append(
                F.col(f"_ret_min_{c}").isNotNull()
                & o_exists
                & (
                    F.col(f"o_min_{c}").isNull()
                    | (F.col(f"_ret_min_{c}") <= F.col(f"o_min_{c}"))
                )
            )
        for c in self.max_cols:
            rc_flags.append(
                F.col(f"_ret_max_{c}").isNotNull()
                & o_exists
                & (
                    F.col(f"o_max_{c}").isNull()
                    | (F.col(f"_ret_max_{c}") >= F.col(f"o_max_{c}"))
                )
            )
        need_rc = None
        for f in rc_flags:
            need_rc = f if need_rc is None else (need_rc | f)

        carried = (
            [F.col("n_rows").alias("_d_n")]
            + [F.col(f"_ins_min_{c}").alias(f"_ins_min_{c}") for c in self.min_cols]
            + [F.col(f"_ins_max_{c}").alias(f"_ins_max_{c}") for c in self.max_cols]
            + [F.col(f"o_min_{c}").alias(f"o_min_{c}") for c in self.min_cols]
            + [F.col(f"o_max_{c}").alias(f"o_max_{c}") for c in self.max_cols]
        )
        rows = j.select(
            *gkeys,
            o_exists.alias("_had"),
            new_n.alias("_n"),
            *new_sums,
            *carried,
            (need_rc if need_rc is not None else F.lit(False)).alias("_rc"),
        )
        # zero-count groups: delete if the view held them, skip otherwise
        rows = rows.where(F.col("_had") | (F.col("_n") != 0))

        if self._mm_cols:
            rc_groups = rows.where(F.col("_rc") & (F.col("_n") != 0)).select(
                *self.group_cols
            )
            live = base.read(snapshot_id=to_id, with_system=True)
            live = live.where(~F.coalesce(F.col("_sys_deleted"), F.lit(False)))
            ccond = None
            for g in self.group_cols:
                c = live[names[g]].eqNullSafe(rc_groups[g])
                ccond = c if ccond is None else (ccond & c)
            rc = (
                live.join(F.broadcast(rc_groups), ccond)
                .groupBy(*[rc_groups[g].alias(g) for g in self.group_cols])
                .agg(
                    *[F.min(live[names[c]]).alias(f"_rc_min_{c}") for c in self.min_cols],
                    *[F.max(live[names[c]]).alias(f"_rc_max_{c}") for c in self.max_cols],
                )
            )
            jcond = None
            for g in self.group_cols:
                c = rows[g].eqNullSafe(rc[g])
                jcond = c if jcond is None else (jcond & c)
            rows = rows.join(rc, jcond, "left_outer").select(
                *[rows[c] for c in rows.columns],
                *[rc[f"_rc_min_{c}"] for c in self.min_cols],
                *[rc[f"_rc_max_{c}"] for c in self.max_cols],
            )
            mm_final = []
            for c in self.min_cols:
                mm_final.append(
                    F.when(F.col("_rc"), F.col(f"_rc_min_{c}"))
                    .otherwise(F.least(F.col(f"o_min_{c}"), F.col(f"_ins_min_{c}")))
                    .alias(f"min_{c}")
                )
            for c in self.max_cols:
                mm_final.append(
                    F.when(F.col("_rc"), F.col(f"_rc_max_{c}"))
                    .otherwise(F.greatest(F.col(f"o_max_{c}"), F.col(f"_ins_max_{c}")))
                    .alias(f"max_{c}")
                )
            rows = rows.select(
                *self.group_cols, "_had", "_n", *sum_out, *mm_final
            )

        after = F.to_json(
            F.struct(
                F.col("_n").alias("n_rows"),
                *[F.col(s) for s in sum_out],
                *[F.col(m) for m in mm_out],
            ),
            {"ignoreNullFields": "false"},
        )  # sum_out already includes the nn_ counters
        return rows.select(
            *self.group_cols,
            F.when(F.col("_n") == 0, "D").otherwise("I").alias("op"),
            F.when(F.col("_n") != 0, after).alias("after"),
            F.lit(to_id).cast("long").alias("lsn"),
            F.lit(None).cast("timestamp").alias("commit_ts"),
            F.lit(self.SOURCE_ID).alias("src_file"),
            F.lit(to_id).cast("long").alias("src_offset"),
        )

    # ----------------------------------------------------------- queries
    def totals(self) -> DataFrame:
        """Live view rows with SQL aggregate semantics: group cols +
        n_rows + sum_<c> (NULL when every contribution was null, exactly
        like SQL SUM — the internal non-null counters are consumed here
        and hidden) + min_/max_<c>."""
        df = self.table.read_logical()
        out = [F.col(g) for g in self.group_cols] + [F.col("n_rows")]
        for c in self.sum_cols:
            if self._has_nn:
                out.append(
                    F.when(F.col(f"nn_{c}") > 0, F.col(f"sum_{c}")).alias(f"sum_{c}")
                )
            else:  # legacy view without counters: old 0-sum semantics
                out.append(F.col(f"sum_{c}"))
        out += [F.col(f"min_{c}") for c in self.min_cols]
        out += [F.col(f"max_{c}") for c in self.max_cols]
        return df.select(*out)
