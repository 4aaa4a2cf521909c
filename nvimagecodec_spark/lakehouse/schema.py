"""Field-id based evolving table schema (Iceberg-style, from scratch).

Each column has a stable integer ``field_id`` assigned at creation. The
*physical* name (what's written in parquet files) is the name the column had
when first added; renames only change the *logical* name, so old data files
remain readable forever without rewrites. Widening changes the logical type;
reads cast up (parquet int32 → long etc. is a safe upcast).

Reference analog: the reference's per-item schema negotiation — callers
request an output schema and the engine converts
(/root/reference/include/nvimgcodec.h:538-559 requested ImageInfo;
saturating Converter /root/reference/src/imgproc/convert.h:29-240).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# allowed widenings (safe upcasts only), logical type names
_WIDEN_OK = {
    ("int", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("float", "double"),
    ("int", "double"),
    ("bigint", "double"),
    ("date", "timestamp"),
}

_NAME_TO_TYPE = {
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def spark_type_from_name(name: str) -> T.DataType:
    name = name.strip().lower()
    if name in _NAME_TO_TYPE:
        return _NAME_TO_TYPE[name]
    return T._parse_datatype_string(name)


def _cast(col: Column, have: T.DataType | None, want: T.DataType) -> Column:
    """``col`` as ``want``. A cast costs JVM round trips per column every
    time a plan is built, so it is skipped where the input already has
    the type (Spark drops such a cast from the optimized plan anyway)."""
    return col if have == want else col.cast(want)


@dataclass
class ColumnDef:
    field_id: int
    name: str  # logical (current) name
    physical_name: str  # name as written in data files (never changes)
    type_name: str  # simpleString of the logical type
    physical_type_name: str  # type as written in data files
    prev_names: list = field(default_factory=list)  # rename history (oldest first)
    # Drop-column is a TOMBSTONE, not a removal (Iceberg-style): the def —
    # and its field id — stays in the schema forever so old data files and
    # time-travel reads remain interpretable, but every live projection
    # (read, write, export) skips it. Re-adding the same name mints a NEW
    # field id with an id-namespaced physical name, so stale data in old
    # files can never resurface under the re-added column.
    dropped: bool = False

    def logical_type(self) -> T.DataType:
        return spark_type_from_name(self.type_name)

    def physical_type(self) -> T.DataType:
        return spark_type_from_name(self.physical_type_name)


@dataclass
class TableSchema:
    columns: list[ColumnDef] = field(default_factory=list)
    last_field_id: int = 0

    # ------------------------------------------------------------- conversion
    @classmethod
    def from_spark(cls, st: T.StructType) -> "TableSchema":
        cols = []
        for i, f in enumerate(st.fields, start=1):
            tn = f.dataType.simpleString()
            cols.append(ColumnDef(i, f.name, f.name, tn, tn))
        return cls(cols, last_field_id=len(cols))

    @property
    def live_columns(self) -> list:
        return [c for c in self.columns if not c.dropped]

    def to_spark(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.logical_type(), True) for c in self.live_columns]
        )

    def to_spark_physical(self) -> T.StructType:
        """Schema to hand the parquet reader: physical names + LOGICAL types.

        Columns added after a file was written are simply absent in that
        file; Spark's parquet reader null-fills columns present in the
        requested schema but missing in the file — our add-column needs no
        data rewrite. Widened columns use the widest (logical) type: files
        written before the widen hold the narrow type and the parquet
        reader upcasts (int32→long, float→double), files written after
        hold the wide type natively — no rewrite either way.
        """
        return T.StructType(
            [
                T.StructField(c.physical_name, c.logical_type(), True)
                for c in self.live_columns
            ]
        )

    def project_physical_to_logical(self, df: DataFrame, extra_cols: Iterable[str] = ()) -> DataFrame:
        have = {f.name: f.dataType for f in df.schema.fields}
        exprs = [
            _cast(F.col(c.physical_name), have.get(c.physical_name), c.logical_type()).alias(
                c.name
            )
            for c in self.live_columns
        ]
        exprs += [F.col(x) for x in extra_cols if x in have]
        return df.select(*exprs)

    def project_logical_to_physical(self, df: DataFrame, extra_cols: Iterable[str] = ()) -> DataFrame:
        """Inverse projection used on the write path.

        New files are written with physical names but the *logical* type
        (newer files may hold wider values); reads cast back up so mixed
        files coexist."""
        have = {f.name: f.dataType for f in df.schema.fields}
        exprs = []
        for c in self.live_columns:
            if c.name in have:
                col = _cast(F.col(c.name), have[c.name], c.logical_type())
            else:
                col = F.lit(None).cast(c.logical_type())
            exprs.append(col.alias(c.physical_name))
        exprs += [F.col(x) for x in extra_cols if x in have]
        return df.select(*exprs)

    def to_dict(self) -> dict:
        return {
            "last_field_id": self.last_field_id,
            "columns": [c.__dict__ for c in self.columns],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "TableSchema":
        return cls([ColumnDef(**c) for c in d["columns"]], d["last_field_id"])

    # -------------------------------------------------------------- evolution
    def _col(self, name: str) -> ColumnDef:
        for c in self.live_columns:
            if c.name == name:
                return c
        raise KeyError(
            f"no column {name!r}; have {[c.name for c in self.live_columns]}"
        )

    def has_column(self, name: str) -> bool:
        """Live columns only — a dropped column's name is free for re-add."""
        return any(c.name == name for c in self.live_columns)

    def drop_column(self, name: str) -> "TableSchema":
        """Tombstone a column (see ColumnDef.dropped). Idempotent under
        epoch replay: dropping a name that is already dropped (and not
        re-added) is a no-op; dropping a name that never existed raises."""
        if not self.has_column(name):
            if any(c.dropped and c.name == name for c in self.columns):
                return self  # replay of an already-applied drop
            raise KeyError(
                f"no column {name!r}; have {[c.name for c in self.live_columns]}"
            )
        target = self._col(name)
        cols = [
            ColumnDef(
                x.field_id, x.name, x.physical_name, x.type_name,
                x.physical_type_name, x.prev_names,
                True if x.field_id == target.field_id else x.dropped,
            )
            for x in self.columns
        ]
        return TableSchema(cols, self.last_field_id)

    def add_column(self, name: str, dtype: T.DataType) -> "TableSchema":
        if self.has_column(name):
            raise ValueError(f"column {name!r} already exists")
        fid = self.last_field_id + 1
        tn = dtype.simpleString()
        # Physical name is namespaced by field id so a column dropped and
        # re-added never collides with stale data in old files. A user
        # column literally named e.g. 'note_5' could still collide with
        # the generated name (review-caught) — disambiguate until unique.
        taken = {c.physical_name for c in self.columns}
        phys = f"{name}_{fid}"
        while phys in taken:
            phys += "x"
        cols = self.columns + [ColumnDef(fid, name, phys, tn, tn)]
        return TableSchema(cols, fid)

    def rename_column(self, old: str, new: str) -> "TableSchema":
        if self.has_column(new):
            raise ValueError(f"column {new!r} already exists")
        c = self._col(old)
        cols = [
            ColumnDef(
                x.field_id,
                new if x.field_id == c.field_id else x.name,
                x.physical_name,
                x.type_name,
                x.physical_type_name,
                (x.prev_names + [old]) if x.field_id == c.field_id else x.prev_names,
                x.dropped,
            )
            for x in self.columns
        ]
        return TableSchema(cols, self.last_field_id)

    def widen_column(self, name: str, dtype: T.DataType) -> "TableSchema":
        c = self._col(name)
        new_tn = dtype.simpleString()
        if c.type_name == new_tn:
            return self
        if (c.type_name, new_tn) not in _WIDEN_OK:
            raise ValueError(f"illegal widen {c.type_name} -> {new_tn} for column {name!r}")
        cols = [
            ColumnDef(x.field_id, x.name, x.physical_name,
                      new_tn if x.field_id == c.field_id else x.type_name,
                      x.physical_type_name, x.prev_names, x.dropped)
            for x in self.columns
        ]
        return TableSchema(cols, self.last_field_id)
