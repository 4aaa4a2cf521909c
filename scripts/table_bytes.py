#!/usr/bin/env python
"""Where a table's data-file bytes go, per snapshot and per column.

    python scripts/table_bytes.py <table-dir> [--snapshot ID] [--json]

For each snapshot (or only ``--snapshot``) it sums, over the snapshot's
live data files, every column chunk's compressed and uncompressed bytes
from the parquet footers, plus two rows for the rest of each file:
``footer`` (the serialized FileMetaData) and ``page-index`` (what lies
between the last column chunk and the footer: column and offset indexes,
and parquet bloom filters if a writer added any). The 12 framing bytes of
every file (magic and footer length) are in neither row. Reads table
metadata and parquet footers only: no SparkSession, no data pages. Files
that snapshot expiry already deleted are counted under ``missing_files``
and skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nvimagecodec_spark.lakehouse.table import LakeTable  # noqa: E402


_FRAMING = 12  # leading "PAR1", footer length, trailing "PAR1"


def snapshot_bytes(table: LakeTable, snapshot_id: int) -> dict:
    snap = table.snapshot(snapshot_id)
    cols: dict[str, list[int]] = {}
    out = {"snapshot_id": snapshot_id, "operation": snap.operation, "files": 0,
           "missing_files": 0, "rows": 0, "bytes": 0, "columns": cols}
    footer = page_index = 0
    for f in snap.files:
        if not os.path.exists(f["path"]):
            out["missing_files"] += 1
            continue
        md = pq.ParquetFile(f["path"]).metadata
        size = os.path.getsize(f["path"])
        out["files"] += 1
        out["rows"] += md.num_rows
        out["bytes"] += size
        chunks = 0
        for rg in range(md.num_row_groups):
            for i in range(md.num_columns):
                c = md.row_group(rg).column(i)
                acc = cols.setdefault(c.path_in_schema, [0, 0])
                acc[0] += c.total_compressed_size
                acc[1] += c.total_uncompressed_size
                chunks += c.total_compressed_size
        footer += md.serialized_size
        page_index += size - chunks - md.serialized_size - _FRAMING
    cols["footer"] = [footer, footer]
    cols["page-index"] = [page_index, page_index]
    return out


def render(s: dict) -> str:
    lines = [
        f"snapshot {s['snapshot_id']} ({s['operation']}): {s['files']} files, "
        f"{s['rows']} rows, {s['bytes']} B"
        + (f", {s['missing_files']} files gone" if s["missing_files"] else ""),
        f"  {'column':<16} {'compressed':>12} {'uncompressed':>13} {'share':>6}",
    ]
    for name, (comp, raw) in s["columns"].items():
        share = comp / s["bytes"] if s["bytes"] else 0.0
        lines.append(f"  {name:<16} {comp:>12} {raw:>13} {share:>6.1%}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("table")
    ap.add_argument("--snapshot", type=int)
    ap.add_argument("--json", action="store_true", help="one JSON line per snapshot")
    args = ap.parse_args(argv)
    table = LakeTable.load(None, args.table)
    ids = (
        [args.snapshot]
        if args.snapshot is not None
        else [s["snapshot_id"] for s in table.meta["snapshots"]]
    )
    for sid in ids:
        s = snapshot_bytes(table, sid)
        print(json.dumps(s) if args.json else render(s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
