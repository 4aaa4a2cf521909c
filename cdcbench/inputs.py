"""Seeded inputs and the oracle check.

Inputs come from the engine's own generator (``generate_change_events``):
Zipf hot keys, duplicates, bounded disorder and, for ``backfill``, the
generator's schema events. Each staged file holds one epoch and carries all
five wire formats (JSON lines, Debezium, binary, TSV, Avro single-object) in
equal contiguous blocks, so every epoch exercises every format probe and
epochs of one workload do the same kind of work.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from nvimagecodec_spark.oracle import apply_events_pandas
from nvimagecodec_spark.sources.generator import encode_row

ENCODINGS = ["jsonl", "dbz", "cdcb", "tsv", "avro"]


def encode_file(frame: pd.DataFrame, path: str, mtime: float, junk: list[str] = ()) -> int:
    """Write ``frame`` (delivery order) as one file of mixed wire formats,
    with the ``junk`` lines spread evenly through it. Returns the line count."""
    rows = frame.to_dict("records")
    blocks = np.array_split(np.arange(len(rows)), len(ENCODINGS))
    lines = [encode_row(rows[i], enc) for enc, idx in zip(ENCODINGS, blocks) for i in idx]
    step = max(1, len(lines) // (len(junk) + 1))
    for k, bad in enumerate(junk):
        lines.insert((k + 1) * step + k, bad)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    # the file source orders files by modification time
    os.utime(path, (mtime, mtime))
    return len(lines)


def malformed_lines(seed: int, n: int) -> list[str]:
    """Lines no format accepts: free text and truncated JSON / Debezium."""
    out = []
    for i in range(n):
        kind = i % 3
        if kind == 0:
            out.append(f"corrupt record {seed}-{i} ::: not a change event")
        elif kind == 1:
            out.append('{"op": "U", "lsn": ' + str(10**12 + i) + ', "conv_id": "conv-')
        else:
            out.append('{"payload": {"op": "u", "after": {"conv_id": "conv-0000')
    return out


def canon_oracle(events: pd.DataFrame) -> list[dict]:
    return canon(apply_events_pandas(events))


def canon_table(table) -> list[dict]:
    return canon(table.read_logical().toPandas())


def canon(df: pd.DataFrame) -> list[dict]:
    """Rows in (conv_id, turn_idx) order with comparable values: None for
    nulls, whole numbers as int (a fractional float stays a float, so 2.5
    never equals 2), timestamps as text (the tests' form)."""
    if "ts" in df and len(df):
        df = df.assign(ts=pd.to_datetime(df["ts"]).dt.strftime("%Y-%m-%d %H:%M:%S"))
    rows = [{col: _value(v) for col, v in row.items()} for row in df.to_dict("records")]
    return sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))


def _value(v):
    if pd.isna(v):
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return int(v) if v == int(v) else float(v)
    return v


def mismatch(got: list[dict], want: list[dict]) -> str | None:
    """None when equal; otherwise a one-line description of the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: {g} != oracle {w}"
    return None
