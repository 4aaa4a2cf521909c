"""Pure-pandas reference applier — the engine's independent oracle.

Analog of the reference's OpenCV oracle: decode the same input with a
completely independent implementation and compare
(/root/reference/test/python/utils.py:101-122,167).

Replays the *generator frame* (pre-serialization, FIXTURES.md §4) in
strict ``lsn`` order into a dict keyed by ``(conv_id, turn_idx)``,
honoring schema events. Single-threaded, row at a time,
obviously-correct — everything the engine is not.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from nvimagecodec_spark.sources.generator import payload_dict


def apply_events_pandas(events: pd.DataFrame) -> pd.DataFrame:
    """events: generator output frame (delivery order). Returns the final
    table sorted by (conv_id, turn_idx) with evolved columns."""
    df = events.sort_values(["lsn", "commit_ts"], kind="stable").reset_index(drop=True)
    # duplicates (same lsn) are exact replays — drop all but first
    df = df.drop_duplicates(subset=["lsn", "conv_id", "turn_idx"], keep="first")
    state: dict[tuple, dict] = {}
    columns = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    renames: dict[str, str] = {}

    for _, row in df.iterrows():
        op = row["op"]
        if op == "S":
            sc = row["schema_change"]
            if not isinstance(sc, dict):
                continue
            if sc["kind"] == "add" and sc["column"] not in columns:
                columns.append(sc["column"])
            elif sc["kind"] == "rename":
                old, new = sc["column"], sc["new_name"]
                if old in columns:
                    columns[columns.index(old)] = new
                    renames[old] = new
                    for v in state.values():
                        if old in v:
                            v[new] = v.pop(old)
            elif sc["kind"] == "drop":
                # stop surfacing the column; stored payload values stay in
                # state because the ENGINE keeps each row's winning image
                # (_sys_raw, stored or rebuilt from the typed columns) and
                # re-extracts it on a later re-add —
                # a drop→re-add resurfaces the winning write's value in
                # both implementations
                if sc["column"] in columns:
                    columns.remove(sc["column"])
            elif sc["kind"] == "widen":
                pass  # dtype-level only
            continue
        key = (row["conv_id"], int(row["turn_idx"]))
        if op == "D":
            state.pop(key, None)
            continue
        payload = payload_dict(row)
        rec = {"conv_id": key[0], "turn_idx": key[1], **payload}
        rec["ts"] = pd.Timestamp(rec["ts"])
        for old, new in renames.items():  # normalize historical key names
            if old in rec:
                rec[new] = rec.pop(old)
        # store the FULL winning payload (the _sys_raw analog); the final
        # projection below applies the schema in force at the END — this is
        # what makes add-after-disorder backfill and drop→re-add match the
        # engine's re-extraction semantics
        state[key] = rec

    out = pd.DataFrame(
        [{c: rec.get(c) for c in columns} for rec in state.values()], columns=columns
    )
    if len(out):
        out = out.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    return out


def golden_sha256(final: pd.DataFrame) -> str:
    """Canonical-CSV sha256 of the oracle state (MD5-golden analog,
    /root/reference/test/test_transcode.py:26-66)."""
    canon = final.copy()
    for c in canon.columns:
        if pd.api.types.is_datetime64_any_dtype(canon[c]):
            canon[c] = canon[c].dt.strftime("%Y-%m-%d %H:%M:%S")
    csv = canon.to_csv(index=False)
    return hashlib.sha256(csv.encode()).hexdigest()
