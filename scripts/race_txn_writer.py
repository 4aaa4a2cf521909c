#!/usr/bin/env python
"""One writer process for the multi-process CATALOG race harness.

Launched N-way concurrently by tests/test_multiprocess_race.py against ONE
TxnCatalog path. Each writer runs its own JVM and drives full multi-table
transactions — stage on every catalog table, publish under exactly-once
tags, atomic pointer flip — so the race covers BOTH optimistic-CAS layers
at real process concurrency: the per-table O_EXCL snapshot commit
(publish_staged) and the catalog's O_EXCL cat-v{n}.json flip — both run
the one optimistic loop, VersionedFileStore.update in
nvimagecodec_spark/lakehouse/commit.py, over their own version files.
The single-table half of this story is race_writer.py;
this script is the catalog-pointer half (round-4 verdict item #8).

Writer keys are writer-disjoint but bucket-SHARED, so concurrent publishes
genuinely invalidate each other's staged baselines: ConcurrentModification
(pure roll-back — nothing published) and TxnReplayNeeded (half-in — the
replay's merges skip on their tags) are both EXPECTED and both retried the
way the contract tells callers to: re-begin the epoch against a refreshed
catalog. Conflict counts are printed as evidence the race happened.

Prints one JSON line:
  {"writer", "commits", "cm_conflicts", "replays", "rows_written"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--writer-id", type=int, required=True)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--rows", type=int, default=20)
    ap.add_argument(
        "--barrier",
        default=None,
        help="DIR:N start barrier — touch a ready-file, spin until N exist "
        "(JVM startup staggering would otherwise serialize the writers and "
        "the race never happens).",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from nvimagecodec_spark.lakehouse.table import (
        CommitConflict,
        ConcurrentModification,
    )
    from nvimagecodec_spark.lakehouse.txn import TxnCatalog, TxnReplayNeeded
    from nvimagecodec_spark.operators.lww import lww_dedupe

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"race-txn-{args.writer_id}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # recover=False: intent files seen mid-race belong to LIVE transactions,
    # not crashed ones — recovery is the post-mortem tool, not a bystander's
    cat = TxnCatalog.load(spark, args.catalog, recover=False)
    route_names = sorted(cat.state["tables"])

    if args.barrier:
        bdir, n = args.barrier.rsplit(":", 1)
        os.makedirs(bdir, exist_ok=True)
        open(os.path.join(bdir, f"ready-{args.writer_id}"), "w").close()
        deadline = time.time() + 120
        while len([f for f in os.listdir(bdir) if f.startswith("ready-")]) < int(n):
            if time.time() > deadline:
                raise TimeoutError("barrier wait exceeded 120s")
            time.sleep(0.05)

    def batch_for(route: str, batch_id: int):
        # writer-disjoint keys (conv "w{id}-{row}") on shared buckets: every
        # writer's merge touches the same bucket set, so racing publishes
        # collide on assumed_files while no writer can clobber another's rows
        return lww_dedupe(
            spark.range(args.rows).select(
                F.lit("U").alias("op"),
                F.concat(F.lit(f"w{args.writer_id}-"), F.col("id").cast("string")).alias(
                    "conv_id"
                ),
                F.lit(0).cast("int").alias("turn_idx"),
                F.lit(batch_id).cast("long").alias("lsn"),
                F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("commit_ts"),
                F.lit(f"w{args.writer_id}").alias("src_file"),
                F.col("id").alias("src_offset"),
                F.to_json(
                    F.struct(F.lit(f"{route}-b{batch_id}-w{args.writer_id}").alias("text"))
                ).alias("after"),
            )
        )

    commits = 0
    cm_conflicts = 0
    replays = 0
    rows_written = 0
    for b in range(args.batches):
        for attempt in range(60):
            cat.refresh()
            txn = cat.begin(f"w{args.writer_id}", b)
            try:
                for route in route_names:
                    txn.merge(route, batch_for(route, b))
                txn.commit()
                commits += 1
                rows_written += args.rows * len(route_names)
                break
            except TxnReplayNeeded:
                replays += 1
                time.sleep(0.02 * (attempt % 5))
            except (ConcurrentModification, CommitConflict):
                cm_conflicts += 1
                if not txn._done:
                    txn.abort()
                time.sleep(0.02 * (attempt % 5))
        else:
            raise SystemExit(f"writer {args.writer_id}: batch {b} never converged")

    print(
        json.dumps(
            {
                "writer": args.writer_id,
                "commits": commits,
                "cm_conflicts": cm_conflicts,
                "replays": replays,
                "rows_written": rows_written,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
