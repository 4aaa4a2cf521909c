"""nvimagecodec_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch engine whose *capabilities* mirror the reference
(NVIDIA/nvImageCodec — a batched, prioritized, fallback-chained codec
pipeline; see SURVEY.md) re-expressed as an idiomatic Spark CDC pipeline:

- binlog/WAL-style change streams (insert/update/delete/schema-change
  events keyed by ``(conv_id, turn_idx)``, ordered by ``lsn``)
- last-writer-wins dedupe (map-side-combinable ``max(struct(...))`` agg)
- copy-on-write, bucket-partitioned MERGE into an Iceberg-like
  transactional table format (``lakehouse``) with atomic snapshot
  commits, commit tags (exactly-once replays are no-ops), schema
  evolution (add/rename/widen/drop) and time travel
- hot-epoch detection, adaptive per-epoch rate control, per-partition lineage

Reference analogs are cited per-module (file:line into /root/reference).
"""

from nvimagecodec_spark.config import EngineConfig
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.sources.changelog import (
    CHANGE_SCHEMA,
    ChangeStream,
    parse_changes,
)
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.merge import merge_into
from nvimagecodec_spark.streaming.engine import CdcEngine

__all__ = [
    "EngineConfig",
    "LakeTable",
    "ChangeStream",
    "CHANGE_SCHEMA",
    "parse_changes",
    "lww_dedupe",
    "merge_into",
    "CdcEngine",
]

__version__ = "0.1.0"
