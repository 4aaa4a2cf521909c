"""Incrementally-maintained inverted text index over a CDC base table.

Corpus curation keeps asking "which documents contain X" (benchmark
strings, PII markers, blocklisted phrases). A full scan per question is
the 100 TB anti-pattern; the answer is a posting-list table — one row
per (term, doc-key) — maintained INCREMENTALLY from the base table's
snapshot-diff changelog, so each sync touches only changed documents.

Design:

- The index IS a LakeTable keyed (term, *base-key) but BUCKETED ON TERM
  ALONE (``bucket_cols=["term"]``): a term lookup reads exactly one
  bucket of the index while the merge still upserts per posting row.
- ``sync`` folds the base changes ``incremental.pending_changes`` hands
  it (the one derived-table cursor: commit-tag log, replay no-op,
  expired-create bootstrap): before-images give the OLD term set,
  after-images the NEW; postings emit as I (new ∖ old keeps its LWW
  idempotence), D (old ∖ new), nothing for unchanged terms. One changed
  doc costs O(its terms), not O(corpus).
- Exactly-once: the merge is tagged (source, target snapshot id).

Reference analog: the codec registry's index of which plugin claims
which format, rebuilt incrementally as plugins register
(/root/reference/src/codec_registry.cpp + S9 directory scan).
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
from nvimagecodec_spark.operators.text import tokens


def _terms(col) -> F.Column:
    """Distinct lowercase word terms of a text column (empty for null) —
    tokenization is the SHARED text.tokens rule, so the index's term
    definition can never drift from the other text operators."""
    return F.array_distinct(
        F.filter(
            tokens(F.lower(F.coalesce(col, F.lit("")))),
            lambda t: t != "",
        )
    )


class IncrementalTextIndex:
    SOURCE_ID = "text-index-sync"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LakeTable(spark, path)
        props = self.table.meta.get("properties", {})
        self.text_col = props["index.text-col"]
        self.base_keys = props["index.base-keys"].split(",")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        base: LakeTable,
        text_col: str = "text",
        bucket_count: int = 16,
    ) -> "IncrementalTextIndex":
        if text_col not in [f.name for f in base.schema().fields]:
            raise ValueError(f"base table has no column {text_col!r}")
        fields = [T.StructField("term", T.StringType())]
        fields += [f for f in base.schema().fields if f.name in base.key_cols]
        LakeTable.create(
            spark,
            path,
            T.StructType(fields),
            key_cols=["term"] + list(base.key_cols),
            bucket_cols=["term"],
            bucket_count=bucket_count,
            properties={
                "index.text-col": text_col,
                "index.base-keys": ",".join(base.key_cols),
                **base_field_ids(base, [text_col]),
            },
        )
        return cls(spark, path)

    # ------------------------------------------------------------- cursor
    def last_synced_base_snapshot(self) -> int | None:
        return last_synced_batch_id(self.table, self.SOURCE_ID)

    # --------------------------------------------------------------- sync
    def sync(self, base: LakeTable, to_id: int | None = None) -> MergeResult:
        pending = pending_changes(
            self.table, self.SOURCE_ID, base, to_id, with_before=True
        )
        if pending is None:
            return MergeResult(None, [], 0, 0, 0.0, "noop")
        to_id, changes = pending
        (text_col,) = resolve_columns(base, self.table, [self.text_col], to_id)
        return merge_into(
            self.table,
            self._posting_batch(changes, text_col, to_id),
            tag={"source_id": self.SOURCE_ID, "batch_id": to_id},
        )

    def _posting_batch(self, changes: DataFrame, tcol: str, to_id: int) -> DataFrame:
        """Changed docs → posting change events (``tcol``: the text
        column's name in ``changes``). New image terms upsert, (old ∖ new)
        terms delete; a D doc retracts its whole term set."""
        keys = self.base_keys
        new_terms = F.when(F.col("op") != "D", _terms(F.col(tcol))).otherwise(
            F.array().cast("array<string>")
        )
        old_terms = _terms(F.col(f"before_{tcol}"))
        staged = changes.select(
            *keys,
            "lsn",
            "commit_ts",
            new_terms.alias("_new"),
            old_terms.alias("_old"),
        )
        inserts = staged.select(
            *keys,
            "lsn",
            "commit_ts",
            F.explode(F.col("_new")).alias("term"),
            F.lit("I").alias("op"),
        )
        deletes = staged.select(
            *keys,
            "lsn",
            "commit_ts",
            F.explode(F.array_except(F.col("_old"), F.col("_new"))).alias("term"),
            F.lit("D").alias("op"),
        )
        return (
            inserts.unionByName(deletes)
            .select(
                "term",
                *keys,
                "op",
                "lsn",
                "commit_ts",
                # posting rows carry no payload beyond the key itself
                F.when(F.col("op") != "D", F.lit("{}")).alias("after"),
            )
            .withColumn("src_file", F.lit(self.SOURCE_ID))
            .withColumn("src_offset", F.lit(to_id).cast("long"))
        )

    # ------------------------------------------------------------ queries
    def postings(self, term: str) -> DataFrame:
        """Documents containing ``term`` — a ONE-BUCKET read: the index is
        bucketed on term alone, so the scan prunes to bucket(term) before
        any I/O regardless of corpus size."""
        probe = self.spark.createDataFrame(
            [(term,)], T.StructType([T.StructField("term", T.StringType())])
        )
        b = probe.select(
            self.table.bucket_expr(probe).alias("b")
        ).first()["b"]
        return (
            self.table.read_logical(buckets=[b])
            .where(F.col("term") == term)
            .select(*self.base_keys)
        )

    def doc_frequency(self) -> DataFrame:
        """term → number of documents containing it (one combinable agg
        over the live postings)."""
        return self.table.read_logical().groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        )
