"""CDC-fed incremental near-dup signature index.

A 100-TB corpus under continuous CDC ingest cannot re-minhash the world
every time a batch of transcripts lands: signature maintenance must be
O(changed rows), not O(corpus). This operator closes the loop between the
engine's two halves — the lakehouse changelog (axis A) FEEDS the
training-data dedup tier (axis B):

    base LakeTable ──read_changes──▶ changed keys only
                                     │ minhash over changed texts
                                     ▼
    signature LakeTable ◀─merge_into── (I/U upserts, D tombstones)

The signature store IS a LakeTable — maintained by the same order-aware
MERGE operator as the data, so it inherits every engine guarantee for
free: bucket-pruned copy-on-write (only buckets holding changed keys
rewrite), LWW resolution on the base table's (lsn, commit_ts) order (a
stale replayed sync can never clobber a newer signature), atomic
snapshot commits, time travel, and EXACTLY-ONCE sync via commit tags
keyed by the base snapshot id — ``sync()`` is idempotent and crash-safe
(a re-run of a completed sync is a tagged no-op; a crashed sync left no
partial commit to heal). The cursor itself lives in
``lakehouse/incremental.py`` (``pending_changes``), shared by every
derived table.

Scale shape per sync: one bucket-pruned changelog scan (read_changes
prunes to buckets whose file sets changed), one shingle-explode +
partial-aggregated min over CHANGED rows only, one bucket-pruned merge.
Nothing touches unchanged data; no driver-side loops.

Reference analog: the reference keeps per-stream decode state cached and
re-parses only streams whose underlying bytes changed
(/root/reference/src/code_stream.cpp:106-142 parse-once caching;
/root/reference/src/image_generic_codec.h:605-638 result visibility
synchronized before publish).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.functions.hashing import md5_hash32
from nvimagecodec_spark.lakehouse.incremental import (
    base_field_ids,
    last_synced_batch_id,
    pending_changes,
    resolve_columns,
)
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.dedup import minhash_lsh_pairs
from nvimagecodec_spark.operators.merge import MergeResult, merge_into


class IncrementalDedupIndex:
    """MinHash signature index over a CDC-maintained base table.

    Signatures live in a sibling LakeTable sharing the base's key
    columns and bucket count (same xxhash64 bucket transform ⇒ a changed
    base bucket maps to exactly one index bucket). Config is persisted
    in table properties so re-opening needs only the path.
    """

    SOURCE_ID = "dedup-sync"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LakeTable(spark, path)
        props = self.table.meta.get("properties", {})
        self.n_hashes = int(props["dedup.n-hashes"])
        self.shingle_n = int(props["dedup.shingle-n"])
        self.text_col = props["dedup.text-col"]

    # ----------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        base: LakeTable,
        n_hashes: int = 8,
        shingle_n: int = 3,
        text_col: str = "text",
    ) -> "IncrementalDedupIndex":
        if text_col not in [f.name for f in base.schema().fields]:
            raise ValueError(f"base table has no column {text_col!r}")
        fields = [f for f in base.schema().fields if f.name in base.key_cols]
        fields += [T.StructField(f"mh{i}", T.LongType()) for i in range(n_hashes)]
        fields += [T.StructField("n_shingles", T.IntegerType())]
        LakeTable.create(
            spark,
            path,
            T.StructType(fields),
            list(base.key_cols),
            bucket_count=base.bucket_count,
            properties={
                "dedup.n-hashes": str(n_hashes),
                "dedup.shingle-n": str(shingle_n),
                "dedup.text-col": text_col,
                **base_field_ids(base, [text_col]),
            },
        )
        return cls(spark, path)

    # ----------------------------------------------------------- sync
    def last_synced_base_snapshot(self) -> int | None:
        """Highest base snapshot id already folded in (from commit tags —
        the tag log is the sync cursor, no sidecar state to drift)."""
        return last_synced_batch_id(self.table, self.SOURCE_ID)

    def sync(self, base: LakeTable, to_id: int | None = None) -> MergeResult:
        """Fold base-table changes since the last sync into the index.

        Cursor, first-sync and replay rules are
        ``incremental.pending_changes``'s; the merge is tagged
        (SOURCE_ID, to_id). LWW order: the base's (lsn, commit_ts)
        carries over, with the target snapshot id as the tie-breaking
        offset so a text change that kept its lsn/commit_ts still updates
        the signature.
        """
        pending = pending_changes(self.table, self.SOURCE_ID, base, to_id)
        if pending is None:
            return MergeResult(None, [], 0, 0, 0.0, "noop")
        to_id, changes = pending
        (text_col,) = resolve_columns(base, self.table, [self.text_col], to_id)
        return merge_into(
            self.table,
            self._signature_batch(changes, text_col, to_id),
            tag={"source_id": self.SOURCE_ID, "batch_id": to_id},
        )

    def _signature_batch(self, changes: DataFrame, text_col: str, to_id: int) -> DataFrame:
        """Changed keys → signature change events (merge_into contract:
        keys + op + after-JSON + the four order columns); ``text_col`` is
        the text column's name in ``changes``."""
        keys = list(self.table.key_cols)
        n = self.shingle_n

        live = changes.where(F.col("op") != "D")
        toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        sh_expr = F.expr(
            f"transform(sequence(0, size(_toks) - {n}), "
            f"i -> concat_ws(' ', slice(_toks, i + 1, {n})))"
        )
        sh = (
            live.select(*keys, toks.alias("_toks"))
            .where(F.size("_toks") >= n)
            .select(*keys, F.explode(F.array_distinct(sh_expr)).alias("shingle"))
        )
        aggs = [
            F.min(md5_hash32(F.col("shingle"), seed=s)).alias(f"mh{s}")
            for s in range(self.n_hashes)
        ] + [F.count(F.lit(1)).alias("n_shingles")]
        sigs = sh.groupBy(*keys).agg(*aggs)

        # EVERY live changed key gets a row — a doc updated from long to
        # shingle-able-length-or-below must overwrite its stale signature
        # with nulls, not silently keep it.
        sig_cols = [f"mh{i}" for i in range(self.n_hashes)]
        upserts = (
            live.select(*keys, "op", "lsn", "commit_ts")
            .join(sigs, keys, "left")
            .select(
                *keys,
                "op",
                "lsn",
                "commit_ts",
                F.to_json(
                    F.struct(
                        *[F.col(c) for c in sig_cols],
                        F.coalesce(F.col("n_shingles"), F.lit(0)).cast("int").alias(
                            "n_shingles"
                        ),
                    )
                ).alias("after"),
            )
        )
        deletes = changes.where(F.col("op") == "D").select(
            *keys, "op", "lsn", "commit_ts", F.lit(None).cast("string").alias("after")
        )
        return (
            upserts.unionByName(deletes)
            .withColumn("src_file", F.lit(self.SOURCE_ID))
            .withColumn("src_offset", F.lit(to_id).cast("long"))
        )

    # ----------------------------------------------------------- queries
    def signatures(self) -> DataFrame:
        """Live signature rows (keys + mh0.. + n_shingles)."""
        return self.table.read_logical()

    def pairs(self, bands: int | None = None, rows_per_band: int = 2) -> DataFrame:
        """LSH candidate near-dup pairs over the CURRENT index state.

        Keys are composited to one string id for the banding self-join
        (pair output wants one column per side); shingle-less rows carry
        null band keys and are excluded (null never equals null under
        the banding join's `=`, and a no-content doc has no similarity
        evidence)."""
        if bands is None:
            bands = self.n_hashes // rows_per_band
        keys = list(self.table.key_cols)
        sig = self.signatures().where(F.col("n_shingles") > 0)
        composite = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
        return minhash_lsh_pairs(
            sig.select(composite.alias("doc_key"), *[f"mh{i}" for i in range(self.n_hashes)]),
            bands=bands,
            rows_per_band=rows_per_band,
            id_col="doc_key",
        )


class LshBandIndex:
    """Persisted LSH band-bucket index over an IncrementalDedupIndex.

    ``IncrementalDedupIndex.pairs()`` re-runs the banding self-join over
    the WHOLE signature table — O(corpus) per call, the one remaining
    full-scan in the continuous-dedup loop. This index persists the band
    postings as a LakeTable keyed ``(band, bkey, doc_key)`` but BUCKETED
    ON ``(band, bkey)`` (subset bucketing), so asking "which existing
    docs collide with THESE changed docs" reads only the buckets their
    band keys hash to — O(changed × bucket) instead of O(corpus).

    It is an index-over-an-index: the signature store is itself a
    LakeTable, so band maintenance is just another ``read_changes``
    consumer — before-image signatures retract their old band rows,
    after-images insert new ones, a deleted doc drops its whole band set.
    Every engine guarantee (exactly-once tags, LWW ordering, atomic
    commits, time travel) carries over unchanged.

    Reference analog: the codec registry's by-format lookup structure,
    updated incrementally as plugins register rather than rescanned per
    call (/root/reference/src/codec_registry.cpp + S9 directory scan).
    """

    SOURCE_ID = "lsh-band-sync"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LakeTable(spark, path)
        props = self.table.meta.get("properties", {})
        self.n_hashes = int(props["lsh.n-hashes"])
        self.rows_per_band = int(props["lsh.rows-per-band"])
        self.bands = self.n_hashes // self.rows_per_band
        self.sig_keys = props["lsh.sig-keys"].split(",")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        sig_index: IncrementalDedupIndex,
        rows_per_band: int = 2,
        bucket_count: int = 32,
    ) -> "LshBandIndex":
        schema = T.StructType(
            [
                T.StructField("band", T.IntegerType()),
                T.StructField("bkey", T.StringType()),
                T.StructField("doc_key", T.StringType()),
            ]
        )
        LakeTable.create(
            spark,
            path,
            schema,
            key_cols=["band", "bkey", "doc_key"],
            bucket_cols=["band", "bkey"],
            bucket_count=bucket_count,
            properties={
                "lsh.n-hashes": str(sig_index.n_hashes),
                "lsh.rows-per-band": str(rows_per_band),
                "lsh.sig-keys": ",".join(sig_index.table.key_cols),
            },
        )
        return cls(spark, path)

    # ------------------------------------------------------------- helpers
    def _band_array(self, prefix: str) -> F.Column:
        """array<struct<band,bkey>> of a signature row read under column
        prefix '' (after-image) or 'before_' (before-image). A row whose
        ``n_shingles`` is 0/null has NULL minhashes — concat_ws would
        silently skip them and collide every such doc on the empty bkey,
        so shingle-less rows get an EMPTY band set instead."""
        rpb = self.rows_per_band
        arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"{prefix}mh{b * rpb + r}").cast("string")
                            for r in range(rpb)
                        ],
                    ).alias("bkey"),
                )
                for b in range(self.bands)
            ]
        )
        gate = F.coalesce(F.col(f"{prefix}n_shingles"), F.lit(0)) > 0
        empty = F.array().cast("array<struct<band:int,bkey:string>>")
        return F.when(gate, arr).otherwise(empty)

    def _doc_key(self, prefix: str = "") -> F.Column:
        return F.concat_ws(
            "|", *[F.col(f"{prefix}{k}").cast("string") for k in self.sig_keys]
        )

    # ---------------------------------------------------------------- sync
    def last_synced_base_snapshot(self) -> int | None:
        """Highest signature-table snapshot id folded in (the band
        index's base is the signature table)."""
        return last_synced_batch_id(self.table, self.SOURCE_ID)

    def sync(self, sig_index: IncrementalDedupIndex, to_id: int | None = None) -> MergeResult:
        """Fold signature-table changes since the last sync into the band
        postings (tag = sig-table snapshot id)."""
        pending = pending_changes(
            self.table, self.SOURCE_ID, sig_index.table, to_id, with_before=True
        )
        if pending is None:
            return MergeResult(None, [], 0, 0, 0.0, "noop")
        to_id, changes = pending
        new_bands = F.when(
            F.col("op") != "D", self._band_array("")
        ).otherwise(F.array().cast("array<struct<band:int,bkey:string>>"))
        staged = changes.select(
            self._doc_key().alias("doc_key"),
            "lsn",
            "commit_ts",
            new_bands.alias("_new"),
            self._band_array("before_").alias("_old"),
        )
        inserts = staged.select(
            "doc_key", "lsn", "commit_ts", F.explode("_new").alias("bb"), F.lit("I").alias("op")
        )
        deletes = staged.select(
            "doc_key",
            "lsn",
            "commit_ts",
            F.explode(F.array_except(F.col("_old"), F.col("_new"))).alias("bb"),
            F.lit("D").alias("op"),
        )
        batch = (
            inserts.unionByName(deletes)
            .select(
                F.col("bb.band").alias("band"),
                F.col("bb.bkey").alias("bkey"),
                "doc_key",
                "op",
                "lsn",
                "commit_ts",
                F.when(F.col("op") != "D", F.lit("{}")).alias("after"),
            )
            .withColumn("src_file", F.lit(self.SOURCE_ID))
            .withColumn("src_offset", F.lit(to_id).cast("long"))
        )
        return merge_into(
            self.table, batch, tag={"source_id": self.SOURCE_ID, "batch_id": to_id}
        )

    # ------------------------------------------------------------- queries
    def pairs(self) -> DataFrame:
        """ALL candidate pairs from the persisted postings (parity
        surface vs ``IncrementalDedupIndex.pairs()`` — tests only; the
        scale path is ``candidates_for``)."""
        rows = self.table.read_logical()
        a, b = rows.alias("a"), rows.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_key") < F.col("b.doc_key")),
            )
            .groupBy(F.col("a.doc_key").alias("doc_a"), F.col("b.doc_key").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )

    def candidates_for(
        self, sig_index: IncrementalDedupIndex, probe_keys: DataFrame
    ) -> DataFrame:
        """Near-dup candidates TOUCHING the probe docs — the steady-state
        question after each sync ("does anything just ingested duplicate
        the corpus?").

        Plan shape: the probes' signatures come from a bucket-pruned read
        of the signature table (probe keys broadcast); their band rows
        then prune the band table to ONLY the buckets those (band, bkey)
        hash to — at 32 probe docs × 4 bands that is ≤128 of the corpus'
        band buckets regardless of corpus size. Output: (doc_a, doc_b,
        n_bands), doc_a < doc_b, at least one side a probe;
        probe-vs-probe pairs are counted once (bands deduped, not
        double-counted from both probe directions).
        """
        sig = sig_index.table
        keys = list(sig.key_cols)
        sbuckets = sorted(
            r["b"]
            for r in probe_keys.select(sig.bucket_expr(probe_keys).alias("b"))
            .distinct()
            .collect()
        )
        probes = sig.read_logical(buckets=sbuckets).join(
            F.broadcast(probe_keys.select(*keys).distinct()), keys
        )
        probe_bands = (
            probes.where(F.col("n_shingles") > 0)
            .select(self._doc_key().alias("doc_key"), F.explode(self._band_array("")).alias("bb"))
            .select("doc_key", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
        )
        bbuckets = sorted(
            r["b"]
            for r in probe_bands.select(self.table.bucket_expr(probe_bands).alias("b"))
            .distinct()
            .collect()
        )
        postings = self.table.read_logical(buckets=bbuckets)
        p = F.broadcast(probe_bands).alias("p")
        o = postings.alias("o")
        hits = p.join(
            o,
            (F.col("p.band") == F.col("o.band"))
            & (F.col("p.bkey") == F.col("o.bkey"))
            & (F.col("p.doc_key") != F.col("o.doc_key")),
        ).select(
            F.least(F.col("p.doc_key"), F.col("o.doc_key")).alias("doc_a"),
            F.greatest(F.col("p.doc_key"), F.col("o.doc_key")).alias("doc_b"),
            F.col("p.band").alias("band"),
        )
        return hits.groupBy("doc_a", "doc_b").agg(
            F.count_distinct(F.col("band")).alias("n_bands")
        )
