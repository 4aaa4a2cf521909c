from nvimagecodec_spark.operators.lww import lww_dedupe, lww_dedupe_window
from nvimagecodec_spark.operators.merge import merge_into, MergeResult
from nvimagecodec_spark.operators.multimodal import (
    audio_metadata,
    audio_windowed_stats,
    decode_images,
    media_metadata,
    resize_images,
    sample_frames,
)
from nvimagecodec_spark.operators.dedup import neardup_clusters
from nvimagecodec_spark.operators.agg_view import IncrementalAggView
from nvimagecodec_spark.operators.incremental_dedup import (
    IncrementalDedupIndex,
    LshBandIndex,
)
from nvimagecodec_spark.operators.text_index import IncrementalTextIndex
from nvimagecodec_spark.operators.patch import expand_patches
from nvimagecodec_spark.operators.validate import validate_batch
from nvimagecodec_spark.operators.scd2 import Scd2View, scd2_history
from nvimagecodec_spark.operators.packing import pack_sequences
from nvimagecodec_spark.operators.transcripts import (
    AssembledTranscriptsView,
    ShardedJsonlExport,
    assemble_conversations,
    export_jsonl,
)
from nvimagecodec_spark.operators.rangejoin import interval_join
from nvimagecodec_spark.operators.sampling import (
    hash_split,
    stratified_sample,
    token_budget_sample,
)
from nvimagecodec_spark.operators.similarity import quantize_embeddings
from nvimagecodec_spark.operators.text import (
    chunk_tokens,
    contamination,
    pii_scan,
    redact_pii,
    tfidf_top_terms,
    unigram_logloss,
)

__all__ = [
    "lww_dedupe",
    "lww_dedupe_window",
    "merge_into",
    "MergeResult",
    "media_metadata",
    "decode_images",
    "resize_images",
    "sample_frames",
    "audio_metadata",
    "audio_windowed_stats",
    "pii_scan",
    "redact_pii",
    "chunk_tokens",
    "quantize_embeddings",
    "contamination",
    "tfidf_top_terms",
    "unigram_logloss",
    "neardup_clusters",
    "IncrementalDedupIndex",
    "LshBandIndex",
    "IncrementalTextIndex",
    "expand_patches",
    "validate_batch",
    "token_budget_sample",
    "IncrementalAggView",
    "scd2_history",
    "Scd2View",
    "interval_join",
    "stratified_sample",
    "hash_split",
    "pack_sequences",
    "assemble_conversations",
    "export_jsonl",
    "AssembledTranscriptsView",
    "ShardedJsonlExport",
]
