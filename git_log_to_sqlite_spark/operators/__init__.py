"""Reusable operator library — the engine's public API surface.

``plans/`` instantiates these operators on the driver's test tables for
the oracle gate; this package is what a user calls on their own
DataFrames. Everything is built from DataFrame primitives (SURVEY.md
section 2.2); Python enters only via Arrow-batched Pandas UDFs and only
where built-ins genuinely can't express the semantics (multimodal
decode, merge_asof fallback).
"""

from .asof import asof_join
from .caching import pin, release_caches
from .clustering import (
    assign_clusters,
    assign_clusters_table,
    kmeans,
    kmeans_fit_sample,
    nearest_cells_table,
)
from .graph import assign_dedup_groups, connected_components
from .ordered import ordered_row_number, ordered_running_sum
from .sampling import (
    domain_mix,
    dsir_select,
    dsir_weights,
    token_budget_sample,
    weighted_reservoir,
)
from .dedup import (
    decontaminate,
    fuzzy_decontaminate,
    hamming_pairs,
    hamming_probe,
    incremental_minhash_dedup,
    incremental_substring_spans,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_pairs,
    substring_span_pairs,
    window_table,
)
from .similarity import (
    IvfIndex,
    brute_force_topk,
    bucketed_ann_topk,
    ivf_ann_topk,
    lsh_bucket,
    multiprobe_ann_topk,
    semantic_dedup,
)
from .multimodal import (
    as_media,
    audio_fingerprint,
    audio_frame_fingerprints,
    audio_near_dup_pairs,
    audio_shared_segment_pairs,
    image_dhash,
    image_in_video_frames,
    image_near_dup_pairs,
    video_fingerprint,
    video_frame_dhash,
    video_near_dup_pairs,
    video_shared_scene_pairs,
)
from .skew import salted_aggregate
from .text import (
    add_text_stats,
    count_subword_tokens,
    repetition_stats,
    chunk_documents,
    fingerprint,
    lang_id,
    pack_token_shards,
    subword_token_counts,
    tfidf_topk,
    token_counts,
)

__all__ = [
    "as_media",
    "audio_fingerprint",
    "audio_frame_fingerprints",
    "audio_near_dup_pairs",
    "audio_shared_segment_pairs",
    "image_dhash",
    "image_in_video_frames",
    "image_near_dup_pairs",
    "video_fingerprint",
    "video_frame_dhash",
    "video_near_dup_pairs",
    "video_shared_scene_pairs",
    "asof_join",
    "pin",
    "release_caches",
    "assign_clusters",
    "assign_clusters_table",
    "assign_dedup_groups",
    "kmeans",
    "kmeans_fit_sample",
    "nearest_cells_table",
    "connected_components",
    "ordered_row_number",
    "ordered_running_sum",
    "weighted_reservoir",
    "dsir_weights",
    "dsir_select",
    "domain_mix",
    "token_budget_sample",
    "decontaminate",
    "fuzzy_decontaminate",
    "hamming_pairs",
    "hamming_probe",
    "incremental_minhash_dedup",
    "incremental_substring_spans",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "shingles",
    "simhash",
    "substring_span_pairs",
    "window_table",
    "simhash_pairs",
    "IvfIndex",
    "brute_force_topk",
    "bucketed_ann_topk",
    "ivf_ann_topk",
    "lsh_bucket",
    "multiprobe_ann_topk",
    "semantic_dedup",
    "salted_aggregate",
    "add_text_stats",
    "chunk_documents",
    "count_subword_tokens",
    "fingerprint",
    "lang_id",
    "pack_token_shards",
    "subword_token_counts",
    "tfidf_topk",
    "repetition_stats",
    "token_counts",
]
