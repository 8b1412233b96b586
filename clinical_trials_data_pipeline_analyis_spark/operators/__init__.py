from .datespine import date_spine
from .surrogate_keys import surrogate_key_exact, surrogate_key_scalable
from .dedup import (
    connected_components,
    decontaminate,
    dedup_pipeline,
    exact_duplicates,
    filter_hot_shingles,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_df_stats,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidates,
    simhash_cap_stats,
    simhash_near_duplicates,
)
from .asof import asof_join
from .curation import curation_report, first_failed_rule
from .packing import chunk_spans, length_bucket_batches, pack_sequences
from .pq import (
    ivfpq_topk,
    ivfpq_topk_residual,
    pq_adc_topk,
    pq_encode,
    pq_train_step,
    residual_vectors,
    seed_codebooks,
)
from .repetition import corpus_ngram_topk, repetition_features
from .sampling import hash_bucket, hash_sample, mixture_rates, stratified_sample
from .similarity import (
    brute_force_topk,
    embedding_duplicate_pairs,
    ivf_assign,
    quantize_embeddings,
    semantic_dedup,
    train_ivf,
)
from .multimodal import (
    attach_binary_payload,
    decode_image_metadata,
    resize_image_metadata,
    sample_frames,
)
from .skew import salted_count, salted_count_distinct

__all__ = [
    "date_spine",
    "surrogate_key_exact",
    "surrogate_key_scalable",
    "connected_components",
    "decontaminate",
    "dedup_pipeline",
    "exact_duplicates",
    "filter_hot_shingles",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "ngram_df_stats",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_candidates",
    "simhash_cap_stats",
    "simhash_near_duplicates",
    "asof_join",
    "chunk_spans",
    "length_bucket_batches",
    "pack_sequences",
    "curation_report",
    "first_failed_rule",
    "ivfpq_topk",
    "ivfpq_topk_residual",
    "corpus_ngram_topk",
    "repetition_features",
    "pq_adc_topk",
    "pq_encode",
    "pq_train_step",
    "residual_vectors",
    "seed_codebooks",
    "hash_bucket",
    "hash_sample",
    "mixture_rates",
    "stratified_sample",
    "brute_force_topk",
    "embedding_duplicate_pairs",
    "ivf_assign",
    "quantize_embeddings",
    "semantic_dedup",
    "train_ivf",
    "attach_binary_payload",
    "decode_image_metadata",
    "resize_image_metadata",
    "sample_frames",
    "salted_count",
    "salted_count_distinct",
]
