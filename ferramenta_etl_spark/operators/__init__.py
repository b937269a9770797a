from .dedup import (  # noqa: F401
    connected_components,
    dedup_exact,
    dedup_keep_canonical,
    edit_distance_pairs,
    exact_dup_groups,
    latest_per_key,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_fingerprints,
    simhash_near_dup_pairs,
    substring_dup_pairs,
    tokenset_jaccard_pairs,
)
from .ids import content_ids, dense_ids, id_collisions  # noqa: F401
from .packing import pack_sequences  # noqa: F401
from .quantile import (  # noqa: F401
    grouped_exact_quantile,
    grouped_exact_quantiles,
    grouped_quantiles_auto,
    probe_distinct_ratios,
)
from .quantize import (  # noqa: F401
    append_to_ivfpq_index,
    append_to_pq_index,
    build_ivfpq_index,
    build_opq_index,
    build_pq_index,
    dequantize,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    pq_topk_on_index,
    pq_topk_rerank,
    quantize_embeddings,
    quantized_cosine_topk,
    train_opq_codebooks,
    train_pq_codebooks,
)
from .similarity import dedup_semantic, lsh_ann_topk  # noqa: F401
from .sampling import (  # noqa: F401
    cluster_balanced_sample,
    hash_sample,
    proportional_allocation,
    sample_exact_n,
    split_train_eval,
    stratified_sample,
    temperature_allocation,
    weighted_sample,
)
from .audio import (  # noqa: F401
    attach_fake_raw_audio,
    audio_features,
    resample_audio,
    trim_silence,
)
from .containers import (  # noqa: F401
    attach_gif_media,
    attach_jpeg_media,
    attach_mp4_media,
    attach_png_media,
    attach_wav_media,
    decode_audio,
    decode_images,
    decode_png_bytes,
    decode_wav_bytes,
    probe_videos,
    sniff_container,
)
from .gif import decode_gif_bytes, encode_gif_bytes  # noqa: F401
from .jpeg import decode_jpeg_bytes, encode_jpeg_bytes  # noqa: F401
from .mp4 import build_mp4_bytes, parse_mp4_metadata  # noqa: F401
from .multimodal import (  # noqa: F401
    attach_fake_media,
    attach_fake_raw_images,
    attach_fake_raw_video,
    extract_media_features,
    frame_sample_schedule,
    frame_sample_stub,
    letterbox_dims,
    resize_images,
    resize_stub,
    sample_video_frames,
)
from .similarity import (  # noqa: F401
    benchmark_max_sim,
    build_ivf_index,
    cosine_near_dup_pairs,
    cosine_topk,
    cosine_topk_arrow,
    decontaminate_semantic,
    derive_centroids,
    ivf_topk,
    ivf_topk_on_index,
    l2_normalize,
    lloyd_refine,
    mean_pool_embeddings,
    mine_hard_negatives,
    mine_hard_negatives_arrow,
    truncated_prefilter_topk,
    with_prefix_column,
    load_ivf_centroids,
    srp_params_for,
)
from .asof import asof_join as asof_join_generic  # noqa: F401
from .asof import (  # noqa: F401
    AsofRole,
    AsofSpec,
    asof_join_multi,
    asof_self_join,
)
from .range_join import range_join  # noqa: F401
from .sessionize import capped_sessions, sessionize  # noqa: F401
from .skew import salted_join, top_key_counts  # noqa: F401
from .text import (  # noqa: F401
    chunk_documents,
    contamination_hits,
    remove_contaminated_spans,
    content_fingerprint,
    dedup_paragraphs,
    extract_domain,
    lang_id,
    quality_score,
    normalize_url,
    redact_pii,
    score_documents,
    tfidf_keywords,
    token_vocab,
    winnowing_fingerprints,
    word_ngrams,
)
from .topk import grouped_topk  # noqa: F401
from .classifier import (  # noqa: F401
    classify_documents,
    load_classifier,
    save_classifier,
    train_text_classifier,
)
from .bpe import (  # noqa: F401
    bpe_tokenize,
    bpe_vocab,
    load_bpe_merges,
    save_bpe_merges,
    train_bpe,
    train_bpe_from_docs,
    train_bpe_local,
    word_freq,
)
from .retrieval import (  # noqa: F401
    append_to_bm25_index,
    bm25_scores,
    bm25_topk,
    compact_bm25_index,
    bm25_topk_on_index,
    build_bm25_index,
    hybrid_topk,
    load_bm25_index,
    mmr_rerank,
    rrf_fuse,
    save_bm25_index,
)
from .dsir import (  # noqa: F401
    dsir_log_weights,
    dsir_resample,
    fit_dsir,
    hashed_ngram_buckets,
    load_dsir,
    save_dsir,
)
