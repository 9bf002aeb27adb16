"""Scale extensions: LLM-training-data pipeline operators
(BASELINE.json north star — beyond reference parity)."""

from .dedup import (  # noqa: F401
    dedup_exact,
    minhash_pairs,
    minhash_join,
    decontaminate_fuzzy,
    contamination_report_semantic,
    decontaminate_semantic,
    dedup_paragraphs,
    embedding_join,
    minhash_dedup,
    simhash_dedup,
    simhash64,
    ngram_jaccard_pairs,
    embedding_cosine_pairs,
    embedding_dedup,
    dropped_pairs_estimate,
    hyperplane_recall,
    minhash_recall,
    cosine_sim,
    word_shingles,
    char_shingles,
    minhash_signature,
)
from .dedup_index import (  # noqa: F401
    dedup_index_build,
    dedup_index_append,
    dedup_index_compact,
    dedup_index_delete,
    dedup_index_expire,
    dedup_index_stats,
    match_against_index,
    dedup_against_index,
)
from .fp_index import INDEX_API as _FP_INDEX_API

# image/audio/video_index_{build,append,compact,delete,expire,stats},
# match_against_*_index and dedup_against_*_index
globals().update(_FP_INDEX_API)
from .semantic_index import (  # noqa: F401
    semantic_index_build,
    semantic_index_append,
    semantic_index_compact,
    semantic_index_delete,
    semantic_index_expire,
    semantic_index_stats,
    match_against_semantic_index,
    dedup_against_semantic_index,
)
from .similarity import (  # noqa: F401
    cosine_topk,
    lsh_plan_buckets,
    lsh_topk,
    ivf_train,
    ivf_assign,
    ivf_topk,
    knn_join,
    pq_train,
    pq_encode,
    pq_topk,
    pq_knn_join,
    ivfpq_train,
    ivfpq_encode,
    ivfpq_knn_join,
    ivfpq_write,
    ivfpq_read,
    l2_normalize,
    pca_train,
    pca_apply,
    pca_write,
    pca_read,
)
from .tokenizer import (  # noqa: F401
    bpe_train,
    bpe_encode,
    bpe_encode_ids,
    bpe_decode_ids,
    bpe_token_counts,
    bpe_write,
    bpe_read,
)
from .urls import (  # noqa: F401
    PSLRules,
    domain_report,
    host_graph,
    load_psl,
    parse_psl,
    url_host,
    url_normalize,
    url_registrable_domain,
)
from .relevance import (  # noqa: F401
    tfidf_top_terms,
    bm25_score,
)
from .bloom import (  # noqa: F401
    Bloom,
    build_bloom,
    bloom_semi_reduce,
)
from .substr import (  # noqa: F401
    duplicate_spans,
    mask_duplicate_spans,
)
from .lm import (  # noqa: F401
    ngram_lm_train,
    ngram_lm_score,
)
from . import text  # noqa: F401 (registers text-analysis functions)
from .text import (  # noqa: F401
    html_extract_links,
    html_to_text,
    normalize_text,
)
from .warc import (  # noqa: F401
    parse_warc_records,
    read_warc,
    stream_read_warc,
    warc_records,
)
from .filters import (  # noqa: F401 (also registers repetition metrics)
    gopher_quality_filter,
    c4_clean,
    decontaminate,
    contamination_report,
    pack_documents,
    hash_split,
    stratified_sample,
    mix_corpora,
    temperature_mix,
    classifier_score,
    domain_filter,
    cap_per_key,
    chunk_documents,
)
from .embed import text_embed  # noqa: F401
from .funnel import drop_reason, filter_funnel, keep_top_fraction  # noqa: F401
from .classifier import (  # noqa: F401
    quality_classifier_eval,
    quality_classifier_predict,
    quality_classifier_read,
    quality_classifier_train,
    quality_classifier_write,
)
from .langid import (  # noqa: F401
    seed_corpus,
    lang_id_train,
    lang_id_train_seed,
    lang_id_predict,
    lang_id_write,
    lang_id_read,
)
from .graph import (  # noqa: F401
    connected_components,
    components_from_pairs,
    join_host_rank,
    pagerank,
    pagerank_last_run,
)
from .diagnostics import (  # noqa: F401
    key_skew,
    skew_report,
    partition_sizes,
    plan_lint,
    scan_stats,
)
from .sessions import sessionize_batch, session_stats, trailing_agg  # noqa: F401
from .multimodal import (  # noqa: F401
    attach_binary_metadata,
    decode_images,
    image_dhash,
    image_features,
    image_near_dup_pairs,
    image_dedup,
    resize_images,
    sample_frames,
    decode_audio,
    audio_features,
    audio_fingerprint,
    audio_stats,
    audio_near_dup_pairs,
    audio_dedup,
    decode_video,
    video_fingerprint,
    video_near_dup_pairs,
    video_dedup,
    sniff_media,
)
