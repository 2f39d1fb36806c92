from odp_dynamic_data_pipeline_spark.operators.aggregate import conditional_counts
from odp_dynamic_data_pipeline_spark.operators.asof import asof_join
from odp_dynamic_data_pipeline_spark.operators.correlate import (
    correlate_events_logs,
    explode_spans,
)
from odp_dynamic_data_pipeline_spark.operators.dedup import (
    bfs_hops,
    connected_components,
    containment_join,
    contamination_check,
    edit_distance_join,
    exact_dedup,
    hamming_join,
    hashed_shingles_direct,
    jaccard_join,
    minhash_lsh_pairs,
    shingles,
    simhash,
)
from odp_dynamic_data_pipeline_spark.operators.enrich import enrich
from odp_dynamic_data_pipeline_spark.operators.mappings import extract_mapping
from odp_dynamic_data_pipeline_spark.operators.sessionize import (
    pair_page_views,
    pair_page_views_exact,
)
from odp_dynamic_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    kcenter_coreset,
    ivf_topk,
    kmeans_quantizer,
    lsh_topk,
    pq_topk,
    quantize_int8,
    random_projection,
)
from odp_dynamic_data_pipeline_spark.operators.text import (
    boilerplate_scrub,
    chunk_documents,
    fingerprint,
    language_id,
    pack_sequences,
    quality_features,
    scrub_pii,
    stratified_sample,
    token_stats,
)

__all__ = [
    "asof_join",
    "bfs_hops",
    "boilerplate_scrub",
    "chunk_documents",
    "conditional_counts",
    "connected_components",
    "containment_join",
    "contamination_check",
    "correlate_events_logs",
    "cosine_topk",
    "edit_distance_join",
    "enrich",
    "exact_dedup",
    "explode_spans",
    "extract_mapping",
    "fingerprint",
    "hamming_join",
    "hashed_shingles_direct",
    "ivf_topk",
    "jaccard_join",
    "kcenter_coreset",
    "kmeans_quantizer",
    "language_id",
    "lsh_topk",
    "minhash_lsh_pairs",
    "pack_sequences",
    "pair_page_views",
    "pair_page_views_exact",
    "pq_topk",
    "quality_features",
    "quantize_int8",
    "random_projection",
    "scrub_pii",
    "shingles",
    "simhash",
    "stratified_sample",
    "token_stats",
]
