"""Query -> family table for the surface workload.

Every name in `SparkEntry.queries` belongs to exactly one family
(`test_benchlib.py` checks this against the source). A family groups the
queries that exercise the same part of the library:

- relational: SQL-shaped operators, log analytics, exports, pipeline reads;
- text: tokenized search and ranking, and the flagship's parse/score text scans;
- dedup: exact, MinHash, SimHash, winnowing and substring de-duplication;
- similarity: embedding search (ANN, LSH, IVF, PQ) and semantic de-duplication;
- graph: link extraction and rank iterations over the web graph;
- sketches: KMV, count-min, HyperLogLog and Bloom sketches;
- curation: training-data curation, language models, sampling and packing.
"""

FAMILIES = {
    "relational": """
        q_counts_conditional q_filter_eq q_filter_in q_ts_range q_date_histogram
        q_level_distribution q_topk_services q_distinct_sorted q_pagination
        q_sort_dynamic q_export_cap q_anomaly_recent q_enrich_join q_tpch_q1
        q_join_topk q_window_running q_asof_join q_sessionize q_pivot q_rollup
        q_percentiles q_salted_agg q_union q_except q_intersect q_csv_escape
        q_export_roundtrip q_export_roundtrip_json q_bucketed_join q_upsert
        q_zorder q_anomaly_count_range q_rejected_rows q_search_composite
        q_pagination_keyset q_index_append q_lineage_conservation
    """,
    "text": """
        q_text_match q_text_phrase q_text_rank q_text_rank_idf q_text_rank_bm25
        q_text_rank_bm25_full q_text_index q_hybrid_rrf q_text_match_stem
        q_text_match_porter q_normalize q_enrich_flags q_ml_features
        q_anomaly_score q_alert_gate q_features_json q_severity_route
        q_host_extract q_lang_id q_quality q_token_count q_fingerprint
        q_script_profile q_normalize_text
    """,
    "dedup": """
        q_dedup_exact q_dedup_minhash q_dedup_edit q_containment q_dedup_clusters
        q_dedup_minhash_est q_dedup_simhash q_dedup_simhash_pairs q_dedup_jaccard
        q_dedup_incremental q_dedup_incremental_index q_cluster_keeper
        q_dedup_clusters_star q_url_dedup q_snapshot_diff q_snapshot_diff_stored
        q_dedup_substring q_dedup_winnow q_dedup_winnow_fast q_dedup_remove
        q_dedup_paragraph q_dedup_lines
    """,
    "similarity": """
        q_dedup_embedding q_tfidf_pairs q_semdedup q_semdedup_keep
        q_dedup_embedding_recall q_ann_topk q_ann_matryoshka q_ann_sq q_ann_lsh
        q_ann_lsh_mp q_ann_lsh_index q_ann_ivf q_ann_ivf_index q_ann_pq
        q_ann_pq_codes q_ann_ivfadc q_ann_ivfadc_index q_source_centroid
    """,
    "graph": """
        q_robots_filter q_html_text q_link_graph q_anchor_text q_pagerank
        q_trustrank q_frontier q_spam_mass q_hits q_degree_table q_pagerank_iters
        q_pagerank_conserving q_crawl_pipeline
    """,
    "sketches": """
        q_kmv_sketch q_kmv_distinct q_kmv_merge q_kmv_pair_jaccard q_cms_sketch
        q_cms_merge q_cms_estimate q_hll_registers q_hll_estimate q_hll_merge
        q_bloom_filter q_bloom_merge
    """,
    "curation": """
        q_curation_pipeline q_linreg_fit q_linreg_score q_multimodal_meta
        q_multimodal_dims q_multimodal_wav q_repetition q_pii_mask q_card_detect
        q_stratified_sample q_chunking q_contamination q_gopher_rules
        q_gopher_repetition q_ngram_topk q_domain_stats q_weighted_sample
        q_source_overlap q_seq_packing q_length_histogram q_url_normalize
        q_split_assign q_pack_bins q_shard_manifest q_token_budget q_unimax
        q_topk_per_domain q_unigram_lm q_bpe_pairs q_bpe_train q_bpe_encode
        q_bpe_fertility q_calibrate q_curation_v2 q_curation_v3 q_curation_v4
        q_source_kl q_bigram_lm q_temperature_sample q_domain_blocklist
        q_ccnet_buckets q_dsir_weights q_dsir_model q_dsir_sample q_nbc_model
        q_nbc_score q_nbc_eval q_novel_ngrams q_pmi_collocations q_zipf_slope
        q_line_signals q_hash_features
    """,
}
FAMILIES = {f: names.split() for f, names in FAMILIES.items()}
FAMILY_OF = {q: f for f, names in FAMILIES.items() for q in names}


def sample(every):
    """The fixed query sample a surface run executes: within each family,
    in name order, every `every`-th query starting from the first."""
    return sorted(q for names in FAMILIES.values()
                  for i, q in enumerate(sorted(names)) if i % every == 0)
