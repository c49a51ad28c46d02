"""Combined declared-query registry: relational core + extensions.

Importing this module populates ``REGISTRY`` with every query the
engine declares to the driver (``__spark_entry__.queries()``).

The registry is then REORDERED for the driver's correctness harness,
which adjudicates ~the first 50 entries per round:

- round 1 checked the first 50 of the original order (48 green);
- round 2 front-loaded 50 never-checked entries (49 green; the one
  hash-fail, ``a7_weekly_rollup``, is value-identical to the oracle
  and got its output dtype normalized to round(double,2) this round);
- round 3 front-loaded the fixed ``a7``, the IO-mechanics probes,
  the LLM-pipeline stragglers, and the §2-adjacent relational rows —
  all 50 came back green (CORRECTNESS_r03.json);
- round 4 checked the TPC-H suite, SQL-dialect surface, sketch
  re-presentation, curation/event families, f19-f32 ladder, and the
  storage roundtrips — 45 hash-green + 5 clean rows-only, 0 fails
  (CORRECTNESS_r04.json);
- round 5: the ledger burn-down (VERDICT.md r4 item 1) — all 52
  never-adjudicated entries front-loaded; 41 hash-green + 7 clean
  rows-only came back, with two reds (a34 rounded-double hash,
  m1 array-typed output crashing the driver canonicalizer);
- round 6: the closure round (VERDICT.md r5) — after it, every one of
  the 274 entries has a driver verdict: 49/50 of the window came back
  clean; the single red is ``a34_corr_components``, value-identical to
  the oracle but hash-failed by the driver's canonicalizer (its
  DECIMAL(38,12) sums carry ~23 significant digits, beyond
  float64-exact width);
- round 7 (this order): a34 leads for its re-verdict (the wide sums
  now ship as exact fixed-scale STRINGS on both engines — the third
  canonicalizer-limit rule, encoded into tools/parity.py), followed by
  the entries whose builders changed this round (e8's literal WAU
  bounds became an observed-span broadcast; MERGE/CDC broadcasts are
  now size-gated) and the round-7 in-round additions;
- rounds 8-9: the ts5 decimal red isolated (r8) and closed (r9,
  integer cents) — r9 was the first fully clean window (50/50,
  CORRECTNESS_r09.json) and began the stale-verdict refresh rotation
  (r1/r2 vintages re-verified);
- round 10: the two portable ANN twins led (their ENCODING changed —
  corpus-only codebook, query clamped in, session-cached checkpointed
  index on the probe path: the r9 verdict's one design finding),
  followed by five rows-only→oracle conversions via the
  unroll/quantize playbook (g8 LPA unrolled, BM25 fixed-order sums,
  bounded-round k-core, fixed-point PageRank, portable-hash Bloom
  prefilter), the new ORC roundtrip probe, then 42 r3-vintage
  refreshes — 50/50 clean, the second consecutive fully green window;
- round 11: the BPE bounded-round portable twin (the last iterative
  family without a hash anchor) led, then the full r4-vintage block
  less one (ext_decontaminate_bloom, deferred to r12 behind its fresh
  r10-green portable sibling) — the r10 verdict's item-2 rotation;
  46 hash-green + 4 rows-only-by-design, 0 fails;
- round 12: the rotation-closure window — the three re-encoded
  sketch entries (rows-only → tolerance-anchored oracle pairs, r11
  verdict item 3) led, then the 14 r2 + 7 r3 remnants, the deferred
  ext_decontaminate_bloom, and the 25 oldest r5-vintage refreshes;
  43 hash-green + 7 rows-only-by-design, zero failures — after it
  nothing in the registry is older than r5 vintage and rotation is
  steady-state maintenance;
- round 13 (this order): the first GENERATOR-EMITTED window
  (tools/gen_priority.py, r12 verdict item 7): the in-round
  ext_fuzzy_blocked_join re-encode (_FRONT — the sf0.5 scale
  measurement caught the original's quadratic candidate growth;
  its radius-bounded PassJoin replacement changes the output and
  needs a fresh hash verdict) + all 22 r5-vintage entries + all 26
  r6 + a16_rollup (a17_cube, displaced by the front entry, rotates
  r14). In-round re-encodes go in _FRONT below and lead the
  window; tests/test_plan_audit.py recomputes the window from the
  CORRECTNESS_r*.json artifacts and asserts _PRIORITY equals it, so
  the committed head is a check on the generator's output, not on
  hand edits;
- round 14 (this order): optimization round — no re-encodes, so
  _FRONT is empty (the r13 fuzzy re-encode it carried is now
  adjudicated hash-green in CORRECTNESS_r13.json and rotates back
  on vintage); the window is the generator's plain staleness order:
  the 9 oldest r7-vintage entries (led by a17_cube, displaced from
  r13's window by the front entry exactly as predicted there) + the
  41 oldest r8-vintage refreshes.

Entries with a green CORRECTNESS row from r1-r10 move to the back;
within any remaining never-checked tail, oracle-paired entries sit
ahead of rows-only ones. Every name stays present; only dict
insertion order changes.

Queries ADDED during a round may sit INSIDE the adjudication window
(slots not needed for re-verdicts are otherwise spent re-verifying
green back-block entries — spare capacity): each must pass
tools/parity.py at sf0.01 AND sf0.1 with integer/decimal/string
compared columns (decimals float64-exact, else stringified) before
being placed there.
"""

from __future__ import annotations

# each import registers its queries into plans.registry.REGISTRY
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry  # noqa: F401
from sql_etl_data_warehouse_inside_airbnb_spark.plans.registry import (
    REGISTRY,
    Query,
)

import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_adv  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_curation  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_ext  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_final  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_gaps  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_graph  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_io  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_more  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r4  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r5  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r6  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r7  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r8  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r9  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r10  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_r11  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_search  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_surface  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_tpch  # noqa: F401
import sql_etl_data_warehouse_inside_airbnb_spark.plans.registry_wide  # noqa: F401

# Entries with a green CORRECTNESS_r01.json row (47 hash-green + a19
# rows-only by design).
_R01_GREEN = frozenset({
    "s1_scan_project", "s4_limited_scan", "p1_column_prune",
    "p4_trycast_filter", "p6_between", "p7_isin", "p9_eq_lookup",
    "p10_threshold", "p8_interval_overlap", "j1_fact_dim_join",
    "j2_derived_date_join", "j4_left_anti", "j6_left_semi",
    "j7_agg_join", "j8_merge_upsert", "j9_update_from_join",
    "a1_pricing_summary", "a3_count_distinct",
    "a4_global_count_distinct", "a6_money_clean_agg", "a9_having_dups",
    "a10_minmax", "a12_distinct_count", "a14_profile",
    "w1_latest_per_key", "w2_first_per_group", "o2_topk",
    "o3_keyed_sample", "set_union_distinct", "set_except",
    "set_intersect", "f5_parse_location", "f9_date_parts",
    "f10_date_dimension", "f13_bool_norm", "f3_truncate_substr",
    "f15_trycast_decimal", "w3_lag_lead", "w4_running_frames",
    "w5_rank_ladder", "a16_rollup", "a17_cube", "a18_pivot",
    "j13_asof_join", "j14_range_join", "stream_watermark_late_drop",
    "a19_approx_distinct", "f18_array_functions",
})

# The 49 hash-green rows of CORRECTNESS_r02.json (everything checked
# in r2 except a7_weekly_rollup, which stays front for a re-verdict).
_R02_GREEN = frozenset({
    "a5_conditional_agg", "p2_add_default_column", "p3_column_drop",
    "p5_null_empty_predicates", "j3_cast_key_join", "j5_not_in_anti",
    "j10_catalog_join", "j11_broadcast_semi", "a2_region_segment_view",
    "a8_per_key_count", "a11_count_scalars", "a13_merge_action_counts",
    "o6_full_sort", "o7_distinct_sorted_limit", "f6_filename_geography",
    "f7_date_conversion", "f12_case_conditional", "f14_numeric_coercion",
    "f16_metadata_math", "ext_multimodal_image_meta", "x6_profile_table",
    "ext_data_prep_pipeline", "ext_ann_batch_topk", "ext_chunk_documents",
    "ext_pii_redact", "ext_repetition_filter", "ext_token_count",
    "ext_text_quality", "ext_quality_score", "ext_lang_id",
    "ext_fingerprint", "ext_dedup_exact", "ext_dedup_ngram_jaccard",
    "ext_dedup_embedding", "ext_ann_brute_topk", "ext_bpe_token_count",
    "ext_decontaminate", "ext_train_split", "ext_dedup_winnow_pairs",
    "ext_grouped_median", "stream_tumbling", "stream_sliding",
    "stream_session", "stream_interval_join", "stream_stateful_totals",
    "g1_connected_components", "g2_dedup_clusters", "ext_lang_id_udf",
    "ext_multimodal_meta",
})

# All 50 rows of CORRECTNESS_r03.json came back green.
_R03_GREEN = frozenset({
    "a7_weekly_rollup", "s8_quarantine_roundtrip", "s5_header_scan",
    "s11_compaction_roundtrip", "ext_dedup_ppjoin",
    "ext_dedup_minhash_banded", "ext_ann_lsh_topk",
    "ext_multimodal_audio_meta", "ext_multimodal_video_meta",
    "ext_chunk_pack_pipeline", "ext_training_manifest",
    "ext_chunk_dedup", "ext_line_dedup", "j16_left_outer",
    "j17_full_outer", "j18_null_safe_join", "j19_star_join_rollup",
    "j20_scd2_apply", "j15_cross_join", "j12_salted_skew_join",
    "a15_two_stage_salted_agg", "sq_scalar_threshold",
    "sq_exists_correlated", "a21_grouping_sets", "a22_percentile_disc",
    "a20_unpivot", "set_except_all", "set_intersect_all",
    "set_union_by_name", "p11_like_predicates", "w6_value_windows",
    "w7_dist_ladder", "w8_ntile", "w9_time_range_frame",
    "w10_topk_per_group", "a23_collect_sorted", "a25_min_max_by",
    "a26_bitwise_agg", "a27_stats_moments", "a28_filtered_bool_aggs",
    "a29_grouping_id", "a30_listagg", "a31_mode_argmax", "a32_median",
    "f17_json_extract", "f24_higher_order", "f27_from_json_struct",
    "x1_quality_report", "x2_outlier_mad", "x3_snapshot_diff",
})

# The 50 rows of CORRECTNESS_r04.json: 45 hash-green + 5 deliberate
# clean rows-only presentations (the HLL/percentile sketch family,
# the real-langdetect path, the Bloom prefilter).
_R04_GREEN = frozenset({
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q10_returned_items",
    "tpch_q12_line_priority", "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_count", "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customer", "tpch_q19_disjunctive_revenue",
    "tpch_q22_global_sales_opportunity", "tsql_dialect_rollup",
    "sql_surface_view_query", "a19_approx_distinct",
    "a24_approx_percentile", "a33_hll_sketch_union",
    "ext_lang_detect_lib", "ext_gopher_quality", "ext_c4_filters",
    "ext_trigram_familiarity", "ext_ann_quantized_topk",
    "ext_decontaminate_bloom", "e1_funnel_stages",
    "e2_retention_cohorts", "e3_event_transitions",
    "e4_conversion_latency", "g3_dedup_survivors",
    "x7_freshness_report", "f19_explode_tokens", "f20_map_functions",
    "f21_string_ladder", "f22_date_ladder", "f23_regexp_extract_all",
    "f26_null_ladder", "f28_str_to_map", "f29_width_bucket",
    "f30_try_arithmetic", "f31_explode_outer", "f32_sequence_gapfill",
    "s10_partition_prune_roundtrip", "s13_schema_evolution_roundtrip",
    "s14_bucketed_join_roundtrip", "s15_zorder_layout_roundtrip",
    "j22_dynamic_partition_prune",
})

# The 48 adjudicated rows of CORRECTNESS_r05.json: 41 hash-green + 7
# deliberate clean rows-only presentations (float-iterative /
# engine-hash / offline-model outputs, each pinned against an
# independent Python model in tests/). The two r5 reds — a34 (hash
# fail on rounded-double components) and m1 (driver canonicalizer
# crash on an array column) — are NOT green: both are fixed this
# round and lead the round-6 window for re-verdicts.
_R05_GREEN = frozenset({
    "s16_multiline_csv_roundtrip", "ext_keyword_search",
    "ext_inverted_index", "g5_triangle_count",
    "stream_interval_join_outer", "stream_dedup_ingest",
    "stream_static_enrich", "e5_sessionization",
    "e6_attribution_last_touch", "ts2_resample_ohlc",
    "ext_hashed_linear_score", "ext_source_mixture",
    "j25_grid_distance_join", "x9_integrity_report",
    "ext_target_encoding", "ext_tfidf_topterms",
    "g4_dedup_survivors_argmax", "ext_contamination_matrix",
    "ext_dsir_components", "u6_udtf_tokenize", "u7_pandas_udaf_maxgap",
    "x4_fuzzy_match", "x5_incremental_agg", "ts1_interpolate",
    "w1_merge_dedup_latest", "ext_source_stats",
    "ext_stratified_sample", "ext_vocab_topk", "ext_label_centroid",
    "ext_sequence_pack", "ext_dup_ngram_fraction", "ext_url_parse",
    "ext_filter_funnel", "ext_embedding_quantize", "ext_label_balance",
    "ext_rolling_hash_fingerprint", "ext_winnow_fingerprint",
    "ext_multimodal_embed_ann", "a35_equidepth_histogram",
    "x10_skew_report", "s17_key_erasure_roundtrip", "ext_ann_ivf_topk",
    "ext_bm25_topk", "g6_pagerank", "ext_ann_pq_topk",
    "ext_semantic_dedup", "ext_bpe_train_merges",
    "ext_bpe_encode_counts",
})

# Round-6 greens: 43 hash-green + 6 clean rows-only out of the
# 50-entry closure window (CORRECTNESS_r06.json). The one red —
# a34_corr_components — stays out and leads the round-7 window.
_R06_GREEN = frozenset({
    "a1_pricing_summary", "a3_count_distinct",
    "a4_global_count_distinct", "a5_conditional_agg",
    "e7_position_attribution", "e8_dau_wau", "ext_cooccurrence_pmi",
    "ext_dedup_ingest_minhash", "ext_dedup_minhash",
    "ext_dedup_simhash", "ext_dup_span_coverage", "ext_hybrid_rrf",
    "ext_mmr_diversify", "ext_negative_samples", "ext_ngram_novelty",
    "ext_novelty_ingest", "ext_phrase_search",
    "ext_quality_train_eval", "f33_winsorize", "f34_variant_json",
    "f35_recursive_hierarchy", "g7_bfs_hops", "g8_label_propagation",
    "g9_k_core", "j1_fact_dim_join", "j26_asof_tolerance",
    "j28_cdc_apply", "j2_derived_date_join", "j4_left_anti",
    "j6_left_semi", "j7_agg_join", "j8_merge_upsert",
    "j9_update_from_join", "m1_frequent_itemsets", "p10_threshold",
    "p1_column_prune", "p4_trycast_filter", "p6_between", "p7_isin",
    "p8_interval_overlap", "p9_eq_lookup", "s18_jsonl_roundtrip",
    "s1_scan_project", "s4_limited_scan", "ts4_gap_islands",
    "x11_drift_psi", "x12_drift_equidepth", "x13_benford_first_digit",
    "x14_rowhash_checksum",
})

# Round-7 greens: 48 hash-green out of the 50-entry window
# (CORRECTNESS_r07.json); the red (ts5_vwap_components) and the
# rows-only ext_ann_ivf_pq_topk (whose builder changed again in r8)
# stay out and lead the round-8 window.
_R07_GREEN = frozenset({
    "a10_minmax", "a12_distinct_count", "a14_profile", "a16_rollup",
    "a17_cube", "a1_pricing_summary", "a34_corr_components",
    "a3_count_distinct", "a4_global_count_distinct",
    "a5_conditional_agg", "a6_money_clean_agg", "a7_weekly_rollup",
    "a9_having_dups", "e8_dau_wau", "ext_hard_negatives",
    "f10_date_dimension", "f13_bool_norm", "f15_trycast_decimal",
    "f3_truncate_substr", "f5_parse_location", "f9_date_parts",
    "j1_fact_dim_join", "j28_cdc_apply", "j2_derived_date_join",
    "j4_left_anti", "j6_left_semi", "j7_agg_join", "j8_merge_upsert",
    "j9_update_from_join", "o2_topk", "o3_keyed_sample",
    "p10_threshold", "p1_column_prune", "p4_trycast_filter",
    "p6_between", "p7_isin", "p8_interval_overlap", "p9_eq_lookup",
    "s1_scan_project", "s4_limited_scan", "set_except",
    "set_intersect", "set_union_distinct", "w1_latest_per_key",
    "w2_first_per_group", "w3_lag_lead", "w4_running_frames",
    "w5_rank_ladder",
})

# Round-8 greens: 48/50 window clean (CORRECTNESS_r08.json) — all
# four merge-gate riders, all six r8 additions, and the re-verified
# §2 core. Out: ts5_vwap_components (hash red — the DECIMAL lo/hi
# columns, re-encoded as integer cents for r9) and ext_ann_ivf_pq_topk
# (deliberate rows-only, adjudicated).
_R08_GREEN = frozenset({
    'a10_minmax', 'a12_distinct_count', 'a13_merge_action_counts',
    'a14_profile', 'a1_pricing_summary', 'a36_weighted_median',
    'a3_count_distinct', 'a4_global_count_distinct',
    'a5_conditional_agg', 'a6_money_clean_agg', 'a7_weekly_rollup',
    'a9_having_dups', 'e9_peak_concurrency',
    'ext_dedup_simhash_portable', 'ext_fuzzy_blocked_join',
    'ext_kfold_assign', 'ext_url_canonicalize', 'f10_date_dimension',
    'f13_bool_norm', 'f5_parse_location', 'f9_date_parts',
    'j1_fact_dim_join', 'j28_cdc_apply', 'j2_derived_date_join',
    'j4_left_anti', 'j6_left_semi', 'j7_agg_join', 'j8_merge_upsert',
    'j9_update_from_join', 'o2_topk', 'o3_keyed_sample',
    'p10_threshold', 'p1_column_prune', 'p4_trycast_filter',
    'p6_between', 'p7_isin', 'p8_interval_overlap', 'p9_eq_lookup',
    's1_scan_project', 's4_limited_scan', 'set_except',
    'set_intersect', 'set_union_distinct', 'stream_distinct_users',
    'w11_running_distinct', 'w1_latest_per_key',
    'w1_merge_dedup_latest', 'w2_first_per_group',
})

# Round-9 greens: the first fully clean window — 50/50
# (CORRECTNESS_r09.json): ts5's integer-cents re-verdict, the two
# r8-changed builders, all ten r9 additions, and the r1/r2-vintage
# refresh block. NOTE: the two portable ANN twins re-encoded in r10
# (corpus-only codebook) are deliberately ALSO in _PRIORITY — a
# front-block listing overrides green placement.
_R09_GREEN = frozenset({
    'a11_count_scalars', 'a18_pivot', 'a2_region_segment_view',
    'a8_per_key_count', 'e10_cohort_retention',
    'e9_peak_concurrency', 'ext_ann_batch_topk',
    'ext_ann_brute_topk', 'ext_ann_ivfadc_portable_topk',
    'ext_bpe_token_count', 'ext_chunk_documents',
    'ext_data_prep_pipeline', 'ext_decontaminate',
    'ext_dedup_embedding', 'ext_dedup_exact',
    'ext_dedup_ngram_jaccard', 'ext_dedup_winnow_pairs',
    'ext_domain_quota_sample', 'ext_fingerprint',
    'ext_fuzzy_blocked_join', 'ext_grouped_median',
    'ext_label_outliers', 'ext_lang_id', 'ext_lang_id_udf',
    'ext_mmr_portable_topk', 'ext_multimodal_image_meta',
    'ext_multimodal_meta', 'ext_pii_redact', 'ext_quality_score',
    'ext_repetition_filter', 'ext_retrieval_eval',
    'ext_text_quality', 'ext_token_count', 'ext_train_split',
    'f12_case_conditional', 'f14_numeric_coercion',
    'f16_metadata_math', 'f18_array_functions',
    'f6_filename_geography', 'f7_date_conversion',
    'g1_connected_components', 'g2_dedup_clusters',
    'j10_catalog_join', 'j13_asof_join', 'j14_range_join',
    'stream_quota_admission', 'stream_watermark_late_drop',
    'ts5_vwap_components', 'ts6_twap_components',
    'x15_referential_integrity',
})

# Round-10 greens: the second consecutive fully clean window — 50/50
# (CORRECTNESS_r10.json): the two re-encoded portable ANN twins, the
# five rows-only→oracle conversions, the s19 ORC probe, and the
# 42-entry r3-vintage refresh block.
_R10_GREEN = frozenset({
    'a15_two_stage_salted_agg', 'a20_unpivot', 'a21_grouping_sets',
    'a22_percentile_disc', 'a23_collect_sorted', 'a25_min_max_by',
    'a26_bitwise_agg', 'a27_stats_moments', 'a28_filtered_bool_aggs',
    'a29_grouping_id', 'a30_listagg', 'a31_mode_argmax', 'a32_median',
    'ext_ann_ivfadc_portable_topk', 'ext_ann_lsh_topk',
    'ext_bm25_portable_topk', 'ext_chunk_dedup',
    'ext_chunk_pack_pipeline', 'ext_decontaminate_bloom_portable',
    'ext_dedup_minhash_banded', 'ext_dedup_ppjoin', 'ext_line_dedup',
    'ext_mmr_portable_topk', 'ext_multimodal_audio_meta',
    'ext_multimodal_video_meta', 'ext_training_manifest',
    'f17_json_extract', 'f24_higher_order', 'f27_from_json_struct',
    'g6_pagerank_portable', 'g8_label_propagation',
    'g9_k_core_portable', 'j12_salted_skew_join', 'j15_cross_join',
    'j16_left_outer', 'j17_full_outer', 'j18_null_safe_join',
    'j19_star_join_rollup', 'j20_scd2_apply', 'p11_like_predicates',
    's19_orc_roundtrip', 'set_except_all', 'set_intersect_all',
    'set_union_by_name', 'sq_exists_correlated', 'sq_scalar_threshold',
    'w10_topk_per_group', 'w6_value_windows', 'w7_dist_ladder',
    'w8_ntile',
})

# Round-11 greens: the third consecutive fully clean window — 46
# hash-green + 4 rows-only-by-design (a19/a24/a33 sketches +
# ext_lang_detect_lib, recorded err:"no_oracle" with rows returned)
# out of 50 (CORRECTNESS_r11.json): the BPE portable twin and the
# r4-vintage refresh block.
_R11_GREEN = frozenset({
    'a19_approx_distinct', 'a24_approx_percentile',
    'a33_hll_sketch_union', 'e1_funnel_stages', 'e2_retention_cohorts',
    'e3_event_transitions', 'e4_conversion_latency',
    'ext_ann_quantized_topk', 'ext_bpe_train_portable',
    'ext_c4_filters', 'ext_gopher_quality', 'ext_lang_detect_lib',
    'ext_trigram_familiarity', 'f19_explode_tokens',
    'f20_map_functions', 'f21_string_ladder', 'f22_date_ladder',
    'f23_regexp_extract_all', 'f26_null_ladder', 'f28_str_to_map',
    'f29_width_bucket', 'f30_try_arithmetic', 'f31_explode_outer',
    'f32_sequence_gapfill', 'g3_dedup_survivors',
    'j22_dynamic_partition_prune', 's10_partition_prune_roundtrip',
    's13_schema_evolution_roundtrip', 's14_bucketed_join_roundtrip',
    's15_zorder_layout_roundtrip', 'sql_surface_view_query',
    'tpch_q10_returned_items', 'tpch_q12_line_priority',
    'tpch_q13_customer_distribution', 'tpch_q14_promo_effect',
    'tpch_q15_top_supplier', 'tpch_q16_supplier_part_count',
    'tpch_q17_small_quantity_revenue', 'tpch_q18_large_volume_customer',
    'tpch_q19_disjunctive_revenue', 'tpch_q1_pricing_summary',
    'tpch_q22_global_sales_opportunity', 'tpch_q3_shipping_priority',
    'tpch_q4_order_priority', 'tpch_q5_local_supplier_volume',
    'tpch_q6_forecast_revenue', 'tpch_q7_volume_shipping',
    'tpch_q8_market_share', 'tsql_dialect_rollup', 'x7_freshness_report',
})

# Round-12 greens: the fourth consecutive fully clean window — all
# 50 rows of CORRECTNESS_r12.json (43 hash-green + 7
# rows-only-by-design recorded err:"no_oracle" with rows returned:
# the ANN ivf/pq pair, bm25, the BPE train/encode pair, the Bloom
# base entry, semantic_dedup — each twinned by a hash-green portable
# sibling).
_R12_GREEN = frozenset({
    'a19_approx_distinct', 'a24_approx_percentile',
    'a33_hll_sketch_union', 'a35_equidepth_histogram',
    'e5_sessionization', 'e6_attribution_last_touch',
    'ext_ann_ivf_topk', 'ext_ann_pq_topk', 'ext_bm25_topk',
    'ext_bpe_encode_counts', 'ext_bpe_train_merges',
    'ext_contamination_matrix', 'ext_decontaminate_bloom',
    'ext_dsir_components', 'ext_dup_ngram_fraction',
    'ext_embedding_quantize', 'ext_filter_funnel',
    'ext_hashed_linear_score', 'ext_inverted_index',
    'ext_keyword_search', 'ext_label_balance', 'ext_label_centroid',
    'ext_multimodal_embed_ann', 'ext_rolling_hash_fingerprint',
    'ext_semantic_dedup', 'ext_sequence_pack', 'ext_source_mixture',
    'ext_source_stats', 'ext_stratified_sample', 'j11_broadcast_semi',
    'j3_cast_key_join', 'j5_not_in_anti', 'o6_full_sort',
    'o7_distinct_sorted_limit', 'p2_add_default_column',
    'p3_column_drop', 'p5_null_empty_predicates',
    's11_compaction_roundtrip', 's5_header_scan',
    's8_quarantine_roundtrip', 'stream_interval_join',
    'stream_session', 'stream_sliding', 'stream_stateful_totals',
    'stream_tumbling', 'w9_time_range_frame', 'x1_quality_report',
    'x2_outlier_mad', 'x3_snapshot_diff', 'x6_profile_table',
})

_GREEN = (_R01_GREEN | _R02_GREEN | _R03_GREEN | _R04_GREEN
          | _R05_GREEN | _R06_GREEN | _R07_GREEN | _R08_GREEN
          | _R09_GREEN | _R10_GREEN | _R11_GREEN | _R12_GREEN)

# In-round re-encodes: entries whose OUTPUT ENCODING changed this
# round and therefore need a fresh hash verdict ahead of every green
# refresh (the r10 ANN-twin / r12 sketch-contract precedent). This is
# the --front input to tools/gen_priority.py; after changing it (or
# adding registry entries) RE-RUN the generator and paste its output
# below — test_plan_audit replays compute_priority(REGISTRY,
# vintages, 50, _FRONT) and asserts _PRIORITY equals it verbatim.
_FRONT: list[str] = []

# Explicit front of the queue — the ~50-entry adjudication window,
# emitted VERBATIM by `python tools/gen_priority.py` (vintage = max
# round per entry across CORRECTNESS_r*.json, numeric file order;
# window = _FRONT + never-adjudicated + the 50 oldest by (vintage,
# name)).
# window=50 vintage-mix {8: 6, 9: 44}
_PRIORITY = [
    "set_union_distinct",
    "stream_distinct_users",
    "w11_running_distinct",
    "w1_latest_per_key",
    "w1_merge_dedup_latest",
    "w2_first_per_group",
    "a11_count_scalars",
    "a18_pivot",
    "a2_region_segment_view",
    "a8_per_key_count",
    "e10_cohort_retention",
    "e9_peak_concurrency",
    "ext_ann_batch_topk",
    "ext_ann_brute_topk",
    "ext_bpe_token_count",
    "ext_chunk_documents",
    "ext_data_prep_pipeline",
    "ext_decontaminate",
    "ext_dedup_embedding",
    "ext_dedup_exact",
    "ext_dedup_ngram_jaccard",
    "ext_dedup_winnow_pairs",
    "ext_domain_quota_sample",
    "ext_fingerprint",
    "ext_grouped_median",
    "ext_label_outliers",
    "ext_lang_id",
    "ext_lang_id_udf",
    "ext_multimodal_image_meta",
    "ext_multimodal_meta",
    "ext_pii_redact",
    "ext_quality_score",
    "ext_repetition_filter",
    "ext_retrieval_eval",
    "ext_text_quality",
    "ext_token_count",
    "ext_train_split",
    "f12_case_conditional",
    "f14_numeric_coercion",
    "f16_metadata_math",
    "f18_array_functions",
    "f6_filename_geography",
    "f7_date_conversion",
    "g1_connected_components",
    "g2_dedup_clusters",
    "j10_catalog_join",
    "j13_asof_join",
    "j14_range_join",
    "stream_quota_admission",
    "stream_watermark_late_drop",
]


def _reorder() -> None:
    front = [n for n in _PRIORITY if n in REGISTRY]
    fset = set(front)
    # anything new/unlisted: oracle-paired before rows-only, ahead of
    # the already-green back block
    mid = sorted((n for n in REGISTRY if n not in fset and n not in _GREEN),
                 key=lambda n: REGISTRY[n].oracle is None)
    # a re-presented green entry (e.g. a19's rows-only re-verdict) can
    # sit in the front; keep the back block disjoint from it
    back = [n for n in REGISTRY if n in _GREEN and n not in fset]
    order = front + mid + back
    assert len(order) == len(REGISTRY), (len(order), len(REGISTRY))
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update({n: snapshot[n] for n in order})


_reorder()

__all__ = ["REGISTRY", "Query"]
