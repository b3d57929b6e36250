"""Driver contract for the PySpark-native engine.

``entry``   — flagship query smoke check at sf0.001.
``queries`` — one entry per implemented operator family from
              SURVEY.md §2 plus the north-star extensions, read
              from ``ENTRIES``, the one registry (order and tags:
              see the comment above it; ``tagged`` looks tags up).
``oracle_sql`` — DuckDB-runnable ANSI twins. Omitted only for the
              one op whose results depend on Spark-internal sketch
              functions (HLL/KLL in sketch_event_stats) — it gets a
              rows-only check here and agreement tests against exact
              operators in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aws_de_final_project_spark.functions import text as _TX
from aws_de_final_project_spark.operators import classifier as _CLF
from aws_de_final_project_spark.operators import curation as _CUR
from aws_de_final_project_spark.operators import dedup as _DD
from aws_de_final_project_spark.operators import webcrawl as _WC
from aws_de_final_project_spark.plans import extensions as X
from aws_de_final_project_spark.plans import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the arrest-pct shape: two aggregations of one
    base relation joined on the group key + rounded pct + top-15,
    mirroring athena_queries/arrest_pct_by_community_VIOLENT.txt)."""
    return Q.return_pct_by_nation(spark, "/root/testdata/sf0.001")


# The registry: one row per queries() entry, (name, builder, tags).
#
# Row order is queries() order, which the outside driver reads. It
# checks a ~50-entry sample from the front, so the front holds what most
# needs re-proving: the flagship, then the round-13 cohort (the 14
# entries new that round, then the 41 oracled entries whose last driver
# sample was the oldest), then the rest in the order they were
# registered. Rows-only entries (no oracle_sql() key) come last, so no
# sample slot is spent on a rows-only check.
#
# Tags, space-separated (tagged() reads them):
#   headline  bench.py times the entry at sf0.1.
#   slope     bench.py also re-times it at sf0.01, so a superlinear
#             regression shows as a warm(sf)/warm(sf0.01) slope jump
#             even when the sf0.1 time looks healthy. Needs headline:
#             the sf0.1 time is reused, not re-measured.
#   events10  tools/scale_probe.py times it up to the x10 events tier.
#   docsN     ... up to the xN documents tier (10, 30 or 100).
#   miscN     ... up to the xN lineitem/embeddings/customer tier.
#   build:R   its plan build runs Spark jobs at sf0.001, for reason R:
#             auto      a count-sized dispatch (impl='auto' or
#                       util.DRIVER_MAX_ROWS);
#             pipeline  an action pipeline by contract (bounded
#                       collect, vocabulary trainer, Bloom mask);
#             stream    a streaming replay;
#             writer    a writer round-trip;
#             cut       a util.cut over an exchange (under AQE the cut
#                       runs the exchange's map stages at the call).
#             tests/test_plan_shapes.py checks it both ways.
Builder = Callable[[SparkSession, str], DataFrame]

ENTRIES: tuple[tuple[str, Builder, str], ...] = (
    ("return_pct_by_nation", Q.return_pct_by_nation, "headline"),
    # probe: per-page parse is a mapInPandas scan, flat-linear
    ("pdf_extract_stats", X.pdf_extract_stats, "headline docs10"),
    # probe: scan-side extraction + one img_url window
    ("image_caption_pairs", X.image_caption_pairs, "headline docs10"),
    # probe: header-only byte walk, flat
    ("media_exif_stats", X.media_exif_stats, "headline docs10"),
    # probe: header-only byte walk, flat
    ("scrub_exif_gps_docs", X.scrub_exif_gps_docs, "headline docs10"),
    # probe: domain-keyed graph build + bounded driver iteration
    ("pagerank_host_graph", X.pagerank_host_graph, "headline docs10 build:auto"),
    # probe: single-scan HOF suite
    ("chat_validation_suite", X.chat_validation_suite, "headline docs10"),
    # probe: batch-sized registry anti-join
    ("chat_prompt_dedup", X.chat_prompt_dedup, "headline docs10"),
    # probe: bounded 4-prompt groups, so pair volume is linear
    ("chat_prompt_near_dedup", X.chat_prompt_near_dedup, "headline docs10 build:cut"),
    # probe: pure projection, flat
    ("chat_loss_mask_stats", X.chat_loss_mask_stats, "headline docs10"),
    # probe: pure projection, flat
    ("chat_prompt_split", X.chat_prompt_split, "headline docs10"),
    # probe: one signature window
    ("image_caption_keepers", X.image_caption_keepers, "headline docs10"),
    # probe: one HOF fold
    ("chat_render_template", X.chat_render_template, "headline docs10"),
    # probe: per-shard pack window
    ("chat_pack_sequences", X.chat_pack_sequences, "headline docs10"),
    # probe: the streaming validation fold keeps 8 longs of state, so cost is
    # linear in batch count
    ("streaming_chat_validation_replay", X.streaming_chat_validation_replay,
     "headline docs10 build:stream"),
    # probe: the composed curation chain (dedup -> gate -> decontaminate
    # -> split), every stage linear; the costliest bench query, stressed
    # at 1.5M docs
    ("curation_manifest_docs", X.curation_manifest_docs, "headline docs30 build:cut"),
    ("decontaminate_vs_benchmark", X.decontaminate_vs_benchmark, ""),
    ("dedup_component_groups", X.dedup_component_groups, "build:auto"),
    # probe: the driver-facing full-oracle LSH clustering; banded md5
    # clustering is a growth risk, so x30 too
    ("dedup_component_groups_portable", X.dedup_component_groups_portable,
     "headline slope docs30 build:auto"),
    # probe: shingle equi-join; cipher copies keep cross-copy shingles
    # disjoint, so pair volume stays linear
    ("dedup_containment_pairs", X.dedup_containment_pairs,
     "headline docs100 build:cut"),
    ("dedup_incremental_fold", X.dedup_incremental_fold, ""),
    ("drift_psi_event_values", X.drift_psi_event_values, "headline"),
    # probe: per-shard rank, flat-linear by construction
    ("epoch_shuffle_docs", X.epoch_shuffle_docs, "headline docs10"),
    # probe: per-user interval windows
    ("interval_coverage_per_user", Q.interval_coverage_per_user, "headline events10"),
    # probe: scan-side literal-bank projection, zero exchanges before
    # the output order
    ("jl_project_embeddings", X.jl_project_embeddings, "headline misc10"),
    ("latency_quantiles_by_type", Q.latency_quantiles_by_type, "headline"),
    # probe: line-level dedup (md5-keyed line shuffle)
    ("line_dedup_docs", X.line_dedup_docs, "docs10"),
    ("max_event_gap_per_user", Q.max_event_gap_per_user, "headline"),
    ("mixture_rebalance", X.mixture_rebalance, ""),
    ("ngram_top_terms", X.ngram_top_terms, "headline"),
    ("phrase_search_docs", X.phrase_search_docs, "headline"),
    # probe: grew fastest at x10 (3.2x), so x30 too
    ("quality_filter_flags", X.quality_filter_flags, "headline slope docs30"),
    ("quality_topq_by_source", X.quality_topq_by_source, ""),
    ("repetition_top_bigram", X.repetition_top_bigram, "headline docs10"),
    # probe: the KMV merge path (two delta sketches folded); same no-full-sort
    # claim per delta, merge input <= 2k per group
    ("rollup_incremental_distinct_kmv", X.rollup_incremental_distinct_kmv,
     "headline events10"),
    # probe: CMS cells are vocabulary-independent state; the shuffle must stay
    # ~2048 cells per task whatever the corpus
    ("sketch_cms_token_freq", X.sketch_cms_token_freq, "headline docs10"),
    # probe: salted two-phase KMV k-minimum; the claim is that no task ever
    # sorts a full group's distinct set
    ("sketch_kmv_distinct_portable", X.sketch_kmv_distinct_portable,
     "headline events10"),
    # probe: pure-projection hash split, flat-linear by construction
    ("split_train_val_test_docs", X.split_train_val_test_docs, "headline docs10"),
    ("stratified_sample_events", X.stratified_sample_events, ""),
    ("topk_orders_per_customer_agg", Q.topk_orders_per_customer_agg, "headline"),
    ("zorder_pruned_scan", X.zorder_pruned_scan, "headline build:writer"),
    # probe: an sf1 slope flag (one keyed window + anti-join); the fresh row
    # pins the floor-distortion triage
    ("cdc_apply_user_state", Q.cdc_apply_user_state, "headline events10"),
    ("ema_user_value", Q.ema_user_value, "headline"),
    ("entity_resolution_customers", X.entity_resolution_customers,
     "headline misc30 build:auto"),
    # probe: retrieval stack (scan-side term filter + broadcast stats)
    ("inverted_index_postings", X.inverted_index_postings, "headline docs10"),
    ("k_anonymity_customers", Q.k_anonymity_customers, "headline"),
    ("profile_orders_table", Q.profile_orders_table, "headline"),
    ("state_diff_user_snapshots", Q.state_diff_user_snapshots, "headline build:cut"),
    # probe: scan-side regex/canon + one (domain, term) count
    ("anchor_text_stats", X.anchor_text_stats, "headline docs10"),
    # probe: shares bloom_decontaminate_docs' machinery (two mask
    # builds + probe)
    ("bloom_incremental_union", X.bloom_incremental_union,
     "headline docs10 build:pipeline"),
    # probe: retrieval stack (scan-side term filter + broadcast stats)
    ("bm25_doc_scores", X.bm25_doc_scores, "headline docs10"),
    # probe: scan-side replace chain, flat scan speed
    ("bpe_encode_docs", X.bpe_encode_docs, "headline docs10"),
    # probe: narrow (id, domain) window shuffle, bodies never move
    ("cap_docs_per_host", X.cap_docs_per_host_docs, "headline docs10"),
    # probe: candidates must scale with the true dup count (cipher copies keep
    # cross-copy shingles disjoint), not n^2
    ("dedup_prefix_filter_pairs", X.dedup_prefix_filter_pairs,
     "headline docs30 build:cut"),
    # probe: two D-bounded aggregates + broadcast join + narrow keyed sum
    ("dsir_importance_docs", X.dsir_importance_docs, "headline docs10"),
    # probe: Misra-Gries partial summaries must stay O(k * partitions)
    ("heavy_hitter_tokens", X.heavy_hitter_tokens, "headline docs30"),
    ("q1_pricing_summary", Q.q1_pricing_summary, "headline"),
    ("filter_disjunctive", Q.filter_disjunctive, "headline"),
    ("count_by_concat_key", Q.count_by_concat_key, ""),
    ("weekday_features", Q.weekday_features, ""),
    ("etl_derive_dates", Q.etl_derive_dates, ""),
    ("filtered_agg_returns", Q.filtered_agg_returns, ""),
    ("dim_join_rollup", Q.dim_join_rollup, "headline"),
    ("topk_customers", Q.topk_customers, ""),
    ("window_rank_orders", Q.window_rank_orders, "headline"),
    ("left_join_order_counts", Q.left_join_order_counts, ""),
    ("anti_join_idle_customers", Q.anti_join_idle_customers, ""),
    ("rollup_region_nation", Q.rollup_region_nation, ""),
    ("distinct_agg_customers", Q.distinct_agg_customers, ""),
    ("set_union_distinct", Q.set_union_distinct, ""),
    ("view_layering", Q.view_layering, ""),
    # probe: scan-side table extraction
    ("html_table_rows", X.html_table_rows, "headline docs10"),
    # probe: scan-side table extraction
    ("html_table_records", X.html_table_records, "headline docs10"),
    # probe: train + broadcast verdict join
    ("tokenizer_roundtrip_docs", X.tokenizer_roundtrip_docs,
     "headline docs10 build:pipeline"),
    ("tokenizer_export_manifest", X.tokenizer_export_manifest, "headline build:writer"),
    # probe: frame-sampled video banding
    ("dedup_video_frames", X.dedup_video_frames, "headline docs10 build:cut"),
    # probe: the highest x10 slope (3.9) had no x30 row; one more decade
    # settles it
    ("video_scene_cut_frames", X.video_scene_cut_frames, "headline docs30"),
    ("media_header_stats", X.media_header_stats, "headline docs10"),
    ("dedup_image_quality_keepers", X.dedup_image_quality_keepers, "headline"),
    # probe: audio fingerprint banding
    ("dedup_audio_fingerprint", X.dedup_audio_fingerprint, "headline docs10"),
    ("avro_roundtrip_stats", X.avro_roundtrip_stats, "headline build:writer"),
    ("main_content_multilingual_docs", X.main_content_multilingual_docs, "headline"),
    # probe: groups are doc_id-derived, so id-shifted copies scale planted
    # pairs exactly linearly
    ("dedup_image_phash", X.dedup_image_phash, "headline docs30"),
    ("dedup_image_exact_groups", X.dedup_image_exact_groups, "headline"),
    ("unigram_lm_vocab", X.unigram_lm_vocab, "headline build:pipeline"),
    # probe: cipher copies grow |vocab| ~10x; vocab-linear training +
    # scan-linear encode
    ("unigram_encode_docs", X.unigram_encode_docs, "headline docs30 build:pipeline"),
    # headline: bench carries the auto-sized path users should run, not just
    # the fixed-literal oracle twin; probe: 'auto' grows the blocking planes
    # with the corpus, so the slope stays <= ~linear up to 500k vectors
    ("dedup_embedding_cosine_auto", X.dedup_embedding_cosine_auto,
     "headline misc100 build:auto"),
    # headline: bench carries the auto-sized path users should run, not just
    # the fixed-literal oracle twin
    ("dedup_semantic_auto", X.dedup_semantic_auto, "headline build:auto"),
    ("html_main_content_docs", X.html_main_content_docs, "headline"),
    ("robots_wildcard_docs", X.robots_wildcard_docs, "headline"),
    # probe: the staged-projection classifier is a pure scan, flat all the way
    # to the 500k-doc x100 tier
    ("lang_id_classifier_docs", X.lang_id_classifier_docs, "headline docs100"),
    ("perplexity_buckets_docs", X.perplexity_buckets_docs, "headline"),
    ("kneser_ney_logprob_docs", X.kneser_ney_logprob_docs, "headline"),
    ("temperature_mixture_rates", X.temperature_mixture_rates_docs, "headline"),
    ("repetition_signals_docs", X.repetition_signals_docs, "headline"),
    # probe: scan-side regexp chain, flat-linear scan speed
    ("url_canonicalize", X.url_canonicalize_docs, "headline docs10"),
    # probe: one hash aggregate, flat-linear scan speed
    ("host_quality_stats", X.host_quality_stats_docs, "headline docs10"),
    # probe: water-filling planner, one count aggregate + tiny
    # single-row-per-source windows; cost must be the count scan
    ("mixture_plan_rates", X.mixture_plan_rates_docs, "headline docs10"),
    ("streaming_kmv_replay", X.streaming_kmv_replay, "headline build:stream"),
    # probe: one hash aggregate, flat-linear scan speed
    ("dedup_url_canonical", X.dedup_url_canonical, "headline docs10"),
    # probe: scan-side regexp chain, flat-linear scan speed
    ("html_extract_text", X.html_extract_docs, "headline docs10"),
    # probe: scan-side regexp chain, flat-linear scan speed
    ("pii_scrub_docs", X.pii_scrub_docs, "headline docs10"),
    ("jsonl_roundtrip_stats", X.jsonl_roundtrip_stats, "headline build:writer"),
    # probe: the one Arrow pandas-UDF scan probed; linear scan speed plus a
    # constant Arrow serialize cost
    ("unicode_nfc_docs", X.unicode_nfc_docs, "headline docs10"),
    ("ann_lsh_topk", X.ann_lsh_topk, ""),
    ("ann_ivf_topk", X.ann_ivf_topk, "headline"),
    ("multimodal_decode_features", X.multimodal_decode_features, ""),
    ("multimodal_resize_stats", X.multimodal_resize_stats, ""),
    ("multimodal_feature_knn", X.multimodal_feature_knn, ""),
    ("multimodal_frame_sample", X.multimodal_frame_sample, ""),
    # probe: an aggregate + broadcast anti-join; two linear scans, no doc
    # shuffle
    ("host_blocklist_filter", X.host_blocklist_filter, "headline docs10"),
    ("warc_extract_stats", X.warc_extract_stats, "headline build:writer"),
    # probe: hashed-BoW linear classifier is scan-side codegen, flat scan speed
    ("quality_classifier_scores", X.quality_classifier_docs, "headline docs10"),
    # probe: scan-side regex + one domain-pair aggregate
    ("host_link_graph", X.host_link_graph_docs, "headline docs10"),
    ("orc_roundtrip_stats", X.orc_roundtrip_stats, "headline build:writer"),
    # probe: chained-replace repair is scan-side codegen, flat scan speed
    ("mojibake_repair_docs", X.mojibake_repair_docs, "headline docs10"),
    # probe: the full sessionization replay (slice write + 5 micro-batches +
    # session-window state); state-store work scales with events per batch, so
    # the replay is linear in the events table
    ("streaming_session_replay", X.streaming_session_replay,
     "headline events10 build:stream"),
    # probe: JVM shingle+position codegen feeding a numpy bit-test Arrow kernel
    # against the broadcast mask; linear scan + kernel cost, no join, a build
    # bounded by the fixed-size benchmark slice; kernel batch cost is a growth
    # risk, so x30
    ("bloom_decontaminate_docs", X.bloom_decontaminate_docs,
     "headline docs30 build:pipeline"),
    # probe: vocab aggregate then a charset^2-bounded pair aggregate; vocab
    # cardinality is a growth risk, so x30
    ("bpe_merge_candidates", X.bpe_merge_candidates, "headline docs30"),
    # probe: full BPE training over the materialized vocab; one corpus
    # aggregate + vocab-sized iterations
    ("bpe_merge_table", X.bpe_merge_table, "headline docs10 build:pipeline"),
    # probe: scan-side Luhn codegen, flat scan speed
    ("pii_card_scrub_docs", X.pii_card_scrub_docs, "headline docs10"),
    # probe: scan-side codegen, flat scan speed
    ("script_mix_docs", X.script_mix_docs, "headline docs10"),
    # probe: bounded-state dedup; state is O(keys in horizon) and each batch's
    # filter is linear in its events
    ("streaming_dedup_replay", X.streaming_dedup_replay,
     "headline events10 build:stream"),
    # probe: scan-side HOF codegen, flat scan speed
    ("sentence_stats_docs", X.sentence_stats_docs, "headline docs10"),
    # probe: broadcast join + scan-side exists/startswith, no URL-side shuffle
    ("robots_filter_docs", X.robots_filter_docs, "headline docs10"),
    # probe: scan-side HOFs over literal rule arrays, flat scan speed
    ("registered_domain_psl_docs", X.registered_domain_psl_docs, "headline docs10"),
    # probe: one vocab aggregate + a constant-size tail, the vocab-collapse
    # linearity of BPE counting
    ("zipf_fit_tokens", X.zipf_fit_tokens, "headline docs10"),
    # probe: foreachBatch drift monitor, a reference freeze + 2 micro-batch PSI
    # aggregates, linear in events
    ("streaming_drift_replay", X.streaming_drift_replay,
     "headline events10 build:stream"),
    # probe: scan-side HOF IN-set, flat scan speed
    ("lexicon_filter_docs", X.lexicon_filter_docs, "headline docs10"),
    ("winsorize_event_values", X.winsorize_event_values, "headline"),
    ("ivm_join_view_fold", X.ivm_join_view_fold, "headline build:cut"),
    ("lateral_top_orders_per_customer", Q.lateral_top_orders_per_customer, "headline"),
    ("mad_outlier_orders", X.mad_outlier_orders, "headline"),
    ("scd2_user_event_type", Q.scd2_user_event_type, "headline"),
    ("triangle_parts_copurchase", X.triangle_parts_copurchase,
     "headline misc100 build:cut"),
    # probe: an sf1 slope flag (two chained aggregates + a broadcast seasonal
    # profile); the fresh row pins the floor-distortion triage
    ("seasonal_hourly_outliers", Q.seasonal_hourly_outliers, "headline events10"),
    ("chi2_event_type_hour", Q.chi2_event_type_hour, "headline"),
    # probe: bigram LM, two corpus aggregates + a model re-join (a growth risk,
    # so x30)
    ("bigram_logprob_scores", X.bigram_logprob_scores, "headline docs30"),
    # probe: pair expansion + two hash aggregates; per-copy disjoint part ids
    # keep pair counts exactly linear
    ("basket_pair_affinity", X.basket_pair_affinity, "headline misc30 build:cut"),
    # probe: CDC chunking is scan-side codegen; scan-speed linearity, zero
    # exchanges before ordering
    ("chunk_text_cdc", X.chunk_text_cdc, "headline docs30"),
    ("ann_cosine_topk_vec", X.ann_cosine_topk_vec, "headline build:pipeline"),
    ("chunk_text_windows", X.chunk_text_windows, ""),
    # probe: two-phase prefix-sum packing
    ("pack_training_sequences", X.pack_training_sequences, "docs10"),
    ("dq_orders_suite", X.dq_orders_suite, "headline"),
    ("dedup_semantic_clustered", X.dedup_semantic_clustered, "headline"),
    ("unigram_logprob_scores", X.unigram_logprob_scores, ""),
    ("spatial_near_customers", X.spatial_near_customers, "headline"),
    ("fuzzy_name_pairs", X.fuzzy_name_pairs, "headline"),
    ("rollup_incremental_user_stats", X.rollup_incremental_user_stats, ""),
    ("rollup_incremental_user_variance", X.rollup_incremental_user_variance,
     "headline"),
    ("overlap_shipment_pairs", X.overlap_shipment_pairs, ""),
    ("token_entropy_scores", X.token_entropy_scores, ""),
    ("rolling_1h_user_value", X.rolling_1h_user_value, "events10"),
    ("dq_documents_suite", X.dq_documents_suite, ""),
    ("semi_join_fast_parts", X.semi_join_fast_parts, "headline"),
    ("unpivot_part_metrics", X.unpivot_part_metrics, "headline"),
    ("pii_redact_names", X.pii_redact_names, "headline"),
    ("band_join_order_tiers", X.band_join_order_tiers, ""),
    ("order_percentile_ranks", X.order_percentile_ranks, ""),
    ("recursive_org_depth", X.recursive_org_depth, ""),
    ("histogram_order_values", X.histogram_order_values, ""),
    # slope and probe: the anchor self-join is a quadratic-risk stage; the
    # per-copy cipher keeps cross-copy anchors disjoint, so pair output
    # scales linearly in copies
    ("dedup_exact_spans", X.dedup_exact_spans, "headline slope docs100"),
    # slope: the Gram aggregate has a quadratic failure mode
    ("pca_embedding_projection", X.pca_embedding_projection,
     "headline slope misc30 build:auto"),
    ("hard_negatives_contrastive", X.hard_negatives_contrastive, "headline"),
    ("weighted_sample_docs", X.weighted_sample_docs, "headline"),
    ("ann_int8_topk", X.ann_int8_topk, "headline"),
    ("pagerank_trade_nations", X.pagerank_trade_nations, "headline build:auto"),
    # probe: double-aggregate cohorts
    ("cohort_retention", Q.cohort_retention, "headline events10"),
    ("rollup_incremental_value_quantiles", X.rollup_incremental_value_quantiles,
     "headline build:cut"),
    ("dedup_corpus_quality_keepers", X.dedup_corpus_quality_keepers, "build:auto"),
    # probe: token-budget sharding
    ("shard_docs_by_token_budget", X.shard_docs_by_token_budget, "headline docs10"),
    # probe: lead windows
    ("event_transition_matrix", Q.event_transition_matrix, "headline events10"),
    ("ann_matryoshka_prefix_recall", X.ann_matryoshka_prefix_recall, "headline"),
    ("weighted_median_price_by_flag", Q.weighted_median_price_by_flag, "headline"),
    ("q5_local_supplier_volume", Q.q5_local_supplier_volume, "headline"),
    ("json_extract_events", Q.json_extract_events, "headline events10"),
    ("hourly_event_stats", Q.hourly_event_stats, "headline slope events10"),
    ("user_sessions", Q.user_sessions, "events10"),
    ("asof_click_attribution", Q.asof_click_attribution, "headline events10"),
    ("range_join_event_sessions", Q.range_join_event_sessions, "headline events10"),
    ("pivot_event_matrix", Q.pivot_event_matrix, ""),
    ("latest_event_per_user", Q.latest_event_per_user, "headline slope events10"),
    ("user_value_intervals", Q.user_value_intervals, ""),
    ("gap_fill_hourly_values", Q.gap_fill_hourly_values, ""),
    ("full_outer_nation_activity", Q.full_outer_nation_activity, ""),
    ("above_customer_avg_orders", Q.above_customer_avg_orders, ""),
    ("corr_qty_price_by_flag", Q.corr_qty_price_by_flag, ""),
    ("funnel_user_steps", Q.funnel_user_steps, "headline events10"),
    ("readability_scores", X.readability_scores, ""),
    ("order_value_deciles", Q.order_value_deciles, ""),
    # probe: the planted hot-key pathology that skew_salted_join exists to fix;
    # the fresh rows quantify both
    ("skew_plain_join", Q.skew_plain_join, "headline events10"),
    ("skew_salted_join", Q.skew_salted_join, "headline events10"),
    ("cube_order_stats", Q.cube_order_stats, ""),
    ("set_intersect_customers", Q.set_intersect_customers, ""),
    ("set_except_customers", Q.set_except_customers, ""),
    ("moving_avg_user_value", Q.moving_avg_user_value, ""),
    ("median_value_by_type", Q.median_value_by_type, ""),
    ("label_centroids", X.label_centroids, ""),
    # probe: retrieval stack (scan-side term filter + broadcast stats)
    ("tfidf_top_terms", X.tfidf_top_terms, "docs10"),
    ("dedup_exact_groups", X.dedup_exact_groups, "headline docs10"),
    ("dedup_jaccard_pairs", X.dedup_jaccard_pairs, ""),
    ("dedup_ngram_jaccard", X.dedup_ngram_jaccard, ""),
    ("dedup_embedding_cosine", X.dedup_embedding_cosine, ""),
    ("dedup_embedding_cosine_blocked", X.dedup_embedding_cosine_blocked, "headline"),
    ("dedup_minhash_portable", X.dedup_minhash_portable,
     "headline slope docs30 build:cut"),
    ("dedup_simhash_portable", X.dedup_simhash_portable, "build:cut"),
    ("grouping_sets_order_stats", Q.grouping_sets_order_stats, ""),
    # probe: brute-force cosine top-k is a linear scan; its sf1 19x read is
    # floor distortion (0.3 s base)
    ("ann_cosine_topk", X.ann_cosine_topk, "headline misc10"),
    ("text_stats_by_lang", X.text_stats_by_lang, "headline docs10"),
    ("token_counts", X.token_counts, ""),
    ("doc_fingerprints", X.doc_fingerprints, ""),
    # probe: grew fastest at x10 (4.3x), so x30 too
    ("doc_winnow_fingerprints", X.doc_winnow_fingerprints, "headline slope docs30"),
    ("lang_id_heuristic", X.lang_id_heuristic, ""),
    ("multimodal_byte_stats", X.multimodal_byte_stats, ""),
    ("sketch_event_stats", X.sketch_event_stats, ""),
)


def queries() -> dict[str, Builder]:
    return {name: build for name, build, _ in ENTRIES}


def tagged(prefix: str) -> dict[str, str]:
    """name -> its tag that starts with ``prefix``, in row order:
    ``tagged("headline")`` is bench's set, ``tagged("docs")`` maps each
    documents-probe entry to its top tier, ``tagged("build:")`` each
    build-job entry to its reason."""
    return {
        name: tag
        for name, _, tags in ENTRIES
        for tag in tags.split()
        if tag.startswith(prefix)
    }


# SQL fragment shared by fingerprint-based oracles: must match
# aws_de_final_project_spark.functions.text.normalized_text exactly
# (DuckDB regexp_replace needs the 'g' flag; Spark's is global).
_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_WORDS = f"list_distinct(string_split({_NORM}, ' '))"


def _jl_sign_rows_sql() -> str:
    """VALUES rows (k, signs DOUBLE[]) carrying the SAME Rademacher
    bank plans/extensions.jl_sign_bank builds for the Spark plan —
    repr round-trips float64 exactly, so both engines dot against
    bit-identical literals."""
    from aws_de_final_project_spark.plans.extensions import jl_sign_bank

    return ", ".join(
        "({k}, [{vals}]::DOUBLE[])".format(
            k=k, vals=", ".join(repr(v) for v in row)
        )
        for k, row in enumerate(jl_sign_bank())
    )


_JL_SIGN_ROWS = _jl_sign_rows_sql()
_TOKENS_LOWER = "list_distinct(string_split_regex(trim(lower(text)), '\\s+'))"

# deterministic messy-URL fixture shared by the url_canonicalize /
# host_quality_stats twins (documents has no URL column; both engines
# derive the same URL from doc_id/source — see plans/extensions.py
# _messy_url, which this mirrors expression-for-expression)
_MESSY_URL = """
    'HTTP://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
    source || '.Site' || CAST(doc_id % 7 AS VARCHAR) ||
    CASE WHEN doc_id % 11 = 0 THEN '.CO.UK'
         WHEN doc_id % 13 = 0 THEN '.GitHub.IO'
         ELSE '.COM' END ||
    CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END ||
    '/Docs/' || CAST(doc_id AS VARCHAR) ||
    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
    '?utm_source=feed&b=2&a=1' ||
    CASE WHEN doc_id % 4 = 0 THEN '&gclid=XYZ' ELSE '' END ||
    '#frag'
"""

# DuckDB twin of operators/webcrawl.canonicalize_url — same six rules,
# RE2 dialect (\\1 backrefs; all patterns anchored so first-match
# replace == global replace). Input column: url. Output column: the
# expression yields canon_url given CTEs below.
_URL_CANON_CTES = """
    defrag AS (
        SELECT *, regexp_replace(url, '(?s)#.*', '') AS _u FROM urls
    ),
    split1 AS (
        SELECT *,
               regexp_extract(_u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)
                   AS _auth0,
               substr(_u, length(regexp_extract(
                   _u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1)) + 1)
                   AS _rest
        FROM defrag
    ),
    split2 AS (
        SELECT *,
               regexp_replace(regexp_replace(regexp_replace(
                   lower(_auth0),
                   '^(http://[^/:?]+):80$', '\\1'),
                   '^(https://[^/:?]+):443$', '\\1'),
                   '^([a-z][a-z0-9+.-]*://)(www\\.)+', '\\1') AS _auth,
               regexp_extract(_rest, '^([^?]*)', 1) AS _path0
        FROM split1
    ),
    split3 AS (
        SELECT *,
               CASE WHEN length(_rest) > length(_path0)
                    THEN substr(_rest, length(_path0) + 2)
                    ELSE '' END AS _query
        FROM split2
    ),
    canon AS (
        SELECT *,
               _auth || regexp_replace(_path0, '/+$', '') ||
               CASE WHEN _qc = '' THEN '' ELSE '?' || _qc END AS canon_url
        FROM (
            -- coalesce: DuckDB's array_to_string([]) is NULL, not ''
            -- (a query-less URL must canonicalize, not null out)
            SELECT *, coalesce(array_to_string(list_sort(list_filter(
                       string_split(_query, '&'),
                       p -> length(p) > 0 AND NOT regexp_matches(p,
                            '^(utm_[^=]*|gclid|fbclid|msclkid|igshid|ref|ref_src)=')
                   )), '&'), '') AS _qc
            FROM split3
        )
    ),
    withhost AS (
        SELECT *,
               regexp_extract(canon_url,
                   '^[a-z][a-z0-9+.-]*://([^/:?]+)', 1) AS host
        FROM canon
    ),
    withdomain AS (
        SELECT *,
               CASE WHEN _last2 = '' THEN host
                    WHEN _last2 IN (__PSL_2L_IN__) AND _last3 <> ''
                    THEN _last3
                    ELSE _last2
               END AS domain
        FROM (
            SELECT *,
                   regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS _last2,
                   regexp_extract(host,
                       '([^.]+\\.[^.]+\\.[^.]+)$', 1) AS _last3
            FROM withhost
        )
    )
""".replace(
    "__PSL_2L_IN__",
    ", ".join(f"'{s}'" for s in _WC.PUBLIC_SUFFIXES_2L),
)

def _entity_decode_ctes(src_cte: str, col: str, keys: str) -> str:
    """CTE pair replaying webcrawl.decode_html_entities one-pass over
    ``col`` of ``src_cte``: split on the interpolated entity pattern,
    decode each match (named table, else numeric codepoint with the
    U+FFFD invalid rule — DuckDB's chr() is full-Unicode, the Spark
    side builds UTF-16BE units), interleave-rebuild. Final CTE
    ``entdec`` carries (keys, t)."""
    ent = _WC.HTML_ENTITY_RE
    code = (
        "(CASE WHEN substr(e, 3, 1) IN ('x', 'X') "
        "THEN CAST(('0x' || substr(e, 4, len(e) - 4)) AS BIGINT) "
        "ELSE CAST(substr(e, 3, len(e) - 3) AS BIGINT) END)"
    )
    dec = (
        "CASE e WHEN '&amp;' THEN '&' WHEN '&lt;' THEN '<' "
        "WHEN '&gt;' THEN '>' WHEN '&quot;' THEN '\"' "
        "WHEN '&nbsp;' THEN ' ' ELSE "
        f"chr(CAST(CASE WHEN {code} < 1 "
        f"OR {code} BETWEEN 55296 AND 57343 "
        f"OR {code} > 1114111 THEN 65533 "
        f"ELSE {code} END AS INTEGER)) END"
    )
    return f"""
            entsplit AS (
                SELECT {keys},
                       string_split_regex({col}, '{ent}') AS parts,
                       list_transform(regexp_extract_all({col}, '{ent}'),
                                      e -> {dec}) AS dec
                FROM {src_cte}
            ),
            entdec AS (
                SELECT {keys},
                       coalesce(list_aggr(list_transform(
                           generate_series(1, len(dec)),
                           i -> parts[i] || dec[i]), 'string_agg', ''), '')
                       || parts[len(parts)] AS t
                FROM entsplit
            )"""


def _main_block_txt_sql(b: str) -> str:
    """webcrawl._block_visible_text twin: inline tags to spaces,
    whitespace collapsed, trimmed (entities stay encoded — densities
    are computed pre-decode on both engines)."""
    return (
        f"trim(regexp_replace(regexp_replace({b}, '<[^>]*>', ' ', 'g'), "
        f"'{_WC.WS_RE}', ' ', 'g'))"
    )


def _bank_list_sql(code: str) -> str:
    """One language's stopword bank as a DuckDB list literal."""
    return (
        "["
        + ", ".join(f"'{w}'" for w in _WC.MAIN_STOPWORD_BANKS[code])
        + "]"
    )


def _main_keep_sql(
    b: str, bank_sql: str | None = None, ns_sql_tpl: str | None = None
) -> str:
    """webcrawl.html_main_content keep-rule twin over one raw block
    fragment ``b``: length floor, anchor-chars link-density cap and
    the prose gate — stopword floor against the LANGUAGE-SELECTED
    bank OR the script-coverage fallback (when fewer than
    MAIN_MIN_SCRIPT_SHARE of the block's letters are in the bank's
    script, the stopword gate is waived; r10 verdict item 1) —
    multiply-form, same interpolated module constants (MAIN_*),
    nested RE2-safe lambdas.

    ``bank_sql``: SQL expr for the stopword list (default: the
    English bank literal). ``ns_sql_tpl``: SQL template for the
    bank-script letter count with ``{low}`` standing for the
    lowercased block text (default: the Latin-class count)."""
    txt = _main_block_txt_sql(b)
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's
    # array_join([]) is '' — a no-anchor block must score link 0
    anch = _main_block_txt_sql(
        f"coalesce(array_to_string(regexp_extract_all({b}, "
        f"'{_WC.MAIN_ANCHOR_INNER_RE}', 1), ' '), '')"
    )
    if bank_sql is None:
        bank_sql = _bank_list_sql("en")
    low = f"lower({txt})"
    if ns_sql_tpl is None:
        ns_sql_tpl = (
            "len(regexp_replace({low}, "
            f"'[^{_WC.MAIN_LATIN_CLASS}]', '', 'g'))"
        )
    ns = ns_sql_tpl.format(low=low)
    nl = (
        f"len(regexp_replace({low}, "
        f"'[^{_WC.MAIN_LETTER_CLASS}]', '', 'g'))"
    )
    toks = (
        f"list_filter(string_split({low}, ' '), "
        f"xx -> len(xx) > 0)"
    )
    nstop = (
        f"len(list_filter({toks}, xx -> list_contains({bank_sql}, "
        f"regexp_replace(xx, '[^{_WC.MAIN_LETTER_CLASS}]', '', 'g'))))"
    )
    return (
        f"(len({txt}) >= {_WC.MAIN_MIN_BLOCK_CHARS} "
        f"AND len({anch}) <= {_WC.MAIN_MAX_LINK_DENSITY!r} * len({txt}) "
        f"AND ({nstop} >= {_WC.MAIN_MIN_STOPWORD_DENSITY!r} * len({toks})"
        f" OR {ns} < {_WC.MAIN_MIN_SCRIPT_SHARE!r} * {nl}))"
    )


def _unigram_head_ctes(P: int, L: int) -> str:
    """Shared WITH-head for the unigram oracles: word vocab, w10
    truncation, substring seed counts, the fixed bank, cnt0."""
    return f"""wd AS (
                SELECT unnest(string_split({_NORM.format(c='text')}, ' '))
                       AS w
                FROM documents
            ),
            wc0 AS (
                SELECT w, count(*) AS c FROM wd
                WHERE len(w) >= 2 GROUP BY w
            ),
            wc AS MATERIALIZED (
                SELECT substr(w, 1, {L}) AS w10,
                       CAST(sum(c) AS BIGINT) AS c
                FROM wc0 GROUP BY substr(w, 1, {L})
            ),
            sub AS (
                SELECT substr(w10, CAST(i + 1 AS INT),
                              CAST(d + 1 AS INT)) AS piece, c
                FROM wc, range({L}) t0(i), range({P}) t1(d)
                WHERE i + d + 1 <= len(w10)
            ),
            seedc AS (
                SELECT piece, CAST(sum(c) AS BIGINT) AS c
                FROM sub GROUP BY piece
            ),
            bank AS MATERIALIZED (
                SELECT piece, c FROM seedc WHERE len(piece) = 1
                UNION ALL
                SELECT piece, c FROM (
                    SELECT piece, c,
                           row_number() OVER (ORDER BY c DESC, piece)
                               AS rn
                    FROM seedc WHERE len(piece) >= 2
                ) WHERE rn <= 48
            ),
            cnt0 AS (SELECT piece, c FROM bank)"""


def _unigram_round_ctes(
    i: int, P: int, L: int, NEG: int, emit_mstep: bool = True
) -> str:
    """One EM round as chained CTEs: score quantization from
    cnt{i-1}, edge join pivoted to s_k_j columns, the Viterbi DP
    positions and backtrack steps as chained MATERIALIZED CTEs
    (DuckDB expands lateral aliases and single-ref CTEs TEXTUALLY —
    the un-materialized form is exponential in L, measured as a
    planner hang), then (optionally) the add-one M-step producing
    cnt{i}. With emit_mstep=False the chain ends at bt{i}_{L} — the
    encode oracle's final segmentation pass."""
    pairs = [(k, k + d) for k in range(L) for d in range(1, P + 1)
             if k + d <= L]
    pivot = ", ".join(
        f"max(CASE WHEN k = {k} AND j = {j} THEN s END) AS s_{k}_{j}"
        for k, j in pairs
    )
    dp_ctes = []
    for j in range(1, L + 1):
        ds = [d for d in range(1, P + 1) if j - d >= 0]
        cands = {
            d: f"(b{j - d} + coalesce(s_{j - d}_{j}, {NEG}))"
            for d in ds
        }
        g = ", ".join(cands.values())
        tie = " ".join(
            f"WHEN {cands[d]} = greatest({g}) THEN {j - d}"
            for d in sorted(ds, reverse=True)
        )
        dp_ctes.append(
            f"""dp{i}_{j} AS MATERIALIZED (
                SELECT *, greatest({g}) AS b{j},
                       CASE {tie} END AS p{j}
                FROM dp{i}_{j - 1}
            )"""
        )
    bt_ctes = []
    jump = " ".join(f"WHEN {j} THEN p{j}" for j in range(1, L + 1))
    for st in range(1, L + 1):
        bt_ctes.append(
            f"""bt{i}_{st} AS MATERIALIZED (
                SELECT *,
                       CASE WHEN cur{st - 1} > 0 THEN
                           (CASE cur{st - 1} {jump} END)
                           ELSE -1 END AS prev{st},
                       CASE WHEN cur{st - 1} > 0 THEN substr(w10,
                           (CASE cur{st - 1} {jump} END) + 1,
                           cur{st - 1} - (CASE cur{st - 1} {jump} END))
                           END AS pc{st},
                       CASE WHEN cur{st - 1} > 0 THEN
                           (CASE cur{st - 1} {jump} END)
                           ELSE -1 END AS cur{st}
                FROM bt{i}_{st - 1}
            )"""
        )
    pcs = ", ".join(f"pc{st}" for st in range(1, L + 1))
    dp_chain = ",\n            ".join(dp_ctes)
    bt_chain = ",\n            ".join(bt_ctes)
    p_cols = ", ".join(f"p{j}" for j in range(1, L + 1))
    out = f"""tot{i} AS (
                SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt{i - 1}
            ),
            sc{i} AS MATERIALIZED (
                SELECT piece,
                       CAST(floor(10000.0 * ln(c::DOUBLE / t::DOUBLE)
                                  + 0.5) AS BIGINT) AS s
                FROM cnt{i - 1} CROSS JOIN tot{i}
            ),
            ed{i} AS (
                SELECT e.w10, e.k, e.j, sc.s
                FROM (
                    SELECT w10, CAST(k AS INT) AS k,
                           CAST(k + d + 1 AS INT) AS j,
                           substr(w10, CAST(k + 1 AS INT),
                                  CAST(d + 1 AS INT)) AS piece
                    FROM wc, range({L}) t0(k), range({P}) t1(d)
                    WHERE k + d + 1 <= len(w10)
                ) e
                LEFT JOIN sc{i} sc ON sc.piece = e.piece
            ),
            ep{i} AS (
                SELECT w10, {pivot}
                FROM ed{i} GROUP BY w10
            ),
            dp{i}_0 AS MATERIALIZED (
                SELECT w.w10, w.c, CAST(0 AS BIGINT) AS b0, e.*
                       EXCLUDE (w10)
                FROM wc w JOIN ep{i} e USING (w10)
            ),
            {dp_chain},
            bt{i}_0 AS (
                SELECT w10, c, {p_cols}, len(w10) AS cur0
                FROM dp{i}_{L}
            ),
            {bt_chain}"""
    if emit_mstep:
        out += f""",
            used{i} AS (
                SELECT piece, CAST(sum(c) AS BIGINT) AS u FROM (
                    SELECT unnest([{pcs}]) AS piece, c FROM bt{i}_{L}
                ) WHERE piece IS NOT NULL GROUP BY piece
            ),
            cnt{i} AS MATERIALIZED (
                SELECT b.piece,
                       CAST(coalesce(u.u, 0) + 1 AS BIGINT) AS c
                FROM bank b LEFT JOIN used{i} u ON u.piece = b.piece
            )"""
    return out


def _unigram_vocab_sql(n_iters: int = 2) -> str:
    """GENERATED oracle for unigram_lm_vocab: the identical seed bank
    (all single chars + top-48 multi-char substrings, (c DESC, piece)
    tie-break) and ``n_iters`` EM rounds unrolled as chained CTEs —
    per round, the 4dp-BIGINT score quantization, one edge join
    pivoted to s_k_j columns, the Viterbi DP over positions 1..10 as
    chained MATERIALIZED CTEs (greatest + largest-piece-first tie
    CASE, matching the Spark fold's smallest-k rule), the unrolled
    backtrack walk, and the add-one M-step over the fixed bank."""
    from aws_de_final_project_spark.functions.text import (
        UNIGRAM_MAX_PIECE_LEN as P,
        UNIGRAM_MAX_WORD_LEN as L,
        UNIGRAM_NEG_INF as NEG,
    )

    ctes = [_unigram_head_ctes(P, L)]
    for i in range(1, n_iters + 1):
        ctes.append(_unigram_round_ctes(i, P, L, NEG, emit_mstep=True))
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f""",
            totf AS (
                SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt{n_iters}
            )
            SELECT piece, c AS "count",
                   CAST(floor(10000.0 * ln(c::DOUBLE / t::DOUBLE)
                              + 0.5) AS BIGINT)::DOUBLE / 10000.0
                       AS logp
            FROM cnt{n_iters} CROSS JOIN totf
            ORDER BY "count" DESC, piece"""
    )


def _unigram_encode_sql(n_iters: int = 2) -> str:
    """GENERATED oracle for unigram_encode_docs: the same trained
    model (head + n_iters EM rounds), ONE more Viterbi pass under the
    FINAL scores (round n_iters+1, no M-step), per-word piece stats
    (n_pieces, BIGINT sum of quantized log-probs), then the document
    join: explode each doc's len>=2 normalized words, truncate to
    w10, join the word stats, aggregate per doc."""
    from aws_de_final_project_spark.functions.text import (
        UNIGRAM_MAX_PIECE_LEN as P,
        UNIGRAM_MAX_WORD_LEN as L,
        UNIGRAM_NEG_INF as NEG,
    )

    f = n_iters + 1
    pcs = ", ".join(f"pc{st}" for st in range(1, L + 1))
    ctes = [_unigram_head_ctes(P, L)]
    for i in range(1, n_iters + 1):
        ctes.append(_unigram_round_ctes(i, P, L, NEG, emit_mstep=True))
    ctes.append(_unigram_round_ctes(f, P, L, NEG, emit_mstep=False))
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f""",
            wp AS (
                SELECT w10, unnest([{pcs}]) AS piece FROM bt{f}_{L}
            ),
            wstat AS MATERIALIZED (
                SELECT wp.w10,
                       CAST(count(*) AS BIGINT) AS n_pieces,
                       CAST(sum(sc.s) AS BIGINT) AS sum_s
                FROM wp JOIN sc{f} sc USING (piece)
                WHERE piece IS NOT NULL
                GROUP BY wp.w10
            ),
            docw AS (
                SELECT doc_id, substr(w, 1, {L}) AS w10 FROM (
                    SELECT doc_id,
                           unnest(string_split(
                               {_NORM.format(c='text')}, ' ')) AS w
                    FROM documents
                ) WHERE len(w) >= 2
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(ws.n_pieces) AS BIGINT) AS n_pieces,
                   floor(((sum(ws.sum_s)::DOUBLE / 10000.0)
                          / sum(ws.n_pieces)::DOUBLE) * 10000.0 + 0.5)
                       / 10000.0 AS avg_piece_logp
            FROM docw JOIN wstat ws USING (w10)
            GROUP BY doc_id
            ORDER BY doc_id"""
    )


def _unigram_roundtrip_sql(n_iters: int = 2) -> str:
    """GENERATED oracle for tokenizer_roundtrip_docs: the same
    trained unigram model + one more Viterbi pass (the encode-oracle
    chain), per-word piece count AND the reassembly identity
    (pieces are extracted in BACKTRACK order, pc1 = last piece, so
    the word rebuilds as pcL || ... || pc1 with NULL steps empty),
    the document join aggregating bool_and over words, and the BPE
    leg as the same boundary-encode replace chain stripped back and
    compared to the normalized text."""
    from aws_de_final_project_spark.functions.text import (
        UNIGRAM_MAX_PIECE_LEN as P,
        UNIGRAM_MAX_WORD_LEN as L,
        UNIGRAM_NEG_INF as NEG,
    )

    f = n_iters + 1
    pcs = ", ".join(f"pc{st}" for st in range(1, L + 1))
    reasm = " || ".join(
        f"coalesce(pc{st}, '')" for st in range(L, 0, -1)
    )
    norm = _NORM.format(c="text")
    bpe_dec = (
        f"replace(replace({_bpe_encode_sql(norm)}, '<', ''), '>', '')"
    )
    ctes = [_unigram_head_ctes(P, L)]
    for i in range(1, n_iters + 1):
        ctes.append(_unigram_round_ctes(i, P, L, NEG, emit_mstep=True))
    ctes.append(_unigram_round_ctes(f, P, L, NEG, emit_mstep=False))
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f""",
            wp AS (
                SELECT w10, unnest([{pcs}]) AS piece FROM bt{f}_{L}
            ),
            wnp AS (
                SELECT w10, CAST(count(*) AS BIGINT) AS n_pieces
                FROM wp WHERE piece IS NOT NULL GROUP BY w10
            ),
            wrt AS MATERIALIZED (
                SELECT b.w10, n.n_pieces,
                       ({reasm}) = b.w10 AS rt
                FROM bt{f}_{L} b JOIN wnp n USING (w10)
            ),
            docw AS (
                SELECT doc_id, substr(w, 1, {L}) AS w10 FROM (
                    SELECT doc_id,
                           unnest(string_split({norm}, ' ')) AS w
                    FROM documents
                ) WHERE len(w) >= 2
            ),
            unig AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_words,
                       CAST(sum(ws.n_pieces) AS BIGINT) AS n_pieces,
                       bool_and(ws.rt) AS unigram_roundtrip
                FROM docw JOIN wrt ws USING (w10)
                GROUP BY doc_id
            )
            SELECT d.doc_id, u.n_words, u.n_pieces,
                   ({bpe_dec}) = ({norm}) AS bpe_roundtrip,
                   u.unigram_roundtrip
            FROM documents d JOIN unig u ON u.doc_id = d.doc_id
            ORDER BY d.doc_id"""
    )


def _tokenizer_export_manifest_sql() -> str:
    """GENERATED oracle for tokenizer_export_manifest: both trainings
    replayed via the existing unrolled-CTE oracle generators as
    subqueries, then the identical integer-field rendering
    (step|lhs|rhs|freq / piece|count) and order-insensitive
    md5-prefix XOR checksum."""
    return f"""
            SELECT 'bpe_merges' AS artifact,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   bit_xor(('0x' || substr(md5(
                       CAST(step AS VARCHAR) || '|' || lhs || '|' ||
                       rhs || '|' || CAST(freq AS VARCHAR)), 1, 15))
                       ::BIGINT) AS checksum_xor
            FROM ({_bpe_merge_table_sql(16)})
            UNION ALL
            SELECT 'unigram_vocab' AS artifact,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   bit_xor(('0x' || substr(md5(
                       piece || '|' || CAST("count" AS VARCHAR)),
                       1, 15))::BIGINT) AS checksum_xor
            FROM ({_unigram_vocab_sql(2)})
            ORDER BY artifact"""


def _html_table_cells_sql() -> str:
    """Shared WITH-chain for the two table-extraction oracles:
    planted page -> tables -> rows -> cells -> entity-decoded cell
    text, ending in CTE ``cellsx`` (doc_id, table_idx, row_idx,
    col_idx, is_header, cell_text)."""
    return f"""
            WITH wrapped AS (
                SELECT doc_id,
                       '<html><body><p>' || text ||
                       '</p><table class="t1"><tr><th>field</th>' ||
                       '<th>value &amp; &#x42;</th></tr>' ||
                       '<tr><td>doc<b>id</b></td><td>' ||
                       CAST(doc_id AS VARCHAR) || '</td></tr>' ||
                       CASE WHEN doc_id % 3 = 0
                            THEN '<tr><td>open row ' ||
                                 CAST(doc_id % 7 AS VARCHAR) ||
                                 '</td><td>x</td>'
                            ELSE '' END ||
                       '<tr><td>n_chars</td><td>' ||
                       CAST(length(text) AS VARCHAR) ||
                       '</td></tr></table>' ||
                       CASE WHEN doc_id % 4 = 0
                            THEN '<table><tr><td>outer<table><tr><td>'
                                 || 'inner ' ||
                                 CAST(doc_id % 5 AS VARCHAR) ||
                                 '</td></tr></table></td></tr>' ||
                                 '<tr><td>lost</td></tr></table>'
                            ELSE '' END ||
                       CASE WHEN doc_id % 5 = 0
                            THEN '<TABLE><TR><TD>caps ' ||
                                 CAST(doc_id % 11 AS VARCHAR) ||
                                 '</TD></TR></TABLE>'
                            ELSE '' END ||
                       '</body></html>' AS html
                FROM documents
            ),
            tarr AS (
                SELECT doc_id,
                       regexp_extract_all(html,
                           '{_WC.TABLE_BODY_RE}', 1) AS tbs
                FROM wrapped
            ),
            texp AS (
                SELECT doc_id,
                       unnest(generate_series(1, len(tbs))) AS ti, tbs
                FROM tarr
            ),
            tbody AS (
                SELECT doc_id, CAST(ti - 1 AS INT) AS table_idx,
                       tbs[CAST(ti AS INT)] AS tb
                FROM texp
            ),
            rarr AS (
                SELECT doc_id, table_idx,
                       list_slice(
                           string_split_regex(tb, '{_WC.TR_OPEN_RE}'),
                           2, 2147483647) AS rws
                FROM tbody
            ),
            rexp AS (
                SELECT doc_id, table_idx,
                       unnest(generate_series(1, len(rws))) AS ri, rws
                FROM rarr
            ),
            rowc AS (
                SELECT doc_id, table_idx, CAST(ri - 1 AS INT) AS row_idx,
                       rws[CAST(ri AS INT)] AS rc
                FROM rexp
            ),
            carr AS (
                SELECT doc_id, table_idx, row_idx,
                       list_transform(
                           regexp_extract_all(rc, '{_WC.CELL_TAG_RE}', 1),
                           x -> lower(x)) AS tags,
                       list_slice(
                           string_split_regex(rc, '{_WC.CELL_OPEN_RE}'),
                           2, 2147483647) AS cs
                FROM rowc
            ),
            cexp AS (
                SELECT doc_id, table_idx, row_idx,
                       unnest(generate_series(1, len(cs))) AS ci,
                       tags, cs
                FROM carr
            ),
            cellraw AS (
                SELECT doc_id, table_idx, row_idx,
                       CAST(ci - 1 AS INT) AS col_idx,
                       tags[CAST(ci AS INT)] = 'th' AS is_header,
                       regexp_replace(regexp_replace(cs[CAST(ci AS INT)],
                           '(?is)</(?:td|th|tr|table)\\b.*', ' ', 'g'),
                           '<[^>]*>', ' ', 'g') AS t
                FROM cexp
            ),
            {_entity_decode_ctes(
                "cellraw", "t",
                "doc_id, table_idx, row_idx, col_idx, is_header")},
            cellsx AS (
                SELECT doc_id, table_idx, row_idx, col_idx, is_header,
                       trim(regexp_replace(t, '__WS_RE__', ' ', 'g'))
                           AS cell_text
                FROM entdec
            )""".replace("__WS_RE__", _WC.WS_RE)


def _phash_val_sql(j: str) -> str:
    """The dedup_image_phash fixture's grid-cell value at index ``j``
    (a SQL expression over the params CTE's a197/a89/noisy columns) —
    the DuckDB twin of the entry's F.transform lambda. Two
    incommensurate moduli (197, 89) keep distinct anchors from
    colliding below lcm = 17,533 (see the entry docstring)."""
    return (
        f"(((a89 + 3) * (a197 + ({j}) + 1) * (({j}) + 2)) % 197 "
        f"+ CASE WHEN noisy = 1 AND ({j}) = 40 THEN 29 ELSE 0 END)"
    )


def _video_val_sql(j: str) -> str:
    """dedup_video_frames fixture grid-cell value at index ``j`` for
    sampled frame column ``f`` (all sampled frames are even, so the
    noisy bump always applies) — the DuckDB twin of the entry's
    Python Y4M generator, exact through the real decoder because the
    luma is a 2x-upscaled constant-block grid (box mean == block)."""
    return (
        f"(((a89 + 3) * (a197 + ({j}) + 1) * (({j}) + 2) * (f + 7))"
        f" % 197 + CASE WHEN noisy = 1 AND ({j}) = 40"
        " THEN 29 ELSE 0 END)"
    )


def _scene_val_sql(j: str) -> str:
    """video_scene_cut_frames fixture grid value at index ``j`` for
    frame column ``f`` (scene = f >= 3; per-frame single-cell +1
    jitter at cell 17 + f)."""
    return (
        f"(((a89 + 3 + (CASE WHEN f >= 3 THEN 7 ELSE 0 END))"
        f" * (a197 + ({j}) + 1) * (({j}) + 2)) % 197"
        f" + CASE WHEN ({j}) = 17 + f THEN 1 ELSE 0 END)"
    )


def _audio_val_sql(j: str) -> str:
    """dedup_audio_fingerprint fixture energy-grid value at index
    ``j`` — same product-form recipe over moduli (193, 83)."""
    return (
        f"(((a83 + 5) * (a193 + ({j}) + 2) * (({j}) + 3)) % 193 "
        f"+ CASE WHEN noisy = 1 AND ({j}) = 31 THEN 17 ELSE 0 END)"
    )


def _ml_langs_sql() -> str:
    """The multilingual fixture's lang rotation as a list literal."""
    return "[" + ", ".join(f"'{c}'" for c in X.MAIN_ML_LANGS) + "]"


def _ml_articles_sql() -> str:
    """The planted per-language article sentences as a list literal
    (vendored module constants — the two sides cannot drift)."""
    return "[" + ", ".join(
        f"'{X.MAIN_ML_ARTICLES[c]}'" for c in X.MAIN_ML_LANGS
    ) + "]"


def _ml_bank_case_sql() -> str:
    """Per-row stopword bank: CASE over every vendored bank literal
    (webcrawl.MAIN_STOPWORD_BANKS), empty list for bankless codes —
    the twin of the operator's literal when-chain."""
    arms = " ".join(
        f"WHEN '{k}' THEN {_bank_list_sql(k)}"
        for k in _WC.MAIN_STOPWORD_BANKS
    )
    return f"(CASE lang {arms} ELSE CAST([] AS VARCHAR[]) END)"


def _ml_ns_tpl_sql() -> str:
    """Bank-script letter-count template ({low} = lowercased block
    text): Latin class for the Latin-script banks, Cyrillic for ru,
    Arabic for ar, 0 for bankless codes — the twin of the operator's
    per-row script-count selector."""
    latin = ", ".join(
        f"'{k}'" for k, v in _WC.MAIN_BANK_SCRIPT.items()
        if v == _WC.MAIN_LATIN_CLASS
    )

    def cnt(cls: str) -> str:
        return "len(regexp_replace({low}, '[^" + cls + "]', '', 'g'))"

    return (
        f"(CASE WHEN lang IN ({latin}) THEN {cnt(_WC.MAIN_LATIN_CLASS)} "
        f"WHEN lang = 'ru' THEN {cnt(_WC.MAIN_CYRILLIC_CLASS)} "
        f"WHEN lang = 'ar' THEN {cnt(_WC.MAIN_ARABIC_CLASS)} "
        "ELSE 0 END)"
    )


def _robots_wild_values() -> str:
    """(host, prefix, allow, spec, wild, pattern) VALUES rows for the
    wildcard/agent-group robots oracle: spec/wild and the compiled
    anchored pattern are computed by the Python twin
    (webcrawl.py_robots_rule_pattern) of the Spark-side compile —
    pinned equal in tests/test_webcrawl.py — for agent 'samplebot'."""
    from aws_de_final_project_spark.operators.webcrawl import (
        py_robots_rule_pattern,
    )

    rows = []
    for host, prefix, allow, agent in X.ROBOTS_WILDCARD_RULES:
        spec = agent.strip().lower() == "samplebot"
        wild = ("*" in prefix) or prefix.endswith("$")
        pat = py_robots_rule_pattern(prefix)
        rows.append(
            f"('{host}', '{prefix}', {str(bool(allow)).upper()}, "
            f"{str(spec).upper()}, {str(wild).upper()}, '{pat}')"
        )
    return ", ".join(rows)


_ROBOTS_PQ_SQL = (
    "regexp_extract(w.canon_url, "
    "'^[a-z][a-z0-9+.-]*://[^/?]+(.*)$', 1)"
)


def _langid_oracle_sql() -> str:
    """GENERATED lang-id oracle: interpolates the SAME deterministic
    trained integer weight banks the Spark operator ships as literals
    (operators/langid.train_langid_weights — quantized 4dp, scaled
    1e4, so both engines fold exact BIGINTs and accumulation order
    cannot flip the argmax), replays the identical fixture sentences,
    char-1/2/3-gram extraction, md5-bucket gather, mean pool,
    floor-round, and lexicographic-tie argmax."""
    from aws_de_final_project_spark.operators import langid as _LI

    m = _LI.train_langid_weights()
    D = _LI.LANGID_BUCKETS
    ws = _WC.WS_RE

    def sq(s: str) -> str:
        return s.replace("'", "''")

    fix_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN (CASE doc_id % 3 "
            f"WHEN 0 THEN '{sq(vs[0])}' WHEN 1 THEN '{sq(vs[1])}' "
            f"ELSE '{sq(vs[2])}' END)"
            for lang, vs in X.LANGID_FIXTURE.items()
        )
        + " END"
    )
    # bank table: ONE zipped unnest of the per-language literal int lists (the
    # per-row list_transform gather form rebuilt each 1024-literal
    # list per doc per lang — minutes at sf0.1; this join form sweeps
    # sf0.1 in seconds with identical exact-BIGINT sums)
    bank_cols = ",\n                   ".join(
        "unnest(["
        + ",".join(str(int(v)) for v in m[lang][0])
        + f"]) AS w_{lang}"
        for lang in _LI.LANGID_LANGS
    )
    acc_cols = ", ".join(
        f"CAST(sum(w_{lang}) AS BIGINT) AS a_{lang}"
        for lang in _LI.LANGID_LANGS
    )
    logit_cols = []
    for lang in _LI.LANGID_LANGS:
        bias = m[lang][1]
        acc = f"CAST(coalesce(a_{lang}, 0) AS BIGINT)"
        logit_cols.append(
            f"floor((CASE WHEN ng = 0 THEN {bias!r} "
            f"ELSE {bias!r} + ((CAST({acc} AS DOUBLE) / 10000.0) "
            f"/ CAST(ng AS DOUBLE)) END) * 10000.0 + 0.5) / 10000.0 "
            f"AS l_{lang}"
        )
    top = "greatest(" + ", ".join(f"l_{la}" for la in _LI.LANGID_LANGS) + ")"
    pred = (
        "CASE "
        + " ".join(
            f"WHEN l_{la} = top THEN '{la}'" for la in _LI.LANGID_LANGS
        )
        + " END"
    )
    return f"""
        WITH fixture AS (
            SELECT doc_id, lang,
                   ({fix_case}) || ' ' ||
                   CAST(doc_id % 100 AS VARCHAR) AS t0
            FROM documents
        ),
        norm AS (
            SELECT doc_id, lang,
                   trim(regexp_replace(lower(t0), '{ws}', ' ', 'g')) AS t
            FROM fixture
        ),
        b AS (
            SELECT doc_id, lang,
                   len(grams) AS ng,
                   list_transform(grams,
                       gg -> CAST(('0x' || substr(md5(gg), 1, 15))
                                  AS BIGINT) % {D}) AS bks
            FROM (
                SELECT doc_id, lang,
                       [substr(t, i, 1) for i in range(1, len(t) + 1)]
                       || [substr(t, i, 2) for i in range(1, len(t))]
                       || [substr(t, i, 3) for i in range(1, len(t) - 1)]
                           AS grams
                FROM norm
            )
        ),
        banks AS (
            SELECT unnest(generate_series(0, {D - 1})) AS k,
                   {bank_cols}
        ),
        acc AS (
            SELECT doc_id, {acc_cols}
            FROM (SELECT doc_id, unnest(bks) AS k FROM b) g
            JOIN banks USING (k)
            GROUP BY doc_id
        ),
        sc AS (
            SELECT b.doc_id, b.lang, b.ng, {", ".join(logit_cols)}
            FROM b LEFT JOIN acc USING (doc_id)
        ),
        ranked AS (
            SELECT *, {top} AS top FROM sc
        ),
        fin AS (
            SELECT doc_id, lang,
                   CAST(ng AS BIGINT) AS n_grams,
                   {pred} AS lang_pred,
                   top AS lang_score
            FROM ranked
        )
        SELECT doc_id, lang, n_grams, lang_pred, lang_score,
               CAST(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END
                    AS INT) AS match
        FROM fin
        ORDER BY doc_id
    """


def _strip_href_quotes_sql(v: str) -> str:
    """webcrawl._href_value twin: strip the quotes a HREF_RE group-1
    match carries (quoted styles pass them through by construction)."""
    return (
        f"CASE WHEN substr({v}, 1, 1) IN ('\"', chr(39)) "
        f"THEN substr({v}, 2, len({v}) - 2) ELSE {v} END"
    )


def _sq(pattern: str) -> str:
    """Escape a regex constant for a single-quoted SQL literal (the
    href patterns contain ' since the single-quoted style landed)."""
    return pattern.replace("'", "''")


def _luhn_sql(c: str) -> str:
    """Luhn checksum as a DuckDB boolean expression over digit string
    ``c`` — the twin of webcrawl.luhn_valid's codegen fold (reverse,
    double every 2nd with digit-sum, total % 10 = 0)."""
    d = f"CAST(substr(reverse({c}), i, 1) AS INTEGER)"
    return (
        f"(list_sum([CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN {d} > 4 THEN {d} * 2 - 9 ELSE {d} * 2 END "
        f"ELSE {d} END for i in range(1, len({c}) + 1)]) % 10 = 0)"
    )


def _bpe_encode_sql(norm_expr: str) -> str:
    """GENERATED encode expression: boundary-wrap every [a-z0-9] char
    of the normalized text (RE2 '\\1' backreference where Spark uses
    '$1'), then the vendored merge table as nested replaces in
    application order — the exact chain functions/text
    .bpe_encode_symbol_count builds."""
    e = f"regexp_replace({norm_expr}, '([a-z0-9])', '<\\1>', 'g')"
    for lhs, rhs in _TX.BPE_VENDORED_MERGES:
        e = f"replace({e}, '<{lhs}><{rhs}>', '<{lhs}{rhs}>')"
    return e


def _bpe_merge_table_sql(k: int = 16) -> str:
    """GENERATED oracle for bpe_merge_table: the identical k BPE
    training iterations unrolled as chained CTEs — same boundary
    encoding (<sym><sym>..., built with RE2 '\\1' where Spark uses
    '$1'), same corpus-weighted adjacent-pair count, same
    (freq DESC, lhs, rhs) argmax tie-break, same greedy substring
    replace. Unrolling (not WITH RECURSIVE) keeps the SQL a plain
    dependency chain DuckDB plans like any other query."""
    ctes = [
        f"""wd AS (
                SELECT unnest(string_split({_NORM.format(c='text')}, ' '))
                       AS w
                FROM documents
            ),
            wc AS (
                SELECT w, count(*) AS c FROM wd
                WHERE len(w) >= 2 GROUP BY w
            ),
            syms0 AS MATERIALIZED (
                SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS enc, c
                FROM wc
            )"""
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""pr{i} AS MATERIALIZED (
                SELECT split_part(pair, ' ', 1) AS lhs,
                       split_part(pair, ' ', 2) AS rhs,
                       CAST(sum(c) AS BIGINT) AS freq
                FROM (
                    SELECT unnest([s[j] || ' ' || s[j+1]
                                   for j in range(1, len(s))]) AS pair,
                           c
                    FROM (SELECT string_split(
                                     substr(enc, 2, len(enc) - 2),
                                     '><') AS s, c
                          FROM syms{i - 1})
                    WHERE len(s) >= 2
                ) GROUP BY 1, 2
            ),
            b{i} AS MATERIALIZED (
                SELECT lhs, rhs, freq FROM pr{i}
                ORDER BY freq DESC, lhs, rhs LIMIT 1
            ),
            syms{i} AS MATERIALIZED (
                SELECT replace(enc, '<' || b.lhs || '><' || b.rhs || '>',
                               '<' || b.lhs || b.rhs || '>') AS enc, c
                FROM syms{i - 1} CROSS JOIN b{i} b
            )"""
        )
    final = " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS step, lhs, rhs, freq FROM b{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f" SELECT * FROM ({final}) ORDER BY step"
    )


def _sql_str_list(vals) -> str:
    return "[" + ", ".join(f"'{v}'" for v in vals) + "]"


_PSL_EXACT_SQL, _PSL_WILD_SQL, _PSL_EXC_SQL = (
    _sql_str_list(s) for s in _WC._psl_rule_sets(_WC.psl_default_rules())
)

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "los"],
    "fr": ["le", "la", "de", "et", "que", "les", "des"],
    "de": ["der", "die", "das", "und", "zu", "den", "ist"],
}


def _stopword_hits_sql(lang: str) -> str:
    vocab = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"len(list_intersect({_TOKENS_LOWER}, [{vocab}]))"


_SKEW_SQL = """
    WITH probe AS (
        SELECT event_id, value,
               CASE WHEN event_id % 10 != 0 THEN 0
                    ELSE user_id % 150 END AS k
        FROM events
    ),
    build AS (
        SELECT i AS k, 'seg_' || CAST(i % 8 AS VARCHAR) AS segment
        FROM range(150) t(i)
    )
    SELECT segment, count(*) AS n_events,
           (floor((sum(value)) * 100.0 + 0.5) / 100.0) AS sum_value
    FROM probe JOIN build USING (k)
    GROUP BY segment
    ORDER BY segment
"""


def _sql_vec(vals) -> str:
    """DuckDB double-list literal. repr round-trips float64 exactly,
    so the SQL literal equals the Spark-side plane/centroid literal
    bit for bit."""
    return "[" + ",".join(repr(float(x)) for x in vals) + "]"


def _planes_values(n_tables: int, n_planes: int, dim: int) -> str:
    """(tbl, p, pv) VALUES rows for the SAME hyperplanes the Spark
    operators ship as literals (deterministic xorshift, seed
    42+1000*t) — which is what makes LSH oracle-checkable at all."""
    from aws_de_final_project_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(_hyperplanes(dim, n_planes, seed=42 + 1000 * t)):
            rows.append(f"({t}, {p}, {_sql_vec(plane)})")
    return ",\n".join(rows)


def _cents_values(n_centroids: int, dim: int) -> str:
    from aws_de_final_project_spark.operators.similarity import _centroids

    return ",\n".join(
        f"({i}, {_sql_vec(c)})" for i, c in enumerate(_centroids(dim, n_centroids))
    )


def _oracle_embeddings_rows(
    path: str = "/root/testdata/sf0.01/embeddings.parquet",
) -> int:
    """Row count of the ORACLE corpus (the driver always runs
    oracle_sql at sf0.01), via a driver-side pyarrow metadata read —
    the auto-sized dedup twins interpolate auto_block_planes /
    auto_n_clusters OF THIS COUNT as static literal banks, the same
    deterministic sizing the Spark operators compute from
    corpus.count() at run time."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _auto_planes(n_rows: int) -> int:
    from aws_de_final_project_spark.operators.similarity import (
        auto_block_planes,
    )

    return auto_block_planes(n_rows)


def _auto_cells(n_rows: int) -> int:
    from aws_de_final_project_spark.operators.similarity import (
        auto_n_clusters,
    )

    return auto_n_clusters(n_rows, n_assign=2)


def _host_graph_ctes() -> str:
    """The host-fixture CTE chain (pages -> hrefs -> canonical
    domains) shared by the host_link_graph and
    pagerank_host_graph oracles — ends at ``withdomain``."""
    return f"""pages AS (
                SELECT doc_id,
                       source || '-' || CAST(doc_id % 7 AS VARCHAR) ||
                       CASE WHEN doc_id % 11 = 0 THEN '.co.uk'
                            ELSE '.com' END AS src_domain,
                       '<html><body>'
                       || '<a href=http://Site'
                       || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
                       || '.COM/p/' || CAST(doc_id AS VARCHAR) || '>x</a>'
                       || CASE WHEN doc_id % 2 = 0
                               THEN '<a class="l" href=' || chr(39)
                                    || 'HTTPS://WWW.site'
                                    || CAST((doc_id + 2) % 7 AS VARCHAR)
                                    || '.co.uk:443/x?utm_source=z&b=1'
                                    || chr(39) || '>y</a>'
                               ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN '<a href="/about">rel</a>' ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN '<a href="mailto:u@example.com">m</a>'
                               ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN '<a href="http://' || source || '-'
                                    || CAST(doc_id % 7 AS VARCHAR)
                                    || CASE WHEN doc_id % 11 = 0
                                            THEN '.co.uk' ELSE '.com' END
                                    || '/self">s</a>'
                               ELSE '' END
                       || '</body></html>' AS html
                FROM documents
            ),
            rawhrefs AS (
                SELECT src_domain,
                       unnest(regexp_extract_all(html,
                           '{_sq(_WC.HREF_RE)}', 1)) AS v
                FROM pages
            ),
            hrefs AS (
                SELECT src_domain,
                       {_strip_href_quotes_sql("v")} AS url
                FROM rawhrefs
            ),
            urls AS (
                SELECT * FROM hrefs
                WHERE regexp_matches(url, '{_WC.ABS_HTTP_RE}')
            ),
            {_URL_CANON_CTES}"""


def _pagerank_unrolled_sql(graph_ctes: str, out_select: str,
                           damping: float = 0.85,
                           n_iter: int = 10) -> str:
    """Generic unrolled weighted-PageRank twin of
    operators/graphrank.pagerank: the caller supplies CTEs defining
    ``nodes(id, ...)`` and ``edges(src, dst, w)``; this appends the
    identical fixed iterations with uniform dangling redistribution,
    identical expression shape (base + d * (contrib + dangling/N)).
    ``out_select`` is a format string receiving ``{prev}``, the final
    rank CTE name. MATERIALIZED for the same inlining-explosion
    reason as the PCA twin."""
    d = repr(damping)
    parts = [f"""
        WITH {graph_ctes},
        nn AS (SELECT count(*) AS n FROM nodes),
        outw AS MATERIALIZED (
            SELECT src, sum(w) AS tw FROM edges GROUP BY src
        ),
        en AS MATERIALIZED (
            SELECT e.src, e.dst, e.w / o.tw AS p
            FROM edges e JOIN outw o ON e.src = o.src
        ),
        r0 AS MATERIALIZED (
            SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
        )"""]
    prev = "r0"
    for k in range(1, n_iter + 1):
        parts.append(f""",
        r{k} AS MATERIALIZED (
            SELECT n.id,
                   ((1.0 - {d}) / (SELECT n FROM nn))
                   + {d} * (coalesce(c.s, 0.0)
                            + (SELECT coalesce(sum(pr), 0.0) FROM {prev}
                               WHERE id NOT IN (SELECT src FROM outw))
                              / (SELECT n FROM nn)) AS pr
            FROM nodes n
            LEFT JOIN (SELECT e.dst, sum(e.p * r.pr) AS s
                       FROM en e JOIN {prev} r ON e.src = r.id
                       GROUP BY e.dst) c ON n.id = c.dst
        )""")
        prev = f"r{k}"
    parts.append(out_select.format(prev=prev))
    return "".join(parts)


def _pagerank_oracle_sql(damping: float = 0.85, n_iter: int = 10) -> str:
    """Trade-graph instantiation (pagerank_trade_nations)."""
    graph = """nodes AS MATERIALIZED (
            SELECT n_nationkey AS id, n_name FROM nation
        ),
        edges AS MATERIALIZED (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   CAST(count(*) AS DOUBLE) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        )"""
    out = """
        SELECT n.n_name,
               (floor((r.pr) * 1000000.0 + 0.5) / 1000000.0) AS pr
        FROM {prev} r JOIN nodes n ON r.id = n.id
        ORDER BY pr DESC, n.n_name ASC
    """
    return _pagerank_unrolled_sql(graph, out, damping, n_iter)

def _pca_oracle_sql(dim: int = 64, n_iter: int = 8) -> str:
    """Unrolled power-iteration PCA twin of
    operators/embedlin.pca_project (2 components): identical
    covariance relation, identical rational start vector, the same
    ``n_iter`` matvec steps per component with Rayleigh-quotient
    deflation between them. Reused CTEs are MATERIALIZED — without it
    DuckDB inlines cov0/cov1 into every unrolled step and the
    expression tree grows exponentially (measured: minutes -> 0.2 s).
    Float noise between engines is ~1e-12 after normalization, far
    inside the 4dp floor-rounding both sides apply."""
    parts = [f"""
        WITH elems AS MATERIALIZED (
            SELECT vec_id AS id, i, embedding[i] AS x
            FROM embeddings, unnest(generate_series(1, {dim})) AS g(i)
        ),
        nr AS (SELECT count(*) AS n FROM embeddings),
        means AS MATERIALIZED (
            SELECT i, sum(x) / (SELECT n FROM nr) AS m
            FROM elems GROUP BY i
        ),
        gram AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxx
            FROM elems a JOIN elems b ON a.id = b.id GROUP BY 1, 2
        ),
        cov0 AS MATERIALIZED (
            SELECT g.i, g.j,
                   g.sxx / (SELECT n FROM nr) - ma.m * mb.m AS v
            FROM gram g
            JOIN means ma ON g.i = ma.i JOIN means mb ON g.j = mb.i
        ),
        c1v0 AS MATERIALIZED (
            SELECT i, 1.0 + ((i * 37) % 97) / 97.0 AS v FROM means
        )"""]
    prev = "c1v0"
    for k in range(1, n_iter + 1):
        parts.append(f""",
        c1v{k} AS MATERIALIZED (
            SELECT c.i, sum(c.v * p.v) AS v
            FROM cov0 c JOIN {prev} p ON c.j = p.i GROUP BY c.i
        )""")
        prev = f"c1v{k}"
    parts.append(f""",
        p1 AS MATERIALIZED (
            SELECT i, v / (SELECT sqrt(sum(v * v)) FROM {prev}) AS v
            FROM {prev}
        ),
        lam1 AS MATERIALIZED (
            SELECT sum(c.v * a.v * b.v) AS l
            FROM cov0 c JOIN p1 a ON c.i = a.i JOIN p1 b ON c.j = b.i
        ),
        cov1 AS MATERIALIZED (
            SELECT c.i, c.j,
                   c.v - (SELECT l FROM lam1) * a.v * b.v AS v
            FROM cov0 c JOIN p1 a ON c.i = a.i JOIN p1 b ON c.j = b.i
        ),
        c2v0 AS MATERIALIZED (
            SELECT i, 1.0 + ((i * 37) % 97) / 97.0 AS v FROM means
        )""")
    prev = "c2v0"
    for k in range(1, n_iter + 1):
        parts.append(f""",
        c2v{k} AS MATERIALIZED (
            SELECT c.i, sum(c.v * p.v) AS v
            FROM cov1 c JOIN {prev} p ON c.j = p.i GROUP BY c.i
        )""")
        prev = f"c2v{k}"
    parts.append(f""",
        p2 AS MATERIALIZED (
            SELECT i, v / (SELECT sqrt(sum(v * v)) FROM {prev}) AS v
            FROM {prev}
        ),
        cent AS MATERIALIZED (
            SELECT e.id, e.i, e.x - m.m AS xc
            FROM elems e JOIN means m ON e.i = m.i
        )
        SELECT c.id AS vec_id,
               (floor((sum(c.xc * a.v)) * 10000.0 + 0.5) / 10000.0) AS pc1,
               (floor((sum(c.xc * b.v)) * 10000.0 + 0.5) / 10000.0) AS pc2
        FROM cent c JOIN p1 a ON c.i = a.i JOIN p2 b ON c.i = b.i
        GROUP BY c.id
        ORDER BY vec_id
    """)
    return "".join(parts)


# LSH signature per (vector, table): sum of sign bits — identical to
# the Spark operators' shiftleft/bitwiseOR construction.
_SIG_SQL = """
        SELECT v.vec_id, pl.tbl,
               CAST(sum(CASE WHEN list_dot_product(v.e, pl.pv) >= 0
                             THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS sig
        FROM corpus v CROSS JOIN planes pl
        GROUP BY v.vec_id, pl.tbl
"""


def _ngram_jaccard_sql() -> str:
    """Word-3-gram Jaccard pair list (J >= 0.5, lang-blocked) — used
    standalone AND as the edge list of the components oracle."""
    return f"""
            WITH w AS (
                SELECT doc_id, lang,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id, lang,
                       list_distinct([
                           array_to_string(wd[i:least(i + 2, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 2, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       (floor((CAST(len(list_intersect(a.sh, b.sh)) AS double) /
                           CAST(len(a.sh) + len(b.sh)
                                - len(list_intersect(a.sh, b.sh)) AS double)) * 10000.0 + 0.5) / 10000.0) AS jaccard
                FROM s a JOIN s b
                  ON a.lang = b.lang AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, jaccard FROM pairs
            WHERE jaccard >= 0.5
    """


def _simhash_sql() -> str:
    """DuckDB twin of dedup.simhash_near_pairs(max_hamming=3),
    generated from the SAME constants (dedup.SIMHASH_BITS /
    HAMMING_BANDS): identical shingle hashes, bit sums, sign
    reassembly, pigeonhole banding, and popcount verify. It runs the
    plain band join; the Spark operator's exact-signature collapse is
    lossless, so the pair sets agree."""
    bits, chunks, max_h = _DD.SIMHASH_BITS, _DD.HAMMING_BANDS, 3
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    bsums = ",\n                       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = "\n                         + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    chunk_list = ",".join(str(c) for c in range(chunks))
    return f"""
            WITH w AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 2, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 2, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            dh AS (
                SELECT u.doc_id,
                       ('0x' || substr(md5(u.s1), 1, 15))::BIGINT AS h
                FROM (SELECT doc_id, unnest(sh) AS s1 FROM s) u
            ),
            bs AS (
                SELECT doc_id,
                       {bsums}
                FROM dh GROUP BY doc_id
            ),
            sg AS (
                SELECT doc_id,
                       ({sig}) AS simhash
                FROM bs
            ),
            banded AS (
                SELECT doc_id, simhash, c.chunk,
                       (simhash >> (c.chunk * {chunk_bits})) & {mask} AS key
                FROM sg, (SELECT unnest([{chunk_list}]) AS chunk) c
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                                a.simhash AS sa, b.simhash AS sb
                FROM banded a JOIN banded b
                  ON a.chunk = b.chunk AND a.key = b.key
                 AND a.doc_id < b.doc_id
            )
            SELECT da AS doc_a, db AS doc_b,
                   CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(sa, sb)) <= {max_h}
            ORDER BY doc_a, doc_b
    """


def _mojibake_repair_sql(inner: str) -> str:
    """Chained-replace twin of text.repair_mojibake, generated from
    the SAME pair table (one source of truth — the SQL cannot
    drift)."""
    e = inner
    for bad, good in _TX.MOJIBAKE_PAIRS:
        e = f"replace({e}, '{bad}', '{good}')"
    return e


def _minhash_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs, generated from the SAME
    family constants (dedup.MINHASH_P / MINHASH_COEFFS /
    MINHASH_BANDS): 60-bit md5 shingle hashes, affine mins, md5 band
    keys, candidate join, exact Jaccard verify on the 60-bit sets.
    ``source_sql`` supplies (doc_id, text) — the documents table by
    default, or any derived prompt/snippet frame (the chat prompt twin
    reuses the whole pipeline this way)."""
    p = _DD.MINHASH_P
    rows = _DD.MINHASH_K // _DD.MINHASH_BANDS
    mins = ",\n                ".join(
        f"min(({a} * x + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(_DD.MINHASH_COEFFS)
    )
    bands = ",\n                ".join(
        "{'band': %d, 'bh': md5(%s)}"
        % (b, " || '-' || ".join(f"m{b * rows + r}" for r in range(rows)))
        for b in range(_DD.MINHASH_BANDS)
    )
    return f"""
        WITH w AS (
            SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS wd
            FROM ({source_sql})
        ),
        s AS (
            SELECT doc_id,
                   list_distinct(list_transform(list_distinct([
                       array_to_string(wd[i:least(i + 2, len(wd))], ' ')
                       for i in range(1, greatest(len(wd) - 2, 1) + 1)
                   ]), sh -> ('0x' || substr(md5(sh), 1, 15))::BIGINT))
                       AS hs
            FROM w
        ),
        e AS (SELECT doc_id, unnest(hs) % {p} AS x FROM s),
        m AS (
            SELECT doc_id,
                {mins}
            FROM e GROUP BY doc_id
        ),
        b AS (
            SELECT doc_id, unnest([
                {bands}
            ], recursive := true)
            FROM m
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
            FROM b a JOIN b c
              ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
        )
        SELECT cand.doc_a AS {out_a}, cand.doc_b AS {out_b},
               (floor((CAST(len(list_intersect(x.hs, y.hs)) AS double) /
                   CAST(len(x.hs) + len(y.hs)
                        - len(list_intersect(x.hs, y.hs)) AS double))
                   * 10000.0 + 0.5) / 10000.0) AS jaccard
        FROM cand
        JOIN s x ON x.doc_id = cand.doc_a
        JOIN s y ON y.doc_id = cand.doc_b
        WHERE (floor((CAST(len(list_intersect(x.hs, y.hs)) AS double) /
                   CAST(len(x.hs) + len(y.hs)
                        - len(list_intersect(x.hs, y.hs)) AS double))
                   * 10000.0 + 0.5) / 10000.0) >= 0.5
        ORDER BY {out_a}, {out_b}
    """


CHAT_NEAR_SRC = """SELECT doc_id,
                   CASE WHEN doc_id % 100 < 4
                        THEN 'please summarize document '
                             || (doc_id - doc_id % 100)
                             || ' about ' || (doc_id - doc_id % 100 + 1)
                             || ' spark shuffles '
                             || (doc_id - doc_id % 100 + 2)
                             || ' partitions in '
                             || CASE WHEN doc_id % 100 = 2 THEN 'five'
                                     ELSE 'three' END
                             || ' short bullet '
                             || (doc_id - doc_id % 100 + 3)
                             || ' points for '
                             || CASE WHEN doc_id % 100 = 3 THEN 'standup'
                                     ELSE 'review' END
                        ELSE 'unique ask ' || doc_id
                             || ' q ' || (doc_id % 7)
                             || ' prompt ' || (doc_id * 3)
                             || ' about ' || ((doc_id * 7) % 13)
                             || ' topic ' || (doc_id % 11)
                             || ' end' END
                       AS text
            FROM documents"""


def oracle_sql() -> dict[str, str]:
    norm_text = _NORM.format(c="text")
    hits = {lang: _stopword_hits_sql(lang) for lang in _STOPWORDS}
    sqls = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   (floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0) AS sum_qty,
                   (floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0) AS sum_base_price,
                   (floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0) AS sum_disc_price,
                   (floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0) AS sum_charge,
                   (floor((avg(l_quantity)) * 100.0 + 0.5) / 100.0) AS avg_qty,
                   (floor((avg(l_extendedprice)) * 100.0 + 0.5) / 100.0) AS avg_price,
                   (floor((avg(l_discount)) * 10000.0 + 0.5) / 10000.0) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "return_pct_by_nation": """
            WITH base AS (
                SELECT l.*, n.n_name
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
            ),
            tot AS (
                SELECT n_name, count(*) AS tot_lineitems FROM base GROUP BY n_name
            ),
            ret AS (
                SELECT n_name, count(*) AS tot_returns
                FROM base WHERE l_returnflag = 'R' GROUP BY n_name
            )
            SELECT tot.n_name, tot_returns, tot_lineitems,
                   (floor((CAST(tot_returns AS double) / CAST(tot_lineitems AS double) * 100) * 100.0 + 0.5) / 100.0)
                       AS return_pct
            FROM tot INNER JOIN ret ON tot.n_name = ret.n_name
            ORDER BY tot_lineitems DESC, tot.n_name ASC
            LIMIT 15
        """,
        # fold over 3 arrival batches == one-shot arrival-order dedup
        "dedup_incremental_fold": f"""
            WITH fps AS (
                SELECT doc_id,
                       md5({_NORM.format(c="text")}) AS fingerprint
                FROM documents
            ),
            ranked AS (
                SELECT doc_id, fingerprint,
                       row_number() OVER (
                           PARTITION BY fingerprint
                           ORDER BY doc_id % 3, doc_id
                       ) AS rn
                FROM fps
            )
            SELECT doc_id, fingerprint FROM ranked
            WHERE rn = 1
            ORDER BY doc_id
        """,
        # threshold = exact per-source median of the 4dp quality score
        "quality_topq_by_source": """
            WITH scored AS (
                SELECT doc_id, source,
                       (floor((greatest(0.0,
                           least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), '\\s+'))
                                  END AS double) / 100.0, 1.0)
                           * (1 - CASE WHEN length(text) > 0
                                  THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
                                       / CAST(length(text) AS double)
                                  ELSE 0.0 END)
                       )) * 10000.0 + 0.5) / 10000.0) AS quality
                FROM documents
            ),
            thr AS (
                SELECT source, quantile_cont(quality, 0.5) AS _thr
                FROM scored GROUP BY source
            )
            SELECT s.doc_id, s.source, s.quality
            FROM scored s JOIN thr t ON s.source = t.source
            WHERE s.quality >= t._thr
            ORDER BY s.doc_id
        """,
        # power-iteration PCA: identical deterministic program on
        # both engines (generated unrolled CTE chain)
        "pca_embedding_projection": _pca_oracle_sql(64, 8),
        # weighted PageRank: identical fixed iterations (unrolled)
        "pagerank_trade_nations": _pagerank_oracle_sql(0.85, 10),
        # MAD outliers: exact medians + consistency-scaled MAD,
        # monitor-shaped per-group summary
        # Non-overlapping phrase counts via the same replace identity.
        "phrase_search_docs": f"""
            WITH h AS (
                SELECT doc_id,
                       ' ' || {_NORM.format(c='text')} || ' ' AS hay
                FROM documents
            )
            SELECT doc_id,
                   CAST((len(hay)
                         - len(replace(hay, ' customer join ', '')))
                        / 15 AS INT) AS n_occurrences
            FROM h
            WHERE (len(hay) - len(replace(hay, ' customer join ', '')))
                  / 15 > 0
            ORDER BY doc_id
        """,
        # Full contingency grid incl. zero cells; identical double
        # expression both sides, 4dp floor-form rounding.
        "chi2_event_type_hour": """
            WITH cells AS (
                SELECT event_type, hour(ts) AS hr, count(*) AS o
                FROM events GROUP BY event_type, hour(ts)
            ),
            r AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY event_type),
            c AS (SELECT hr, sum(o) AS ct FROM cells GROUP BY hr),
            n AS (SELECT sum(o) AS n FROM cells),
            grid AS (
                SELECT r.event_type, c.hr,
                       coalesce(cells.o, 0) AS o, r.rt, c.ct, n.n
                FROM r CROSS JOIN c
                LEFT JOIN cells
                  ON cells.event_type = r.event_type AND cells.hr = c.hr
                CROSS JOIN n
            )
            SELECT (floor(sum(
                       (o - rt * ct / n) * (o - rt * ct / n)
                       / (rt * ct / n)
                   ) * 10000.0 + 0.5) / 10000.0) AS chi2,
                   CAST((count(DISTINCT event_type) - 1)
                        * (count(DISTINCT hr) - 1) AS BIGINT) AS dof
            FROM grid
        """,
        # Exact interpolated percentiles — one array aggregate.
        "latency_quantiles_by_type": """
            SELECT event_type,
                   count(*) AS n_events,
                   (floor(quantile_cont(value, 0.5) * 10000.0 + 0.5)
                    / 10000.0) AS p50,
                   (floor(quantile_cont(value, 0.95) * 10000.0 + 0.5)
                    / 10000.0) AS p95,
                   (floor(quantile_cont(value, 0.99) * 10000.0 + 0.5)
                    / 10000.0) AS p99
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        # Window-form twin of the aggregate top-k: equality pins the
        # two physical shapes to identical semantics incl. tie-break.
        "topk_orders_per_customer_agg": """
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS rank
                FROM orders
            )
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(rank AS BIGINT) AS rank
            FROM ranked
            WHERE rank <= 3
            ORDER BY o_custkey, rank
        """,
        # Per-user max silence between consecutive events (exact us).
        "max_event_gap_per_user": """
            WITH g AS (
                SELECT user_id,
                       epoch_us(ts) - epoch_us(lag(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       )) AS gap
                FROM events
            )
            SELECT user_id, max(gap) AS max_gap_us,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        # One row per column: counts + type-normalized min/max
        # (numeric value / string length / epoch microseconds).
        "profile_orders_table": """
            WITH m AS (
                SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
                       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_null,
                       count(DISTINCT o_orderkey) AS n_distinct,
                       min(o_orderkey)::DOUBLE AS vmin,
                       max(o_orderkey)::DOUBLE AS vmax
                FROM orders
                UNION ALL
                SELECT 'o_custkey', count(*),
                       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       count(DISTINCT o_custkey),
                       min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE
                FROM orders
                UNION ALL
                SELECT 'o_orderstatus', count(*),
                       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       count(DISTINCT o_orderstatus),
                       min(length(o_orderstatus))::DOUBLE,
                       max(length(o_orderstatus))::DOUBLE
                FROM orders
                UNION ALL
                SELECT 'o_totalprice', count(*),
                       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       count(DISTINCT o_totalprice),
                       min(o_totalprice), max(o_totalprice)
                FROM orders
                UNION ALL
                SELECT 'o_orderdate', count(*),
                       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       count(DISTINCT o_orderdate),
                       min(epoch_us(o_orderdate))::DOUBLE,
                       max(epoch_us(o_orderdate))::DOUBLE
                FROM orders
                UNION ALL
                SELECT 'o_orderpriority', count(*),
                       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       count(DISTINCT o_orderpriority),
                       min(length(o_orderpriority))::DOUBLE,
                       max(length(o_orderpriority))::DOUBLE
                FROM orders
            )
            SELECT * FROM m ORDER BY column_name
        """,
        # SCD2 state at two instants + keyed full-outer diff.
        "state_diff_user_snapshots": """
            WITH ordered AS (
                SELECT user_id, event_type, ts, event_id,
                       lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_type,
                       lag(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_ts
                FROM events
            ),
            changes AS (
                SELECT user_id, event_type, ts AS valid_from, event_id
                FROM ordered
                WHERE prev_ts IS NULL
                   OR event_type IS DISTINCT FROM prev_type
            ),
            spans AS (
                SELECT user_id, event_type, valid_from,
                       lead(valid_from) OVER (
                           PARTITION BY user_id
                           ORDER BY valid_from, event_id
                       ) AS valid_to
                FROM changes
            ),
            t1 AS (
                SELECT user_id, event_type FROM spans
                WHERE valid_from <= TIMESTAMP '2024-01-10 00:00:00'
                  AND (valid_to IS NULL
                       OR valid_to > TIMESTAMP '2024-01-10 00:00:00')
            ),
            t2 AS (
                SELECT user_id, event_type FROM spans
                WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
                  AND (valid_to IS NULL
                       OR valid_to > TIMESTAMP '2024-01-20 00:00:00')
            ),
            d AS (
                SELECT coalesce(t1.user_id, t2.user_id) AS user_id,
                       CASE WHEN t1.user_id IS NULL THEN 'added'
                            WHEN t2.user_id IS NULL THEN 'removed'
                            WHEN t1.event_type IS DISTINCT FROM
                                 t2.event_type THEN 'changed'
                            ELSE 'unchanged' END AS change_type,
                       t1.event_type AS old_event_type,
                       t2.event_type AS new_event_type
                FROM t1 FULL OUTER JOIN t2 ON t1.user_id = t2.user_id
            )
            SELECT * FROM d
            WHERE change_type <> 'unchanged'
            ORDER BY user_id
        """,
        # Entity resolution chain: brute-force levenshtein-1 edges ->
        # recursive-CTE transitive closure -> min-id canonical.
        "entity_resolution_customers": """
            WITH RECURSIVE n AS (
                SELECT c_custkey AS id, c_name AS name,
                       c_nationkey AS nk
                FROM customer
            ),
            plist AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM n a JOIN n b ON a.id < b.id AND a.nk = b.nk
                WHERE levenshtein(a.name, b.name) <= 1
            ),
            edges AS (
                SELECT id_a AS a, id_b AS b FROM plist
                UNION
                SELECT id_b AS a, id_a AS b FROM plist
            ),
            reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            mins AS (
                SELECT a AS node, min(b) AS mn FROM reach GROUP BY a
            )
            SELECT c.c_custkey,
                   least(c.c_custkey, coalesce(m.mn, c.c_custkey))
                       AS canonical_id,
                   least(c.c_custkey, coalesce(m.mn, c.c_custkey))
                       = c.c_custkey AS is_canonical
            FROM customer c LEFT JOIN mins m ON c.c_custkey = m.node
            ORDER BY c.c_custkey
        """,
        # Inverted index: per-doc-distinct tokens, sorted postings.
        "inverted_index_postings": f"""
            WITH raw AS (
                SELECT doc_id,
                       unnest(string_split({_NORM.format(c='text')}, ' '))
                           AS token
                FROM documents
            ),
            toks AS (SELECT DISTINCT doc_id, token FROM raw)
            SELECT token, count(*) AS doc_freq,
                   array_to_string(list_sort(list(doc_id)), ',')
                       AS postings
            FROM toks
            GROUP BY token
            ORDER BY token
        """,
        # Finite-window EMA: identical trailing-20 frame list, same
        # newest-first weighted fold; 4dp floor-form rounding absorbs
        # any engine-internal float-sum-order difference.
        "ema_user_value": """
            WITH ordered AS (
                SELECT user_id, event_id, ts, value,
                       list(value) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
                       ) AS frame
                FROM events
                WHERE value IS NOT NULL
            )
            SELECT user_id, event_id, ts,
                   (floor((
                       list_sum([frame[len(frame) - j] * pow(0.7, j)
                                 for j in range(0, len(frame))])
                       / list_sum([pow(0.7, j)
                                   for j in range(0, len(frame))])
                   ) * 10000.0 + 0.5) / 10000.0) AS ema_value
            FROM ordered
            ORDER BY user_id, ts, event_id
        """,
        # CDC fold: newest op per key wins, delete tombstones drop the
        # key — identical ranking window in DuckDB.
        "cdc_apply_user_state": """
            WITH ranked AS (
                SELECT user_id, event_type, value, ts, event_id,
                       CASE WHEN event_type = 'error' THEN 'D'
                            ELSE 'U' END AS op,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
            )
            SELECT user_id, event_type, value, ts, event_id
            FROM ranked
            WHERE rn = 1 AND op <> 'D'
            ORDER BY user_id
        """,
        # k-anonymity: equivalence classes under the quasi-identifier
        # pair with size < k (plain GROUP BY/HAVING).
        "k_anonymity_customers": """
            SELECT c_nationkey, c_mktsegment,
                   count(*) AS class_size
            FROM customer
            GROUP BY c_nationkey, c_mktsegment
            HAVING count(*) < 10
            ORDER BY class_size, c_nationkey, c_mktsegment
        """,
        # BM25 with Lucene's +1 IDF; same floor-form rounding, <= 3
        # terms summed per doc so float order risk is minimal.
        "bm25_doc_scores": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split({_NORM.format(c='text')}, ' '))
                           AS token
                FROM documents
            ),
            dlen AS (
                SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
            ),
            stats AS (
                SELECT count(*) AS n, avg(dl) AS avgdl FROM dlen
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM toks
                WHERE token IN ('data', 'model', 'system')
                GROUP BY doc_id, token
            ),
            idf AS (
                SELECT token,
                       ln((stats.n - count(*) + 0.5)
                          / (count(*) + 0.5) + 1.0) AS idf
                FROM tf, stats
                GROUP BY token, stats.n
            )
            SELECT tf.doc_id,
                   (floor(sum(
                       idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl
                                                  / stats.avgdl))
                   ) * 10000.0 + 0.5) / 10000.0) AS bm25
            FROM tf
            JOIN idf USING (token)
            JOIN dlen USING (doc_id)
            CROSS JOIN stats
            GROUP BY tf.doc_id
            ORDER BY bm25 DESC, tf.doc_id
        """,
        # Seasonal mean/sd baseline per (event_type, hour-of-day) +
        # 3-sigma exceedance counts; hour() over NTZ is zone-free.
        "seasonal_hourly_outliers": """
            WITH cells AS (
                SELECT event_type, hour(ts) AS hour_of_day, value
                FROM events
            ),
            base AS (
                SELECT event_type, hour_of_day,
                       avg(value) AS mu,
                       stddev_samp(value) AS sd,
                       count(*) AS n_obs
                FROM cells
                GROUP BY event_type, hour_of_day
            )
            SELECT c.event_type, c.hour_of_day,
                   max(b.n_obs) AS n_obs,
                   (floor(max(b.mu) * 10000.0 + 0.5) / 10000.0)
                       AS baseline_mean,
                   (floor(max(b.sd) * 10000.0 + 0.5) / 10000.0)
                       AS baseline_sd,
                   CAST(sum(CASE WHEN abs(c.value
                                 - (floor(b.mu * 10000.0 + 0.5) / 10000.0))
                            > 3.0 * (floor(b.sd * 10000.0 + 0.5) / 10000.0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM cells c
            JOIN base b USING (event_type, hour_of_day)
            GROUP BY c.event_type, c.hour_of_day
            ORDER BY c.event_type, c.hour_of_day
        """,
        # Direct three-way edge join twin of the degree-ordered
        # triangle enumeration: e1(x,y) ⋈ e2(y,z) ⋈ e3(x,z) with
        # x<y<z lists each triangle exactly once.
        "triangle_parts_copurchase": """
            WITH li AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            e AS (
                SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ),
            tri AS (
                SELECT e1.u AS x, e1.v AS y, e2.v AS z
                FROM e e1
                JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ),
            nodes AS (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            )
            SELECT node AS part_id, count(*) AS n_triangles
            FROM nodes
            GROUP BY node
            ORDER BY n_triangles DESC, part_id
        """,
        # Brute-force GROUP BY/HAVING twin of the two-pass Misra-Gries
        # plan: equality proves the candidate superset + exact recount.
        "heavy_hitter_tokens": f"""
            WITH toks AS (
                SELECT unnest(string_split({_NORM.format(c='text')}, ' '))
                           AS token
                FROM documents
            ),
            tot AS (SELECT count(*) AS n FROM toks)
            SELECT token, count(*) AS cnt
            FROM toks, tot
            GROUP BY token, tot.n
            HAVING CAST(count(*) AS double) > 0.005 * tot.n
            ORDER BY cnt DESC, token
        """,
        "scd2_user_event_type": """
            WITH ordered AS (
                SELECT user_id, event_type, ts, event_id,
                       lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_type,
                       lag(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev_ts
                FROM events
            ),
            changes AS (
                SELECT user_id, event_type, ts AS valid_from, event_id
                FROM ordered
                WHERE prev_ts IS NULL
                   OR event_type IS DISTINCT FROM prev_type
            )
            SELECT user_id, event_type, valid_from,
                   lead(valid_from) OVER (
                       PARTITION BY user_id ORDER BY valid_from, event_id
                   ) AS valid_to,
                   (lead(valid_from) OVER (
                       PARTITION BY user_id ORDER BY valid_from, event_id
                   ) IS NULL) AS is_current
            FROM changes
            ORDER BY user_id, valid_from
        """,
        "mad_outlier_orders": """
            WITH med AS (
                SELECT o_orderstatus,
                       quantile_cont(o_totalprice, 0.5) AS m
                FROM orders GROUP BY o_orderstatus
            ),
            mad AS (
                SELECT o.o_orderstatus,
                       quantile_cont(abs(o.o_totalprice - med.m), 0.5)
                           AS rawmad
                FROM orders o JOIN med USING (o_orderstatus)
                GROUP BY o.o_orderstatus
            )
            SELECT o.o_orderstatus,
                   count(*) AS n_orders,
                   CAST(sum(CASE WHEN abs(o.o_totalprice - med.m)
                                 > 3.0 * mad.rawmad * 1.4826
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                   (floor((max(med.m)) * 100.0 + 0.5) / 100.0)
                       AS group_median,
                   (floor((max(mad.rawmad * 1.4826)) * 100.0 + 0.5)
                    / 100.0) AS mad,
                   (floor((max(abs(o.o_totalprice - med.m)
                               / (mad.rawmad * 1.4826)))
                          * 10000.0 + 0.5) / 10000.0) AS max_mad_ratio
            FROM orders o
            JOIN med USING (o_orderstatus)
            JOIN mad USING (o_orderstatus)
            GROUP BY o.o_orderstatus
            ORDER BY o.o_orderstatus
        """,
        # LATERAL correlated subquery: identical text modulo the D
        # literal suffix Spark needs to keep doubles double
        "lateral_top_orders_per_customer": """
            SELECT c.c_custkey, t.o_orderkey,
                   (floor(t.o_totalprice * 100.0 + 0.5) / 100.0)
                       AS total_price
            FROM customer c,
            LATERAL (
                SELECT o_orderkey, o_totalprice
                FROM orders WHERE o_custkey = c.c_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
            ) t
            ORDER BY c.c_custkey, total_price DESC, t.o_orderkey
        """,
        # join-view IVM: fold over paired insert batches == one-shot
        "ivm_join_view_fold": """
            SELECT o.o_orderkey, o.o_custkey AS custkey,
                   (floor((o.o_totalprice) * 100.0 + 0.5) / 100.0)
                       AS total_price,
                   c.c_name, c.c_nationkey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_orderkey
        """,
        # winsorization: same exact interpolated percentile + clamp
        "winsorize_event_values": """
            WITH bounds AS (
                SELECT event_type,
                       quantile_cont(value, 0.05) AS lo,
                       quantile_cont(value, 0.95) AS hi
                FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type, e.value,
                   (floor((least(greatest(e.value, b.lo), b.hi))
                          * 10000.0 + 0.5) / 10000.0) AS winsorized,
                   (floor((b.lo) * 10000.0 + 0.5) / 10000.0) AS lo_bound,
                   (floor((b.hi) * 10000.0 + 0.5) / 10000.0) AS hi_bound
            FROM events e JOIN bounds b USING (event_type)
            ORDER BY e.event_id
        """,
        # TPC-H Q5 shape: 6-way join, one region + one year
        "q5_local_supplier_volume": """
            SELECT n_name,
                   (floor((sum(l_extendedprice * (1 - l_discount)))
                          * 100.0 + 0.5) / 100.0) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """,
        # weighted median: qualifying-min pick is invariant to
        # accumulation order among ties (see operator docstring)
        "weighted_median_price_by_flag": """
            WITH cum AS (
                SELECT l_returnflag, l_extendedprice,
                       CAST(l_quantity AS DOUBLE) AS w,
                       sum(CAST(l_quantity AS DOUBLE)) OVER (
                           PARTITION BY l_returnflag
                           ORDER BY l_extendedprice
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cw
                FROM lineitem
            ),
            tot AS (
                SELECT l_returnflag, sum(w) AS tw FROM cum GROUP BY 1
            )
            SELECT c.l_returnflag,
                   (floor((min(c.l_extendedprice)) * 100.0 + 0.5) / 100.0)
                       AS weighted_median_price
            FROM cum c JOIN tot t USING (l_returnflag)
            WHERE c.cw >= 0.5 * t.tw
            GROUP BY c.l_returnflag
            ORDER BY c.l_returnflag
        """,
        # matryoshka truncation eval: two exact rankings + overlap
        "ann_matryoshka_prefix_recall": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5
            ),
            c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings
            ),
            full_rank AS (
                SELECT query_id, cid,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY
                           list_dot_product(qv, cv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(cv, cv))) DESC,
                           cid ASC) AS rnk
                FROM q CROSS JOIN c WHERE cid <> query_id
            ),
            pre_rank AS (
                SELECT query_id, cid,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY
                           list_dot_product(list_slice(qv, 1, 16),
                                            list_slice(cv, 1, 16)) /
                           (sqrt(list_dot_product(list_slice(qv, 1, 16),
                                                  list_slice(qv, 1, 16))) *
                            sqrt(list_dot_product(list_slice(cv, 1, 16),
                                                  list_slice(cv, 1, 16))))
                               DESC,
                           cid ASC) AS rnk
                FROM q CROSS JOIN c WHERE cid <> query_id
            ),
            hits AS (
                SELECT p.query_id, count(*) AS n_overlap
                FROM pre_rank p JOIN full_rank f
                  ON p.query_id = f.query_id AND p.cid = f.cid
                WHERE p.rnk <= 10 AND f.rnk <= 10
                GROUP BY p.query_id
            )
            SELECT q.query_id,
                   coalesce(h.n_overlap, 0) AS n_overlap,
                   (floor((CAST(coalesce(h.n_overlap, 0) AS DOUBLE)
                           / 10.0) * 10000.0 + 0.5) / 10000.0)
                       AS recall_at_10
            FROM q LEFT JOIN hits h USING (query_id)
            ORDER BY q.query_id
        """,
        # sweep-line interval union: integer-microsecond arithmetic;
        # the per-user total is tie-order invariant by construction
        "interval_coverage_per_user": """
            WITH e AS (
                SELECT user_id, epoch_us(ts) AS s,
                       epoch_us(ts)
                       + CAST(floor(value * 1000000.0) AS BIGINT) AS e
                FROM events
            ),
            swept AS (
                SELECT user_id, s, e,
                       max(e) OVER (
                           PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pme
                FROM e
            )
            SELECT user_id, count(*) AS n_intervals,
                   CAST(sum(greatest(e - greatest(s, coalesce(pme, s)), 0))
                        AS BIGINT) AS covered_us
            FROM swept GROUP BY user_id
            ORDER BY user_id
        """,
        # first-order Markov transitions, (ts, event_id) tiebreak
        "event_transition_matrix": """
            WITH ordered AS (
                SELECT user_id, event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS to_type
                FROM events
            ),
            pairs AS (
                SELECT from_type, to_type, count(*) AS n_transitions
                FROM ordered WHERE to_type IS NOT NULL GROUP BY 1, 2
            ),
            tt AS (
                SELECT from_type, sum(n_transitions) AS tot
                FROM pairs GROUP BY 1
            )
            SELECT pr.from_type, pr.to_type, pr.n_transitions,
                   (floor((CAST(pr.n_transitions AS DOUBLE)
                           / CAST(tt.tot AS DOUBLE)) * 10000.0 + 0.5)
                    / 10000.0) AS p
            FROM pairs pr JOIN tt USING (from_type)
            ORDER BY pr.from_type, pr.to_type
        """,
        # PSI drift: identical binning, eps floor, and ln terms
        "drift_psi_event_values": """
            WITH cells AS (
                SELECT event_type,
                       least(greatest(CAST(floor((value - 0.0) / 20.0)
                                           AS INT), 0), 31) AS bin,
                       sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                                THEN 0 ELSE 1 END) AS rc,
                       sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                                THEN 1 ELSE 0 END) AS cc
                FROM events GROUP BY 1, 2
            ),
            tot AS (
                SELECT event_type, sum(rc) AS rn, sum(cc) AS cn
                FROM cells GROUP BY 1
            )
            SELECT c.event_type,
                   CAST(max(t.rn) AS BIGINT) AS n_ref,
                   CAST(max(t.cn) AS BIGINT) AS n_cur,
                   (floor((sum(
                       (greatest(CAST(c.cc AS DOUBLE) / CAST(t.cn AS DOUBLE), 1e-06)
                        - greatest(CAST(c.rc AS DOUBLE) / CAST(t.rn AS DOUBLE), 1e-06))
                       * ln(greatest(CAST(c.cc AS DOUBLE) / CAST(t.cn AS DOUBLE), 1e-06)
                            / greatest(CAST(c.rc AS DOUBLE) / CAST(t.rn AS DOUBLE), 1e-06))
                   )) * 10000.0 + 0.5) / 10000.0) AS psi
            FROM cells c JOIN tot t USING (event_type)
            WHERE t.rn > 0 AND t.cn > 0
            GROUP BY c.event_type
            ORDER BY c.event_type
        """,
        # budget sharding: exact integer prefix sum — the oracle is
        # the plain global cumulative window whose single-partition
        # cost the Spark side's two-phase scan avoids
        "shard_docs_by_token_budget": """
            WITH toks AS (
                SELECT doc_id,
                       CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                            END AS BIGINT) AS t
                FROM documents
            ),
            cum AS (
                SELECT doc_id, t,
                       coalesce(sum(t) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cp
                FROM toks
            )
            SELECT doc_id, t AS n_tokens,
                   CAST(floor(CAST(cp AS DOUBLE) / 2000.0) AS BIGINT)
                       AS shard
            FROM cum
            ORDER BY doc_id
        """,
        # curation composition: recursive closure + quality window --
        # keeper = best 4dp quality per component, doc_id tiebreak
        "dedup_corpus_quality_keepers": f"""
            WITH RECURSIVE plist AS ({_ngram_jaccard_sql()}),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM plist
                UNION
                SELECT doc_b AS a, doc_a AS b FROM plist
            ),
            reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            mins AS (
                SELECT a AS node, min(b) AS mn FROM reach GROUP BY a
            ),
            comp AS (
                SELECT d.doc_id,
                       least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component
                FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
            ),
            scored AS (
                SELECT doc_id,
                       (floor((greatest(0.0,
                           least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), '\\s+'))
                                  END AS double) / 100.0, 1.0)
                           * (1 - CASE WHEN length(text) > 0
                                  THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
                                       / CAST(length(text) AS double)
                                  ELSE 0.0 END)
                       )) * 10000.0 + 0.5) / 10000.0) AS q
                FROM documents
            ),
            ranked AS (
                SELECT c.component, c.doc_id, s.q,
                       row_number() OVER (
                           PARTITION BY c.component
                           ORDER BY s.q DESC, c.doc_id ASC) AS rn,
                       count(*) OVER (PARTITION BY c.component)
                           AS n_members
                FROM comp c JOIN scored s USING (doc_id)
            )
            SELECT component, doc_id AS keeper_id, n_members,
                   q AS keeper_quality
            FROM ranked WHERE rn = 1
            ORDER BY component
        """,
        # mergeable-histogram quantile rollup: the one-shot recompute
        # twin proves merge exactness (integer bin counts) AND the
        # identical interpolation estimator
        "rollup_incremental_value_quantiles": """
            WITH binned AS (
                SELECT event_type,
                       least(greatest(CAST(floor((value - 0.0) / 10.0)
                                           AS INT), 0), 63) AS bin
                FROM events
            ),
            counts AS (
                SELECT event_type, bin, count(*) AS c
                FROM binned GROUP BY 1, 2
            ),
            tot AS (
                SELECT event_type, sum(c) AS n FROM counts GROUP BY 1
            ),
            cum AS (
                SELECT event_type, bin, c,
                       sum(c) OVER (PARTITION BY event_type
                                    ORDER BY bin) AS cum
                FROM counts
            ),
            j AS (
                SELECT c.*, t.n FROM cum c JOIN tot t USING (event_type)
            ),
            pick50 AS (
                SELECT event_type, min(bin) AS bin FROM j
                WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE)
                  AND c > 0 GROUP BY 1
            ),
            p50 AS (
                SELECT j.event_type,
                       (0.0 + 10.0 * (CAST(j.bin AS DOUBLE)
                        + (0.5 * CAST(j.n AS DOUBLE)
                           - CAST(j.cum - j.c AS DOUBLE))
                          / CAST(j.c AS DOUBLE))) AS v
                FROM pick50 p
                JOIN j ON p.event_type = j.event_type AND p.bin = j.bin
            ),
            pick90 AS (
                SELECT event_type, min(bin) AS bin FROM j
                WHERE CAST(cum AS DOUBLE) >= 0.9 * CAST(n AS DOUBLE)
                  AND c > 0 GROUP BY 1
            ),
            p90 AS (
                SELECT j.event_type,
                       (0.0 + 10.0 * (CAST(j.bin AS DOUBLE)
                        + (0.9 * CAST(j.n AS DOUBLE)
                           - CAST(j.cum - j.c AS DOUBLE))
                          / CAST(j.c AS DOUBLE))) AS v
                FROM pick90 p
                JOIN j ON p.event_type = j.event_type AND p.bin = j.bin
            )
            SELECT p50.event_type,
                   (floor((p50.v) * 10000.0 + 0.5) / 10000.0) AS p50_value,
                   (floor((p90.v) * 10000.0 + 0.5) / 10000.0) AS p90_value
            FROM p50 JOIN p90 USING (event_type)
            ORDER BY event_type
        """,
        # day-grain cohort retention (DATE math -- NTZ/zone-safe)
        "cohort_retention": """
            WITH e AS (
                SELECT user_id, CAST(ts AS DATE) AS event_day FROM events
            ),
            firsts AS (
                SELECT user_id, min(event_day) AS cohort_day
                FROM e GROUP BY user_id
            ),
            sizes AS (
                SELECT cohort_day, count(DISTINCT user_id) AS cohort_users
                FROM firsts GROUP BY cohort_day
            ),
            cells AS (
                SELECT f.cohort_day,
                       datediff('day', f.cohort_day, e.event_day)
                           AS day_offset,
                       count(DISTINCT e.user_id) AS active_users
                FROM e JOIN firsts f ON e.user_id = f.user_id
                GROUP BY 1, 2
            )
            SELECT c.cohort_day, c.day_offset, c.active_users,
                   (floor((CAST(c.active_users AS DOUBLE)
                           / CAST(s.cohort_users AS DOUBLE))
                          * 10000.0 + 0.5) / 10000.0) AS retention
            FROM cells c JOIN sizes s ON c.cohort_day = s.cohort_day
            ORDER BY c.cohort_day, c.day_offset
        """,
        # int8 two-stage ANN: quantization is IEEE-exact arithmetic,
        # so candidates AND final ranking replay bit-identically
        "ann_int8_topk": """
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       greatest(list_max(list_transform(embedding::DOUBLE[],
                                x -> abs(x))), 1e-30) / 127.0 AS s
                FROM embeddings
            ),
            quant AS (
                SELECT vec_id, v, s,
                       list_transform(v, x -> floor(x / s + 0.5)) AS q
                FROM base
            ),
            qs AS (SELECT * FROM quant WHERE vec_id < 5),
            stage1 AS (
                SELECT qs.vec_id AS query_id, c.vec_id AS cid,
                       qs.v AS qv, c.v AS cv,
                       list_dot_product(qs.q, c.q) * qs.s * c.s AS approx
                FROM quant c CROSS JOIN qs
                WHERE c.vec_id <> qs.vec_id
            ),
            cands AS (
                SELECT query_id, cid, qv, cv,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY approx DESC, cid ASC) AS r1
                FROM stage1
            ),
            rescored AS (
                SELECT query_id, cid,
                       list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(cv, cv))) AS cos_raw
                FROM cands WHERE r1 <= 40
            ),
            ranked AS (
                SELECT query_id, cid AS neighbor_id, cos_raw,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos_raw DESC, cid ASC) AS rnk
                FROM rescored
            )
            SELECT query_id, neighbor_id,
                   (floor((cos_raw) * 10000.0 + 0.5) / 10000.0) AS cos,
                   CAST(rnk AS int) AS rank
            FROM ranked
            WHERE rnk <= 10
            ORDER BY query_id, rank
        """,
        # A-ES weighted sampling: identical md5-derived uniform and
        # ln(u)/w key on both engines (key ordering robust to ulp-
        # level libm differences; the key is not output)
        "weighted_sample_docs": """
            WITH keyed AS (
                SELECT source, doc_id, n_chars,
                       ln((('0x' || substring(
                               md5('aes1' || CAST(doc_id AS VARCHAR)),
                               1, 13))::BIGINT + 0.5)
                          / 4503599627370496.0)
                       / CAST(n_chars AS DOUBLE) AS key
                FROM documents
            ),
            ranked AS (
                SELECT source, doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY key DESC, doc_id ASC) AS rk
                FROM keyed
            )
            SELECT source, doc_id, n_chars FROM ranked
            WHERE rk <= 10
            ORDER BY source, doc_id
        """,
        # hard negatives: same exact-cosine ranking as ann_cosine_topk
        # with the different-label predicate
        "hard_negatives_contrastive": """
            WITH a AS (
                SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS qv,
                       label AS qlabel
                FROM embeddings WHERE vec_id % 50 = 0
            ),
            c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
                       label AS clabel
                FROM embeddings
            ),
            scored AS (
                SELECT anchor_id, cid,
                       list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                           AS cos_raw
                FROM c CROSS JOIN a
                WHERE clabel <> qlabel
            ),
            ranked AS (
                SELECT anchor_id, cid AS negative_id, cos_raw,
                       row_number() OVER (
                           PARTITION BY anchor_id
                           ORDER BY cos_raw DESC, cid ASC
                       ) AS rnk
                FROM scored
            )
            SELECT anchor_id, negative_id,
                   (floor((cos_raw) * 10000.0 + 0.5) / 10000.0) AS cos,
                   CAST(rnk AS int) AS rank
            FROM ranked
            WHERE rnk <= 5
            ORDER BY anchor_id, rank
        """,
        # exact shared-substring pairs: identical md5 k-gram anchors,
        # doc-frequency guard, and gaps-and-islands diagonal runs on
        # both engines (k=8 tokens, span >= 12, anchor df <= 50)
        "dedup_exact_spans": f"""
            WITH toks AS (
                SELECT doc_id, string_split({norm_text}, ' ') AS t
                FROM documents
                WHERE len(string_split({norm_text}, ' ')) >= 8
            ),
            wins AS (
                SELECT doc_id, i AS pos,
                       ('0x' || substr(md5(array_to_string(
                            list_slice(t, i, i + 7), ' ')), 1, 15))::BIGINT
                           AS h
                FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
            ),
            rare AS (
                SELECT * FROM wins WHERE h IN (
                    SELECT h FROM wins
                    GROUP BY h HAVING count(DISTINCT doc_id) <= 50)
            ),
            hits AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pa, b.pos AS pb, a.h
                FROM rare a JOIN rare b
                  ON a.h = b.h AND a.doc_id < b.doc_id
            ),
            runs AS (
                SELECT doc_a, doc_b, pa - pb AS diag, pa,
                       pa - row_number() OVER (
                           PARTITION BY doc_a, doc_b, pa - pb
                           ORDER BY pa) AS grp
                FROM hits
            ),
            spans AS (
                SELECT doc_a, doc_b, max(run + 7) AS max_span_tokens
                FROM (SELECT doc_a, doc_b, diag, grp, count(*) AS run
                      FROM runs GROUP BY ALL)
                GROUP BY doc_a, doc_b
            ),
            sw AS (
                SELECT doc_a, doc_b, count(*) AS shared_windows
                FROM (SELECT DISTINCT doc_a, doc_b, h FROM hits)
                GROUP BY doc_a, doc_b
            )
            SELECT s.doc_a, s.doc_b, shared_windows, max_span_tokens
            FROM spans s JOIN sw USING (doc_a, doc_b)
            WHERE max_span_tokens >= 12
            ORDER BY doc_a, doc_b
        """,
        # layout-invariant twin: the Spark side answers over the
        # z-order-clustered COPY of events; same rows either way
        "zorder_pruned_scan": """
            SELECT user_id, count(*) AS n_events,
                   (floor((sum(value)) * 100.0 + 0.5) / 100.0) AS sum_value
            FROM events
            WHERE user_id >= 10 AND user_id < 40
              AND value >= 50.0 AND value < 150.0
            GROUP BY user_id
            ORDER BY user_id
        """,
        "filter_disjunctive": """
            SELECT * FROM part
            WHERE (p_type = 'PROMO' AND p_brand LIKE '%#1%')
               OR p_type = 'ECONOMY'
               OR p_type = 'LARGE'
               OR p_type = 'SMALL'
        """,
        "count_by_concat_key": """
            SELECT p_brand || ' - ' || p_type AS part_type,
                   count(*) AS cnt
            FROM part
            GROUP BY p_brand || ' - ' || p_type
            ORDER BY part_type
        """,
        "weekday_features": """
            SELECT dayname(date_timestamp) AS day_of_week,
                   CAST(isodow(date_timestamp) AS int) AS day_of_week_num,
                   event_id, date_str
            FROM (
                SELECT event_id, date_str,
                       strptime(date_str, '%m/%d/%Y %I:%M:%S %p') AS date_timestamp
                FROM (
                    SELECT event_id,
                           strftime(ts, '%m/%d/%Y %I:%M:%S %p') AS date_str
                    FROM events
                )
            )
        """,
        "etl_derive_dates": """
            SELECT l_orderkey, l_linenumber, "date",
                   new_date,
                   CAST(month(new_date) AS int) AS month,
                   CAST(day(new_date) AS int) AS day
            FROM (
                SELECT l_orderkey, l_linenumber, "date",
                       CAST(strptime("date", '%m/%d/%Y %I:%M:%S %p') AS DATE) AS new_date
                FROM (
                    SELECT l_orderkey, l_linenumber,
                           strftime(l_shipdate, '%m/%d/%Y %I:%M:%S %p') AS "date"
                    FROM lineitem
                )
            )
        """,
        "filtered_agg_returns": """
            SELECT l_suppkey, count(*) AS tot_returns
            FROM (SELECT *, l_returnflag = 'R' AS returned FROM lineitem)
            WHERE returned
            GROUP BY l_suppkey
            ORDER BY l_suppkey
        """,
        "dim_join_rollup": """
            SELECT r_name, n_name,
                   count(*) AS num_customers,
                   (floor((avg(c_acctbal)) * 100.0 + 0.5) / 100.0) AS avg_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "topk_customers": """
            SELECT o_custkey, (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS total_spend
            FROM orders
            GROUP BY o_custkey
            ORDER BY total_spend DESC, o_custkey ASC
            LIMIT 15
        """,
        "window_rank_orders": """
            SELECT c_mktsegment, o_orderkey,
                   (floor((o_totalprice) * 100.0 + 0.5) / 100.0) AS o_totalprice,
                   CAST(rk AS int) AS rk
            FROM (
                SELECT c_mktsegment, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY c_mktsegment
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rk
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            )
            WHERE rk <= 3
            ORDER BY c_mktsegment, rk
        """,
        "left_join_order_counts": """
            SELECT c_mktsegment, n_orders, count(*) AS n_customers
            FROM (
                SELECT c.c_custkey, c.c_mktsegment,
                       count(o.o_orderkey) AS n_orders
                FROM customer c
                LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey, c.c_mktsegment
            )
            GROUP BY c_mktsegment, n_orders
            ORDER BY c_mktsegment, n_orders
        """,
        "anti_join_idle_customers": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
            )
            ORDER BY c_custkey
        """,
        "rollup_region_nation": """
            SELECT r_name, n_name,
                   count(*) AS n_customers,
                   (floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0) AS sum_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
            ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
        """,
        "distinct_agg_customers": """
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS n_customers,
                   count(*) AS n_orders
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "set_union_distinct": """
            SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION
            SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
            ORDER BY c_custkey
        """,
        "view_layering": """
            WITH dependency1_urgent_orders AS (
                SELECT * FROM orders
                WHERE o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
            ),
            urgent_by_status AS (
                SELECT o_orderstatus,
                       count(*) AS num_orders,
                       (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS total_price
                FROM dependency1_urgent_orders
                GROUP BY o_orderstatus
            )
            SELECT * FROM urgent_by_status ORDER BY o_orderstatus
        """,
        "json_extract_events": """
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k
            FROM (
                SELECT event_type,
                       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                FROM events
            )
            GROUP BY event_type
            ORDER BY event_type
        """,
        "hourly_event_stats": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n_events,
                   (floor((sum(value)) * 100.0 + 0.5) / 100.0) AS sum_value
            FROM events
            GROUP BY date_trunc('hour', ts), event_type
            ORDER BY hour_start, event_type
        """,
        "user_sessions": """
            WITH o AS (
                SELECT user_id, ts, value,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events
            ),
            f AS (
                SELECT *,
                       CASE WHEN prev IS NULL
                                 OR ts - prev >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM o
            ),
            s AS (
                SELECT *,
                       sum(brk) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM f
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events,
                   (floor((sum(value)) * 100.0 + 0.5) / 100.0) AS sum_value
            FROM s
            GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "pivot_event_matrix": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events
            GROUP BY user_id
            ORDER BY user_id
        """,
        "range_join_event_sessions": """
            WITH o AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events
            ),
            f AS (
                SELECT *,
                       CASE WHEN prev IS NULL
                                 OR ts - prev >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM o
            ),
            s AS (
                SELECT *,
                       sum(brk) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM f
            ),
            sess AS (
                SELECT user_id,
                       min(ts) AS session_start,
                       max(ts) + INTERVAL 30 MINUTE AS session_end
                FROM s GROUP BY user_id, sid
            )
            SELECT e.user_id, sess.session_start, sess.session_end,
                   count(*) AS n_events
            FROM events e
            JOIN sess ON e.user_id = sess.user_id
                     AND e.ts >= sess.session_start
                     AND e.ts < sess.session_end
            GROUP BY e.user_id, sess.session_start, sess.session_end
            ORDER BY e.user_id, sess.session_start
        """,
        "asof_click_attribution": """
            WITH p AS (
                SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
                FROM events WHERE event_type = 'purchase'
            ),
            c AS (
                SELECT user_id, ts AS click_ts, max(event_id) AS click_id
                FROM events WHERE event_type = 'click'
                GROUP BY user_id, ts
            )
            SELECT p.user_id, p.purchase_id, p.purchase_ts,
                   c.click_id, c.click_ts,
                   epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
            ORDER BY p.user_id, p.purchase_id
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, ts, event_type
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ) AS rn
                FROM events
            )
            WHERE rn = 1
            ORDER BY user_id
        """,
        "full_outer_nation_activity": """
            WITH cust AS (
                SELECT c_nationkey AS nationkey, count(*) AS n_customers
                FROM customer GROUP BY c_nationkey
            ),
            supp AS (
                SELECT s_nationkey AS nationkey, count(*) AS n_rich_suppliers
                FROM supplier WHERE s_acctbal > 9000
                GROUP BY s_nationkey
            )
            SELECT coalesce(cust.nationkey, supp.nationkey) AS nationkey,
                   n.n_name,
                   coalesce(n_customers, 0) AS n_customers,
                   coalesce(n_rich_suppliers, 0) AS n_rich_suppliers
            FROM cust FULL OUTER JOIN supp USING (nationkey)
            LEFT JOIN nation n
              ON coalesce(cust.nationkey, supp.nationkey) = n.n_nationkey
            ORDER BY nationkey
        """,
        "above_customer_avg_orders": """
            WITH flagged AS (
                SELECT o_custkey, o_totalprice,
                       o_totalprice > avg(o_totalprice) OVER (
                           PARTITION BY o_custkey
                       ) AS above
                FROM orders
            )
            SELECT o_custkey,
                   count(*) AS n_orders,
                   CAST(sum(CAST(above AS INT)) AS BIGINT) AS n_above_avg,
                   (floor((avg(o_totalprice)) * 100.0 + 0.5) / 100.0)
                       AS avg_price
            FROM flagged
            GROUP BY o_custkey
            ORDER BY o_custkey
        """,
        "gap_fill_hourly_values": """
            WITH h AS (
                SELECT user_id, date_trunc('hour', ts) AS hour,
                       (floor((avg(value)) * 10000.0 + 0.5) / 10000.0) AS v
                FROM events WHERE user_id < 20
                GROUP BY user_id, date_trunc('hour', ts)
            ),
            b AS (
                SELECT user_id, min(hour) AS mn, max(hour) AS mx
                FROM h GROUP BY user_id
            ),
            spine AS (
                SELECT user_id,
                       unnest(generate_series(mn, mx, INTERVAL 1 HOUR))
                           AS hour
                FROM b
            ),
            j AS (
                SELECT s.user_id, s.hour, h.v
                FROM spine s LEFT JOIN h USING (user_id, hour)
            )
            SELECT user_id, hour,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value_filled,
                   v IS NULL AS is_gap
            FROM j
            ORDER BY user_id, hour
        """,
        "user_value_intervals": """
            SELECT user_id, event_id, value,
                   ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, valid_from, event_id
        """,
        "corr_qty_price_by_flag": """
            SELECT l_returnflag,
                   count(*) AS n_rows,
                   (floor((stddev_samp(l_quantity)) * 10000.0 + 0.5)
                    / 10000.0) AS std_qty,
                   (floor((corr(l_quantity, l_extendedprice)) * 10000.0 + 0.5)
                    / 10000.0) AS corr_qty_price,
                   (floor((covar_samp(l_quantity, l_discount)) * 10000.0 + 0.5)
                    / 10000.0) AS covar_qty_disc
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "order_value_deciles": """
            SELECT decile,
                   count(*) AS n_orders,
                   (floor((min(o_totalprice)) * 100.0 + 0.5) / 100.0)
                       AS min_price,
                   (floor((max(o_totalprice)) * 100.0 + 0.5) / 100.0)
                       AS max_price,
                   (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0)
                       AS sum_price
            FROM (
                SELECT o_totalprice,
                       ntile(10) OVER (
                           ORDER BY o_totalprice, o_orderkey
                       ) AS decile
                FROM orders
            )
            GROUP BY decile
            ORDER BY decile
        """,
        "dedup_exact_groups": f"""
            SELECT md5({norm_text}) AS fingerprint,
                   count(*) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM documents
            GROUP BY md5({norm_text})
            ORDER BY fingerprint
        """,
        "dedup_jaccard_pairs": f"""
            WITH w AS (
                SELECT doc_id, lang, {_WORDS.format(c='text')} AS words
                FROM documents
            ),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       (floor((CAST(len(list_intersect(a.words, b.words)) AS double) /
                           CAST(len(a.words) + len(b.words)
                                - len(list_intersect(a.words, b.words)) AS double)) * 10000.0 + 0.5) / 10000.0) AS jaccard
                FROM w a JOIN w b
                  ON a.lang = b.lang AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, jaccard FROM pairs
            WHERE jaccard >= 0.5
            ORDER BY doc_a, doc_b
        """,
        # Quadratic brute-force twin of the sub-quadratic prefix-filter
        # join (word-3-gram shingles, corpus-wide — no lang blocking):
        # output equality (rows+hash) proves the candidate scheme is
        # lossless, which is the operator's whole contract.
        "dedup_prefix_filter_pairs": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 2, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 2, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       (floor((CAST(len(list_intersect(a.sh, b.sh)) AS double) /
                           CAST(len(a.sh) + len(b.sh)
                                - len(list_intersect(a.sh, b.sh)) AS double)) * 10000.0 + 0.5) / 10000.0) AS jaccard
                FROM s a JOIN s b
                  ON a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, jaccard FROM pairs
            WHERE jaccard >= 0.5
            ORDER BY doc_a, doc_b
        """,
        "dedup_ngram_jaccard": _ngram_jaccard_sql() + " ORDER BY doc_a, doc_b",
        "dedup_minhash_portable": _minhash_sql(),
        "dedup_simhash_portable": _simhash_sql(),
        "decontaminate_vs_benchmark": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 4, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 4, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            bh AS (
                SELECT DISTINCT
                       ('0x' || substr(md5(u.s1), 1, 15))::BIGINT AS h
                FROM (SELECT unnest(sh) AS s1 FROM s WHERE doc_id % 23 = 0) u
            ),
            dh AS (
                SELECT u.doc_id,
                       ('0x' || substr(md5(u.s1), 1, 15))::BIGINT AS h
                FROM (
                    SELECT doc_id, unnest(sh) AS s1 FROM s
                    WHERE doc_id % 23 <> 0
                ) u
            ),
            tot AS (
                SELECT doc_id, count(*) AS n_shingles FROM dh GROUP BY doc_id
            ),
            hit AS (
                SELECT doc_id, count(*) AS n_hits FROM dh
                WHERE h IN (SELECT h FROM bh)
                GROUP BY doc_id
            )
            SELECT t.doc_id,
                   t.n_shingles,
                   coalesce(hit.n_hits, 0) AS n_hits,
                   (floor((CAST(coalesce(hit.n_hits, 0) AS double)
                           / CAST(t.n_shingles AS double)) * 10000.0 + 0.5)
                    / 10000.0) AS hit_frac,
                   coalesce(hit.n_hits, 0) > 0 AS contaminated
            FROM tot t LEFT JOIN hit ON t.doc_id = hit.doc_id
            ORDER BY t.doc_id
        """,
        "mixture_rebalance": """
            WITH kept AS (
                SELECT * FROM documents
                WHERE (('0x' || substr(md5('mix1:' || doc_id), 1, 15))::BIGINT
                       % 1000000)
                      < CAST((CASE lang WHEN 'en' THEN 0.3
                                        WHEN 'zh' THEN 0.8
                                        ELSE 1.0 END) * 1000000 AS BIGINT)
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM kept GROUP BY lang ORDER BY lang
        """,
        "grouping_sets_order_stats": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS total_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
            ORDER BY o_orderstatus ASC NULLS FIRST,
                     o_orderpriority ASC NULLS FIRST
        """,
        "dedup_component_groups": f"""
            WITH RECURSIVE plist AS ({_ngram_jaccard_sql()}),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM plist
                UNION
                SELECT doc_b AS a, doc_a AS b FROM plist
            ),
            reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            mins AS (
                SELECT a AS node, min(b) AS mn FROM reach GROUP BY a
            )
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component,
                   least(d.doc_id, coalesce(m.mn, d.doc_id)) = d.doc_id
                       AS is_keeper
            FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
            ORDER BY d.doc_id
        """,
        # full-oracle LSH clustering: the MinHash edge list
        # (bit-identical in DuckDB) closed transitively — the
        # same recursive-CTE closure as dedup_component_groups over
        # the banded candidate edges instead of the exact-Jaccard ones
        "dedup_component_groups_portable": f"""
            WITH RECURSIVE plist AS ({_minhash_sql()}),
            edges AS (
                SELECT doc_a AS a, doc_b AS b FROM plist
                UNION
                SELECT doc_b AS a, doc_a AS b FROM plist
            ),
            reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            mins AS (
                SELECT a AS node, min(b) AS mn FROM reach GROUP BY a
            )
            SELECT d.doc_id,
                   least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component,
                   least(d.doc_id, coalesce(m.mn, d.doc_id)) = d.doc_id
                       AS is_keeper
            FROM documents d LEFT JOIN mins m ON d.doc_id = m.node
            ORDER BY d.doc_id
        """,
        # KMV sketch: md5-derived uniform hashes replay bit-identically
        # (int64 -> double rounding then division by 2^60 is exact in
        # binary FP on both engines), so the k-th minimum and the
        # (k-1)/u_k estimate hash-match
        "sketch_kmv_distinct_portable": """
            WITH d AS (
                SELECT DISTINCT event_type, user_id FROM events
            ),
            h AS (
                SELECT event_type,
                       CAST(('0x' || substr(
                            md5(CAST(user_id AS VARCHAR)), 1, 15
                       ))::BIGINT AS DOUBLE)
                       / 1152921504606846976.0 AS u
                FROM d
            ),
            ranked AS (
                SELECT event_type, u,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY u
                       ) AS rn
                FROM h
            ),
            sk AS (
                SELECT event_type, count(*) AS n_in_sketch, max(u) AS uk
                FROM ranked WHERE rn <= 64 GROUP BY event_type
            ),
            ex AS (
                SELECT event_type, count(*) AS exact_users
                FROM d GROUP BY event_type
            )
            SELECT sk.event_type, ex.exact_users,
                   (floor((CASE WHEN sk.n_in_sketch < 64
                                THEN CAST(sk.n_in_sketch AS DOUBLE)
                                ELSE 63.0 / sk.uk END)
                          * 100.0 + 0.5) / 100.0) AS est_users
            FROM sk JOIN ex USING (event_type)
            ORDER BY sk.event_type
        """,
        # full curation pipeline composed from the individually-proven
        # fragments: fingerprint dedup -> per-source median quality
        # gate (thresholds over SURVIVORS, matching the Spark stage
        # order) -> 5-gram md5 decontamination -> hash-range split
        "curation_manifest_docs": f"""
            WITH corpus AS (
                SELECT * FROM documents WHERE doc_id % 23 <> 0
            ),
            fps AS (
                SELECT doc_id, md5({_NORM.format(c='text')}) AS fp
                FROM corpus
            ),
            keep AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp),
            dd AS (SELECT c.* FROM corpus c JOIN keep USING (doc_id)),
            scored AS (
                SELECT doc_id,
                       (floor((greatest(0.0,
                           least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), '\\s+'))
                                  END AS double) / 100.0, 1.0)
                           * (1 - CASE WHEN length(text) > 0
                                  THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
                                       / CAST(length(text) AS double)
                                  ELSE 0.0 END)
                       )) * 10000.0 + 0.5) / 10000.0) AS quality
                FROM dd
            ),
            thr AS (
                SELECT d.source, quantile_cont(s.quality, 0.5) AS _thr
                FROM dd d JOIN scored s USING (doc_id)
                GROUP BY d.source
            ),
            gated AS (
                SELECT d.* FROM dd d
                JOIN scored s USING (doc_id)
                JOIN thr t ON d.source = t.source
                WHERE s.quality >= t._thr
            ),
            gw AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM gated
            ),
            gs AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 4, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 4, 1) + 1)
                       ]) AS sh
                FROM gw
            ),
            bw AS (
                SELECT string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents WHERE doc_id % 23 = 0
            ),
            bh AS (
                SELECT DISTINCT
                       ('0x' || substr(md5(u.s1), 1, 15))::BIGINT AS h
                FROM (
                    SELECT unnest(list_distinct([
                        array_to_string(wd[i:least(i + 4, len(wd))], ' ')
                        for i in range(1, greatest(len(wd) - 4, 1) + 1)
                    ])) AS s1 FROM bw
                ) u
            ),
            hit AS (
                SELECT DISTINCT u.doc_id
                FROM (SELECT doc_id, unnest(sh) AS s1 FROM gs) u
                WHERE ('0x' || substr(md5(u.s1), 1, 15))::BIGINT
                      IN (SELECT h FROM bh)
            ),
            clean AS (
                SELECT g.* FROM gated g
                WHERE g.doc_id NOT IN (SELECT doc_id FROM hit)
            )
            SELECT doc_id, lang, source,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id, lang, source,
                       CAST(('0x' || substr(
                            md5('split-42:' || CAST(doc_id AS VARCHAR)),
                            1, 15))::BIGINT AS DOUBLE)
                       / 1152921504606846976.0 AS u
                FROM clean
            )
            ORDER BY doc_id
        """,
        # Gopher repetition signals (extensions.repetition_signals_docs):
        # identical tokenization, per-n gram explode + count, integer
        # char-mass (count x gram length incl. separators), 4dp floor
        "repetition_signals_docs": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS ts
                FROM documents
            ),
            docs AS (
                SELECT doc_id, ts,
                       length(array_to_string(ts, ' ')) AS chars
                FROM toks WHERE len(ts) >= 2
            ),
            g2 AS (
                SELECT doc_id, g, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i + 1])) AS g
                    FROM docs
                ) GROUP BY doc_id, g
            ),
            g3 AS (
                SELECT doc_id, g, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ts) - 1),
                               i -> ts[i] || ' ' || ts[i + 1] || ' '
                                    || ts[i + 2])) AS g
                    FROM docs WHERE len(ts) >= 3
                ) GROUP BY doc_id, g
            ),
            g5 AS (
                SELECT doc_id, g, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(ts) - 3),
                               i -> ts[i] || ' ' || ts[i + 1] || ' '
                                    || ts[i + 2] || ' ' || ts[i + 3]
                                    || ' ' || ts[i + 4])) AS g
                    FROM docs WHERE len(ts) >= 5
                ) GROUP BY doc_id, g
            ),
            t2 AS (SELECT doc_id, max(c * length(g)) AS m FROM g2
                   GROUP BY doc_id),
            t3 AS (SELECT doc_id, max(c * length(g)) AS m FROM g3
                   GROUP BY doc_id),
            d5 AS (SELECT doc_id,
                          sum(CASE WHEN c >= 2 THEN c * length(g)
                              ELSE 0 END) AS m
                   FROM g5 GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(d.chars AS BIGINT) AS n_chars,
                   floor((coalesce(t2.m, 0)::DOUBLE / d.chars::DOUBLE)
                         * 10000.0 + 0.5) / 10000.0
                       AS top_2gram_char_frac,
                   floor((coalesce(t3.m, 0)::DOUBLE / d.chars::DOUBLE)
                         * 10000.0 + 0.5) / 10000.0
                       AS top_3gram_char_frac,
                   floor((coalesce(d5.m, 0)::DOUBLE / d.chars::DOUBLE)
                         * 10000.0 + 0.5) / 10000.0
                       AS dup_5gram_char_frac
            FROM docs d
            LEFT JOIN t2 USING (doc_id)
            LEFT JOIN t3 USING (doc_id)
            LEFT JOIN d5 USING (doc_id)
            ORDER BY d.doc_id
        """,
        # temperature-smoothed sampling rates (extensions.
        # temperature_mixture_rates_docs): alpha=0.25 as nested sqrt
        # (correctly-rounded IEEE in both engines, no libm pow),
        # weights 4dp-scaled to BIGINT before the order-free sum,
        # identical divisions
        "temperature_mixture_rates": """
            WITH counts AS (
                SELECT lang, count(*) AS n_docs
                FROM documents GROUP BY lang
            ),
            weighted AS (
                SELECT lang, n_docs,
                       CAST(floor(sqrt(sqrt(n_docs::DOUBLE)) * 10000.0
                                  + 0.5) AS BIGINT) AS w
                FROM counts
            ),
            tot AS (
                SELECT CAST(sum(w) AS BIGINT) AS tw,
                       CAST(sum(n_docs) AS BIGINT) AS tn
                FROM weighted
            )
            SELECT lang,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   floor((n_docs::DOUBLE / tn::DOUBLE) * 10000.0 + 0.5)
                       / 10000.0 AS p_natural,
                   floor((w::DOUBLE / tw::DOUBLE) * 10000.0 + 0.5)
                       / 10000.0 AS p_sampling,
                   floor(((w::DOUBLE / tw::DOUBLE)
                          / (n_docs::DOUBLE / tn::DOUBLE))
                         * 10000.0 + 0.5) / 10000.0 AS boost_vs_natural
            FROM weighted CROSS JOIN tot
            ORDER BY lang NULLS LAST
        """,
        # interpolated Kneser-Ney bigram LM (extensions.
        # kneser_ney_logprob_docs): same tokenization/bigram CTEs as
        # the add-alpha entry below; discount 0.75 (exactly
        # representable), continuation counts from the c12 table,
        # the IDENTICAL parenthesized IEEE expression, 4dp floor
        "kneser_ney_logprob_docs": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS ts
                FROM documents
            ),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(ts)),
                           i -> ts[i] || ' ' || ts[i + 1])) AS bg
                FROM toks
                WHERE len(ts) >= 2
            ),
            c12 AS (
                SELECT bg, count(*) AS c12 FROM bg GROUP BY bg
            ),
            w1s AS (
                SELECT split_part(bg, ' ', 1) AS w1,
                       CAST(sum(c12) AS BIGINT) AS c1,
                       CAST(count(*) AS BIGINT) AS n1p_w1
                FROM c12 GROUP BY 1
            ),
            w2s AS (
                SELECT split_part(bg, ' ', 2) AS w2,
                       CAST(count(*) AS BIGINT) AS n1p_w2
                FROM c12 GROUP BY 1
            ),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM c12)
            SELECT b.doc_id,
                   count(*) AS n_bigrams,
                   floor(avg(ln(
                       greatest(c12.c12::DOUBLE - 0.75, 0.0)
                           / w1s.c1::DOUBLE
                       + ((0.75 * w1s.n1p_w1::DOUBLE) / w1s.c1::DOUBLE)
                         * (w2s.n1p_w2::DOUBLE / tot.n1p_all::DOUBLE)
                   )) * 10000.0 + 0.5) / 10000.0 AS avg_logprob_kn
            FROM bg b
            JOIN c12 USING (bg)
            JOIN w1s ON split_part(b.bg, ' ', 1) = w1s.w1
            JOIN w2s ON split_part(b.bg, ' ', 2) = w2s.w2
            CROSS JOIN tot
            GROUP BY b.doc_id
            ORDER BY b.doc_id
        """,
        # bigram LM: identical tokenization (repetition_top_bigram's),
        # identical add-alpha arithmetic, 4dp floor rounding
        "bigram_logprob_scores": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS ts
                FROM documents
            ),
            v AS (
                SELECT count(DISTINCT tok) AS vsz
                FROM (SELECT unnest(ts) AS tok FROM toks)
            ),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(ts)),
                           i -> ts[i] || ' ' || ts[i + 1])) AS bg
                FROM toks
                WHERE len(ts) >= 2
            ),
            c12 AS (
                SELECT bg, count(*) AS c12 FROM bg GROUP BY bg
            ),
            c1 AS (
                SELECT split_part(bg, ' ', 1) AS w1,
                       CAST(sum(c12) AS BIGINT) AS c1
                FROM c12 GROUP BY 1
            )
            SELECT b.doc_id,
                   count(*) AS n_bigrams,
                   floor(avg(ln(
                       (c12.c12::DOUBLE + 0.1)
                       / (c1.c1::DOUBLE + 0.1 * v.vsz::DOUBLE)
                   )) * 10000.0 + 0.5) / 10000.0 AS avg_logprob
            FROM bg b
            JOIN c12 USING (bg)
            JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
            CROSS JOIN v
            GROUP BY b.doc_id
            ORDER BY b.doc_id
        """,
        # hash-range split: identical md5-derived double + thresholds
        "split_train_val_test_docs": """
            SELECT doc_id, lang,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(
                            md5('split-42:' || CAST(doc_id AS VARCHAR)),
                            1, 15))::BIGINT AS DOUBLE)
                       / 1152921504606846976.0 AS u
                FROM documents
            )
            ORDER BY doc_id
        """,
        # count-min sketch: identical md5 bucket family, identical
        # top-30 query set, min-over-rows estimate replayed exactly
        "sketch_cms_token_freq": f"""
            WITH toks AS (
                SELECT unnest(string_split({_NORM.format(c='text')}, ' '))
                           AS token
                FROM documents
            ),
            tok AS (SELECT token FROM toks WHERE token <> ''),
            cells AS (
                SELECT r,
                       ('0x' || substr(
                           md5('cms' || r || ':' || token), 1, 15
                       ))::BIGINT % 512 AS b,
                       CAST(count(*) AS BIGINT) AS n
                FROM tok CROSS JOIN range(4) t(r)
                GROUP BY 1, 2
            ),
            exact AS (
                SELECT token, CAST(count(*) AS BIGINT) AS exact_n
                FROM tok GROUP BY token
                ORDER BY exact_n DESC, token
                LIMIT 30
            )
            SELECT e.token, e.exact_n,
                   CAST(min(c.n) AS BIGINT) AS cms_est
            FROM exact e
            JOIN cells c
              ON c.b = ('0x' || substr(
                     md5('cms' || c.r || ':' || e.token), 1, 15
                 ))::BIGINT % 512
            GROUP BY e.token, e.exact_n
            ORDER BY e.exact_n DESC, e.token
        """,
        # JL projection: identical Rademacher sign literals (f-string
        # interpolation of the SAME driver-side bank the Spark plan
        # parses), identical 1/sqrt(16) scale, 4dp floor rounding
        "jl_project_embeddings": f"""
            WITH s(k, signs) AS (VALUES {_JL_SIGN_ROWS}),
            v AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            )
            SELECT vec_id, CAST(k AS INT) AS dim,
                   floor(list_dot_product(e, signs) * 0.25
                         * 10000.0 + 0.5) / 10000.0 AS val
            FROM v CROSS JOIN s
            ORDER BY vec_id, dim
        """,
        # containment: identical 3-gram shingle sets (the ngram-
        # jaccard recipe), intersection via equi-join twin, integer-
        # arithmetic threshold so the 0.9 boundary is engine-exact
        "dedup_containment_pairs": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 2, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 2, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            e AS (
                -- per-doc DISTINCT hashes: mirrors array_distinct on
                -- the Spark side so the hash-set intersection size
                -- equals this join-count unconditionally (not just
                -- absent a within-doc 60-bit md5 collision)
                SELECT DISTINCT doc_id,
                       ('0x' || substr(md5(u.g), 1, 15))::BIGINT AS h
                FROM (SELECT doc_id, unnest(sh) AS g FROM s) u
            ),
            sz AS (
                SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s
            ),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(count(*) AS BIGINT) AS n_common
                FROM e a JOIN e b
                  ON a.h = b.h AND a.doc_id <> b.doc_id
                GROUP BY 1, 2
            )
            SELECT i.doc_a, i.doc_b, i.n_common,
                   sa.n AS n_a, sb.n AS n_b,
                   floor((CAST(i.n_common AS DOUBLE) / sa.n)
                         * 10000.0 + 0.5) / 10000.0 AS containment
            FROM inter i
            JOIN sz sa ON i.doc_a = sa.doc_id
            JOIN sz sb ON i.doc_b = sb.doc_id
            WHERE i.n_common * 100 >= sa.n * 90
            ORDER BY i.doc_a, i.doc_b
        """,
        # content-defined chunking: identical rolling md5 8-gram
        # boundaries (list comprehension twin of the HOF filter),
        # identical 1-based substr chunk extraction + fingerprints
        "chunk_text_cdc": """
            WITH b AS (
                SELECT doc_id, text, CAST(len(text) AS INT) AS n,
                       [CAST(i AS INT)
                        FOR i IN range(8, CAST(len(text) AS BIGINT) + 1)
                        IF ('0x' || substr(
                               md5(substr(text, CAST(i AS INT) - 7, 8)),
                               1, 15))::BIGINT % 64 = 0] AS bounds
                FROM documents
            ),
            pairs AS (
                SELECT doc_id, text,
                       unnest(list_zip(
                           list_prepend(0, bounds),
                           list_append(bounds, n))) AS p
                FROM b
            ),
            c AS (
                SELECT doc_id, text,
                       CAST(p[1] AS INT) AS s,
                       CAST(p[2] AS INT) AS e
                FROM pairs
                WHERE p[1] < p[2]
            )
            SELECT doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY s
                   ) - 1 AS INT) AS chunk_idx,
                   CAST(s + 1 AS INT) AS start_pos,
                   CAST(e - s AS INT) AS chunk_len,
                   md5(substr(text, s + 1, e - s)) AS chunk_fp
            FROM c
            ORDER BY doc_id, chunk_idx
        """,
        # association rules: exact pair/item supports; identical
        # IEEE double divisions on identical integer inputs, floor-
        # form rounding, (lift desc, a, b) total order on both sides
        "basket_pair_affinity": """
            WITH li AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            no AS (
                SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS _no
                FROM li
            ),
            pairs AS (
                SELECT a.l_partkey AS a, b.l_partkey AS b,
                       CAST(count(*) AS BIGINT) AS n_ab
                FROM li a
                JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2
                HAVING count(*) >= 3
            ),
            item AS (
                SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_i
                FROM li GROUP BY 1
            )
            SELECT p.a, p.b, p.n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
                   floor((p.n_ab / no._no) * 1000000.0 + 0.5)
                       / 1000000.0 AS support,
                   floor((CAST(p.n_ab AS DOUBLE) / ia.n_i) * 10000.0 + 0.5)
                       / 10000.0 AS confidence,
                   floor(((p.n_ab * no._no) / (ia.n_i * ib.n_i))
                         * 10000.0 + 0.5) / 10000.0 AS lift
            FROM pairs p
            JOIN item ia ON p.a = ia.l_partkey
            JOIN item ib ON p.b = ib.l_partkey
            CROSS JOIN no
            ORDER BY lift DESC, a, b
            LIMIT 30
        """,
        # deterministic epoch shuffle: md5 keys + hash shards + per-
        # shard rank replay identically
        "epoch_shuffle_docs": """
            WITH keyed AS (
                SELECT doc_id,
                       md5('epoch-7:' || CAST(doc_id AS VARCHAR)) AS k,
                       CAST(
                           ('0x' || substr(
                               md5('epoch-7:' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 8 AS INT
                       ) AS shard
                FROM documents
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY k
                   ) AS INT) AS pos
            FROM keyed
            ORDER BY shard, pos
        """,
        "dedup_embedding_cosine": """
            WITH v AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       (floor((
                           list_dot_product(a.e, b.e) /
                           (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                       ) * 10000.0 + 0.5) / 10000.0) AS cos
                FROM v a JOIN v b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cos FROM pairs
            WHERE cos >= 0.3
            ORDER BY id_a, id_b
        """,
        "ann_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5
            ),
            c AS (
                SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings
            ),
            scored AS (
                SELECT query_id, cid,
                       list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                           AS cos_raw
                FROM q CROSS JOIN c
                WHERE cid <> query_id
            ),
            ranked AS (
                SELECT query_id, cid AS neighbor_id, cos_raw,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cos_raw DESC, cid ASC
                       ) AS rnk
                FROM scored
            )
            SELECT query_id, neighbor_id,
                   (floor((cos_raw) * 10000.0 + 0.5) / 10000.0) AS cos,
                   CAST(rnk AS int) AS rank
            FROM ranked
            WHERE rnk <= 10
            ORDER BY query_id, rank
        """,
        "text_stats_by_lang": """
            WITH per_doc AS (
                SELECT lang,
                       CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tokens,
                       length(text) AS n_chars_m,
                       (floor((greatest(0.0,
                           least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), '\\s+'))
                                  END AS double) / 100.0, 1.0)
                           * (1 - CASE WHEN length(text) > 0
                                  THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
                                       / CAST(length(text) AS double)
                                  ELSE 0.0 END)
                       )) * 10000.0 + 0.5) / 10000.0) AS quality
                FROM documents
            )
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   (floor((avg(n_tokens)) * 100.0 + 0.5) / 100.0) AS avg_tokens,
                   (floor((avg(n_chars_m)) * 100.0 + 0.5) / 100.0) AS avg_chars,
                   (floor((avg(quality)) * 10000.0 + 0.5) / 10000.0) AS avg_quality
            FROM per_doc
            GROUP BY lang
            ORDER BY lang
        """,
        "token_counts": """
            SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
                       AS n_bpe_tokens
            FROM documents
            ORDER BY doc_id
        """,
        "doc_fingerprints": f"""
            SELECT doc_id, md5({norm_text}) AS fingerprint
            FROM documents
            ORDER BY doc_id
        """,
        "doc_winnow_fingerprints": f"""
            WITH n AS (
                SELECT doc_id, {norm_text} AS t FROM documents
            ),
            g AS (
                SELECT doc_id, unnest([
                    {{'pos': i - 1,
                      'h': ('0x' || substring(md5(substring(t, CAST(i AS INT), 5)), 1, 15))::BIGINT}}
                    for i in range(1, greatest(length(t) - 4, 1) + 1)
                ], recursive := true)
                FROM n
            ),
            sl AS (
                SELECT doc_id, pos,
                       min(h) OVER (
                           PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                       ) AS fp,
                       count(*) OVER (PARTITION BY doc_id) AS cnt
                FROM g
            )
            SELECT DISTINCT doc_id, fp
            FROM sl
            WHERE pos <= greatest(cnt - 4, 0)
            ORDER BY doc_id, fp
        """,
        "lang_id_heuristic": f"""
            SELECT doc_id, lang,
                   CASE
                       WHEN best > 0 AND h_en = best THEN 'en'
                       WHEN best > 0 AND h_es = best THEN 'es'
                       WHEN best > 0 AND h_fr = best THEN 'fr'
                       WHEN best > 0 AND h_de = best THEN 'de'
                       ELSE 'und'
                   END AS predicted_lang
            FROM (
                SELECT doc_id, lang, h_en, h_es, h_fr, h_de,
                       greatest(h_en, h_es, h_fr, h_de) AS best
                FROM (
                    SELECT doc_id, lang,
                           {hits['en']} AS h_en,
                           {hits['es']} AS h_es,
                           {hits['fr']} AS h_fr,
                           {hits['de']} AS h_de
                    FROM documents
                )
            )
            ORDER BY doc_id
        """,
        "multimodal_byte_stats": """
            SELECT kind,
                   count(*) AS n_media,
                   CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
                   CAST(min(octet_length(payload)) AS BIGINT) AS min_bytes,
                   CAST(max(octet_length(payload)) AS BIGINT) AS max_bytes
            FROM (
                SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                       encode(text) AS payload
                FROM documents
            )
            GROUP BY kind
            ORDER BY kind
        """,
        "cube_order_stats": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0) AS total_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST,
                     o_orderpriority ASC NULLS FIRST
        """,
        "set_intersect_customers": """
            SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
            ORDER BY c_custkey
        """,
        "set_except_customers": """
            SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
            EXCEPT
            SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
            ORDER BY c_custkey
        """,
        "moving_avg_user_value": """
            SELECT user_id, event_id, ts,
                   (floor((avg(value) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                   )) * 10000.0 + 0.5) / 10000.0) AS mavg3
            FROM events
            ORDER BY user_id, ts, event_id
        """,
        "median_value_by_type": """
            SELECT event_type,
                   (floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0) AS p50,
                   (floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0) AS p90,
                   count(*) AS n_events
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "label_centroids": """
            SELECT label, pos,
                   (floor((avg(v)) * 10000.0 + 0.5) / 10000.0) AS avg_v
            FROM (
                SELECT label,
                       unnest([
                           {'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)}
                           for i in range(1, len(embedding) + 1)
                       ], recursive := true)
                FROM embeddings
            )
            GROUP BY label, pos
            ORDER BY label, pos
        """,
        "tfidf_top_terms": f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM words GROUP BY doc_id, term
            ),
            df_t AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT t.doc_id, t.term,
                   CAST(t.tf AS BIGINT) AS tf,
                   CAST(d.df AS BIGINT) AS df,
                   (floor((t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df))
                        * 10000.0 + 0.5) / 10000.0) AS tfidf
            FROM tf t JOIN df_t d ON t.term = d.term CROSS JOIN n
            WHERE t.doc_id < 50
            ORDER BY t.doc_id, t.term
        """,
        "quality_filter_flags": """
            WITH q AS (
                SELECT doc_id,
                       CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tokens,
                       CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                            THEN CAST(list_sum(list_transform(
                                     string_split_regex(trim(text), '\\s+'),
                                     w -> length(w))) AS double)
                                 / len(string_split_regex(trim(text), '\\s+'))
                            ELSE 0.0 END AS mwl,
                       CASE WHEN length(text) > 0
                            THEN CAST(length(text) - length(regexp_replace(
                                     text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
                                 / length(text)
                            ELSE 0.0 END AS sr,
                       CAST(len(string_split(text, chr(10)))
                            - len(list_distinct(string_split(text, chr(10))))
                            AS double)
                           / len(string_split(text, chr(10))) AS dlf
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   (floor((mwl) * 10000.0 + 0.5) / 10000.0) AS mean_word_len,
                   (floor((sr) * 10000.0 + 0.5) / 10000.0) AS symbol_ratio,
                   (floor((dlf) * 10000.0 + 0.5) / 10000.0) AS dup_line_frac,
                   (n_tokens >= 5 AND n_tokens <= 100000
                    AND mwl >= 3.0 AND mwl <= 12.0
                    AND sr <= 0.1 AND dlf <= 0.3) AS keep
            FROM q
            ORDER BY doc_id
        """,
        "ngram_top_terms": f"""
            WITH w AS (
                SELECT lang,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            g AS (
                SELECT lang, unnest([
                    array_to_string(wd[i:least(i + 1, len(wd))], ' ')
                    for i in range(1, greatest(len(wd) - 1, 1) + 1)
                ]) AS ngram
                FROM w
            ),
            c AS (
                SELECT lang, ngram, count(*) AS n FROM g GROUP BY 1, 2
            ),
            r AS (
                SELECT lang, ngram, n,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY n DESC, ngram ASC
                       ) AS rank
                FROM c
            )
            SELECT lang, ngram, CAST(n AS BIGINT) AS n,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 10
            ORDER BY lang, rank
        """,
        "stratified_sample_events": """
            SELECT event_id, event_type, user_id, value
            FROM events
            WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                      % 1000
                  < CASE event_type WHEN 'click' THEN 50
                                    WHEN 'view' THEN 20
                                    ELSE 100 END
            ORDER BY event_id
        """,
        # Salting only changes the partitioning, never the matches —
        # one oracle serves both the plain and the salted form.
        "skew_plain_join": _SKEW_SQL,
        "skew_salted_join": _SKEW_SQL,
        # The stub codec is deterministic sha256/byte math, so DuckDB
        # can twin it: sha256(VARCHAR) hashes the UTF-8 bytes — the
        # exact payload bytes synthesize_media encodes.
        "multimodal_decode_features": """
            WITH m AS (
                SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                       octet_length(encode(text)) AS n_bytes,
                       ('0x' || substr(sha256(text), 1, 4))::INT % 1920 AS width,
                       ('0x' || substr(sha256(text), 5, 4))::INT % 1080 AS height
                FROM documents
            )
            SELECT kind,
                   count(*) AS n_media,
                   CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                   (floor((avg(width)) * 100.0 + 0.5) / 100.0) AS avg_width,
                   (floor((avg(height)) * 100.0 + 0.5) / 100.0) AS avg_height
            FROM m
            GROUP BY kind
            ORDER BY kind
        """,
        # resize stub: images crop to 224x224 with a w*h/64=784-byte
        # budget; non-images pass through with meta dims (len%640/480).
        "multimodal_resize_stats": """
            WITH m AS (
                SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                       octet_length(encode(text)) AS L
                FROM documents
            )
            SELECT kind,
                   CAST(CASE WHEN kind = 'image' THEN 224 ELSE L % 640 END AS INT) AS width,
                   CAST(CASE WHEN kind = 'image' THEN 224 ELSE L % 480 END AS INT) AS height,
                   count(*) AS n_media,
                   CAST(sum(CASE WHEN kind = 'image' THEN least(L, 784) ELSE L END) AS BIGINT)
                       AS resized_bytes,
                   CAST(sum(L) AS BIGINT) AS orig_bytes
            FROM m
            GROUP BY 1, 2, 3
            ORDER BY kind, width, height
        """,
        # frame stub: payload sliced into 64-byte frames, every 4th
        # kept. floor(L/64) full frames (min 1) means every sampled
        # frame is full-width except the single L<64 frame.
        "multimodal_frame_sample": """
            WITH m AS (
                SELECT doc_id AS media_id, octet_length(encode(text)) AS L
                FROM documents
            )
            SELECT media_id,
                   CAST((greatest(L // 64, 1) + 3) // 4 AS BIGINT) AS n_frames,
                   CAST(CASE WHEN L < 64 THEN L
                             ELSE ((greatest(L // 64, 1) + 3) // 4) * 64
                        END AS BIGINT) AS sampled_bytes
            FROM m
            ORDER BY media_id
        """,
        # The ANN/blocked operators ship their hyperplanes/centroids
        # as deterministic driver-side literals — so the SAME literals
        # interpolate into DuckDB SQL and the whole approximate
        # pipeline (bucketing included) is oracle-checkable.
        "ann_ivf_topk": f"""
            WITH cents AS (
                SELECT * FROM (VALUES {_cents_values(8, 64)}) t(cid, cv)
            ),
            corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            assign AS (
                SELECT vec_id, e,
                       (SELECT cid FROM cents
                        ORDER BY list_dot_product(e, cv) DESC, cid ASC
                        LIMIT 1) AS cell
                FROM corpus
            ),
            qprobes AS (
                SELECT q.vec_id AS query_id, q.e AS qv, c.cid AS cell,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.e, c.cv) DESC, c.cid ASC
                       ) AS pr
                FROM corpus q CROSS JOIN cents c
                WHERE q.vec_id < 5
            ),
            scored AS (
                SELECT p.query_id, a.vec_id AS cid,
                       list_dot_product(p.qv, a.e) /
                       (sqrt(list_dot_product(p.qv, p.qv))
                        * sqrt(list_dot_product(a.e, a.e))) AS cos_raw
                FROM (SELECT * FROM qprobes WHERE pr <= 4) p
                JOIN assign a ON a.cell = p.cell
                WHERE a.vec_id <> p.query_id
            ),
            ranked AS (
                SELECT query_id, cid AS neighbor_id, cos_raw,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos_raw DESC, cid ASC
                       ) AS rnk
                FROM scored
            )
            SELECT query_id, neighbor_id,
                   (floor((cos_raw) * 10000.0 + 0.5) / 10000.0) AS cos,
                   CAST(rnk AS int) AS rank
            FROM ranked WHERE rnk <= 10
            ORDER BY query_id, rank
        """,
        "ann_lsh_topk": f"""
            WITH planes AS (
                SELECT * FROM (VALUES {_planes_values(8, 4, 64)}) t(tbl, p, pv)
            ),
            corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            sigs AS ({_SIG_SQL}),
            qprobe AS (
                SELECT vec_id, tbl,
                       unnest([sig] || [
                           xor(sig, CAST(1 << i AS BIGINT))
                           for i in range(0, 4)
                       ]) AS sig
                FROM sigs WHERE vec_id < 5
            ),
            cands AS (
                SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS cid
                FROM qprobe q JOIN sigs s
                  ON q.tbl = s.tbl AND q.sig = s.sig
                WHERE s.vec_id <> q.vec_id
            ),
            ranked AS (
                SELECT c.query_id, c.cid AS neighbor_id,
                       list_dot_product(q.e, v.e) /
                       (sqrt(list_dot_product(q.e, q.e))
                        * sqrt(list_dot_product(v.e, v.e))) AS cos_raw,
                       row_number() OVER (
                           PARTITION BY c.query_id
                           ORDER BY list_dot_product(q.e, v.e) /
                                    (sqrt(list_dot_product(q.e, q.e))
                                     * sqrt(list_dot_product(v.e, v.e))) DESC,
                                    c.cid ASC
                       ) AS rnk
                FROM cands c
                JOIN corpus q ON q.vec_id = c.query_id
                JOIN corpus v ON v.vec_id = c.cid
            )
            SELECT query_id, neighbor_id,
                   (floor((cos_raw) * 10000.0 + 0.5) / 10000.0) AS cos,
                   CAST(rnk AS int) AS rank
            FROM ranked WHERE rnk <= 10
            ORDER BY query_id, rank
        """,
        "dedup_semantic_clustered": f"""
            WITH cents AS (
                SELECT * FROM (VALUES {_cents_values(16, 64)}) t(cid, cv)
            ),
            corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            assign AS (
                SELECT vec_id, cell FROM (
                    SELECT c.vec_id, k.cid AS cell,
                           row_number() OVER (
                               PARTITION BY c.vec_id
                               ORDER BY list_dot_product(c.e, k.cv) DESC,
                                        k.cid ASC
                           ) AS rn
                    FROM corpus c CROSS JOIN cents k
                ) WHERE rn <= 2
            ),
            pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assign a JOIN assign b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
            ),
            scored AS (
                SELECT p.id_a, p.id_b,
                       (floor((
                           list_dot_product(x.e, y.e) /
                           (sqrt(list_dot_product(x.e, x.e))
                            * sqrt(list_dot_product(y.e, y.e)))
                       ) * 10000.0 + 0.5) / 10000.0) AS cos
                FROM pairs p
                JOIN corpus x ON x.vec_id = p.id_a
                JOIN corpus y ON y.vec_id = p.id_b
            )
            SELECT id_a, id_b, cos FROM scored
            WHERE cos >= 0.3
            ORDER BY id_a, id_b
        """,
        # auto-path twins (r10): the SAME pipelines with the plane /
        # cell counts the operators' 'auto' defaults derive from the
        # oracle corpus's row count, interpolated as static banks —
        # a green row proves the default auto sizing changes
        # recall/output not at all vs the committed fixed literals
        "dedup_embedding_cosine_auto": f"""
            WITH planes AS (
                SELECT * FROM (VALUES {_planes_values(
                    8, _auto_planes(_oracle_embeddings_rows()), 64)})
                    t(tbl, p, pv)
            ),
            corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            sigs AS ({_SIG_SQL}),
            pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sigs a JOIN sigs b
                  ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
            ),
            scored AS (
                SELECT p.id_a, p.id_b,
                       (floor((
                           list_dot_product(x.e, y.e) /
                           (sqrt(list_dot_product(x.e, x.e))
                            * sqrt(list_dot_product(y.e, y.e)))
                       ) * 10000.0 + 0.5) / 10000.0) AS cos
                FROM pairs p
                JOIN corpus x ON x.vec_id = p.id_a
                JOIN corpus y ON y.vec_id = p.id_b
            )
            SELECT id_a, id_b, cos FROM scored
            WHERE cos >= 0.3
            ORDER BY id_a, id_b
        """,
        "dedup_semantic_auto": f"""
            WITH cents AS (
                SELECT * FROM (VALUES {_cents_values(
                    _auto_cells(_oracle_embeddings_rows()), 64)}) t(cid, cv)
            ),
            corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            assign AS (
                SELECT vec_id, cell FROM (
                    SELECT c.vec_id, k.cid AS cell,
                           row_number() OVER (
                               PARTITION BY c.vec_id
                               ORDER BY list_dot_product(c.e, k.cv) DESC,
                                        k.cid ASC
                           ) AS rn
                    FROM corpus c CROSS JOIN cents k
                ) WHERE rn <= 2
            ),
            pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assign a JOIN assign b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
            ),
            scored AS (
                SELECT p.id_a, p.id_b,
                       (floor((
                           list_dot_product(x.e, y.e) /
                           (sqrt(list_dot_product(x.e, x.e))
                            * sqrt(list_dot_product(y.e, y.e)))
                       ) * 10000.0 + 0.5) / 10000.0) AS cos
                FROM pairs p
                JOIN corpus x ON x.vec_id = p.id_a
                JOIN corpus y ON y.vec_id = p.id_b
            )
            SELECT id_a, id_b, cos FROM scored
            WHERE cos >= 0.3
            ORDER BY id_a, id_b
        """,
        "dedup_embedding_cosine_blocked": f"""
            WITH planes AS (
                SELECT * FROM (VALUES {_planes_values(8, 4, 64)}) t(tbl, p, pv)
            ),
            corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            sigs AS ({_SIG_SQL}),
            pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sigs a JOIN sigs b
                  ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
            ),
            scored AS (
                SELECT p.id_a, p.id_b,
                       (floor((
                           list_dot_product(x.e, y.e) /
                           (sqrt(list_dot_product(x.e, x.e))
                            * sqrt(list_dot_product(y.e, y.e)))
                       ) * 10000.0 + 0.5) / 10000.0) AS cos
                FROM pairs p
                JOIN corpus x ON x.vec_id = p.id_a
                JOIN corpus y ON y.vec_id = p.id_b
            )
            SELECT id_a, id_b, cos FROM scored
            WHERE cos >= 0.3
            ORDER BY id_a, id_b
        """,
        "multimodal_feature_knn": """
            WITH f AS (
                SELECT doc_id AS media_id,
                       [ (('0x' || substr(sha256(text), 9 + 4*i, 4))::INT
                          / 65535.0)::FLOAT::DOUBLE
                         for i in range(0, 8) ] AS feature
                FROM documents
            ),
            q AS (
                SELECT media_id AS query_id, feature AS qv
                FROM f WHERE media_id < 3
            ),
            scored AS (
                SELECT query_id, f.media_id AS cid,
                       list_dot_product(qv, feature) /
                       (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(feature, feature))) AS cos_raw
                FROM q CROSS JOIN f
                WHERE f.media_id <> query_id
            ),
            ranked AS (
                SELECT query_id, cid AS neighbor_id, cos_raw,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cos_raw DESC, cid ASC
                       ) AS rnk
                FROM scored
            )
            SELECT query_id, neighbor_id,
                   (floor((cos_raw) * 10000.0 + 0.5) / 10000.0) AS cos,
                   CAST(rnk AS int) AS rank
            FROM ranked WHERE rnk <= 5
            ORDER BY query_id, rank
        """,
        # rows-only (genuinely engine-sketch dependent):
        #   sketch_event_stats (HLL/KLL internals)
        "line_dedup_docs": """
            WITH lines AS (
                SELECT doc_id, unnest(range(len(lines))) AS pos,
                       unnest(lines) AS line
                FROM (SELECT doc_id,
                        list_transform(
                            range(0, CAST(ceil(len(ws)/10.0) AS BIGINT)),
                            k -> array_to_string(ws[k*10+1:k*10+10], ' ')
                        ) AS lines
                      FROM (SELECT doc_id, string_split(text, ' ') AS ws
                            FROM documents))
            ), first AS (
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id, pos, line,
                           row_number() OVER (PARTITION BY md5(line)
                               ORDER BY doc_id, pos) AS rn
                    FROM lines) WHERE rn = 1
            ), kept AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS text_dedup
                FROM first GROUP BY doc_id
            )
            SELECT t.doc_id, t.n_lines,
                   coalesce(k.n_kept, 0) AS n_kept,
                   coalesce(k.text_dedup, '') AS text_dedup
            FROM (SELECT doc_id, count(*) AS n_lines
                  FROM lines GROUP BY doc_id) t
            LEFT JOIN kept k USING (doc_id)
            ORDER BY doc_id
        """,
        "chunk_text_windows": """
            SELECT doc_id, chunk_id,
                   chunk_id*80 + 1 AS begin_char,
                   least(chunk_id*80 + 120, length(text)) AS end_char,
                   substr(text, chunk_id*80 + 1, 120) AS chunk
            FROM (SELECT doc_id, text,
                    unnest(range(0, greatest(1,
                        CAST(ceil((length(text)-120)/80.0) AS BIGINT) + 1)
                    )) AS chunk_id
                  FROM documents)
            ORDER BY doc_id, chunk_id
        """,
        "pack_training_sequences": """
            WITH base AS (
                SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM documents
            ), offs AS (
                SELECT *, CAST(coalesce(sum(n_tok) OVER (
                        PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS strt
                FROM base
            ), ex AS (
                SELECT doc_id, shard, n_tok, strt,
                       unnest(range(strt // 256,
                                    (strt + n_tok - 1) // 256 + 1)) AS seq_id
                FROM offs
            )
            SELECT doc_id, shard, seq_id, n_tok,
                   greatest(seq_id * 256 - strt, 0) AS begin_tok,
                   least((seq_id + 1) * 256, strt + n_tok) - strt AS end_tok
            FROM ex
            ORDER BY doc_id, shard, seq_id
        """,
        "overlap_shipment_pairs": """
            WITH li AS (
                SELECT l_orderkey * 10 + l_linenumber AS li_id,
                       l_suppkey, l_partkey,
                       l_shipdate::DATE AS lo,
                       l_shipdate::DATE + (l_quantity::INT % 20) AS hi
                FROM lineitem
            )
            SELECT a.li_id AS id_a, b.li_id AS id_b,
                   a.l_suppkey, a.l_partkey,
                   (date_diff('day',
                              greatest(a.lo, b.lo),
                              least(a.hi, b.hi))
                    + 1)::BIGINT AS overlap_days
            FROM li a
            JOIN li b
              ON a.l_suppkey = b.l_suppkey
             AND a.l_partkey = b.l_partkey
             AND a.li_id < b.li_id
            WHERE a.lo <= b.hi AND b.lo <= a.hi
            ORDER BY id_a, id_b
        """,
        "token_entropy_scores": """
            WITH toks AS (
                SELECT doc_id, tok
                FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)),
                                                     '\\s+')) AS tok
                    FROM documents
                )
                WHERE len(tok) > 0
            ),
            tf AS (
                SELECT doc_id, tok, count(*) AS c
                FROM toks GROUP BY doc_id, tok
            ),
            per_doc AS (
                SELECT doc_id,
                       sum(c)::BIGINT AS n,
                       count(*) AS n_distinct,
                       sum(c::DOUBLE * ln(c::DOUBLE)) AS slc
                FROM tf GROUP BY doc_id
            )
            SELECT doc_id, n AS n_tokens, n_distinct,
                   floor((ln(n::DOUBLE) - slc / n::DOUBLE)
                         * 10000.0 + 0.5) / 10000.0 AS entropy_nats
            FROM per_doc
            ORDER BY doc_id
        """,
        "rolling_1h_user_value": """
            SELECT user_id, event_id, ts,
                   floor((sum(value) OVER w) * 10000.0 + 0.5) / 10000.0
                       AS roll_sum_1h,
                   count(*) OVER w AS n_1h
            FROM events
            WINDOW w AS (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
            )
            ORDER BY user_id, event_id
        """,
        "fuzzy_name_pairs": """
            WITH n AS (SELECT c_custkey AS id, c_name AS name FROM customer)
            SELECT a.id AS id_a, b.id AS id_b,
                   a.name AS name_a, b.name AS name_b,
                   levenshtein(a.name, b.name) AS dist
            FROM n a JOIN n b ON a.id < b.id
            WHERE levenshtein(a.name, b.name) <= 1
            ORDER BY id_a, id_b
        """,
        "rollup_incremental_user_stats": """
            SELECT user_id,
                   (floor((sum(value)) * 10000.0 + 0.5) / 10000.0) AS total_value,
                   count(value) AS n_events,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   (floor((CASE WHEN count(value) > 0
                                THEN (floor((sum(value)) * 10000.0 + 0.5) / 10000.0)
                                     / count(value) END)
                          * 10000.0 + 0.5) / 10000.0) AS avg_value
            FROM events
            GROUP BY user_id
            ORDER BY user_id
        """,
        "rollup_incremental_user_variance": """
            SELECT user_id,
                   (floor((sum(value)) * 10000.0 + 0.5) / 10000.0) AS sum_value,
                   count(value) AS n_events,
                   (floor((CASE WHEN count(value) > 0 THEN
                       (floor((sum(value * value)) * 10000.0 + 0.5) / 10000.0)
                           / count(value)
                       - ((floor((sum(value)) * 10000.0 + 0.5) / 10000.0)
                           / count(value))
                         * ((floor((sum(value)) * 10000.0 + 0.5) / 10000.0)
                           / count(value)) END)
                          * 10000.0 + 0.5) / 10000.0) AS var_value
            FROM events
            GROUP BY user_id
            ORDER BY user_id
        """,
        "spatial_near_customers": """
            WITH pts AS (
                SELECT c_custkey AS id,
                       41.6 + (('0x' || substr(md5('lat:' || c_custkey), 1, 15))::BIGINT
                               % 100000) / 100000.0 * 0.5 AS lat,
                       -87.9 + (('0x' || substr(md5('lon:' || c_custkey), 1, 15))::BIGINT
                               % 100000) / 100000.0 * 0.4 AS lon
                FROM customer
            )
            SELECT id_a, id_b, dist_km FROM (
                SELECT a.id AS id_a, b.id AS id_b,
                       floor((12742.0176 * asin(sqrt(
                           sin(radians(b.lat - a.lat) / 2)
                             * sin(radians(b.lat - a.lat) / 2)
                           + cos(radians(a.lat)) * cos(radians(b.lat))
                             * sin(radians(b.lon - a.lon) / 2)
                             * sin(radians(b.lon - a.lon) / 2)
                       ))) * 10000.0 + 0.5) / 10000.0 AS dist_km
                FROM pts a JOIN pts b ON a.id < b.id
            ) WHERE dist_km <= 1.0
            ORDER BY id_a, id_b
        """,
        "unigram_logprob_scores": """
            WITH toks AS (
                SELECT doc_id, tok
                FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)),
                                                     '\\s+')) AS tok
                    FROM documents
                )
                WHERE len(tok) > 0
            ),
            vocab AS (
                SELECT tok, count(*) AS tf FROM toks GROUP BY tok
            ),
            total AS (SELECT sum(tf) AS n FROM vocab)
            SELECT t.doc_id,
                   count(*) AS n_tokens,
                   floor(avg(ln(v.tf::DOUBLE / total.n::DOUBLE))
                         * 10000.0 + 0.5) / 10000.0 AS avg_logprob
            FROM toks t
            JOIN vocab v USING (tok)
            CROSS JOIN total
            GROUP BY t.doc_id
            ORDER BY t.doc_id
        """,
        # CCNet head/middle/tail (plans/extensions.perplexity_buckets_docs
        # + operators/curation.fluency_buckets): the unigram-LM score CTE
        # replayed verbatim, then the SAME integer-rank histogram
        # terciles — strictly-better cumulative count vs ceil(n*i/3)
        # boundaries, ties share the best qualifying bucket; exact
        # integer arithmetic so no quantile-interpolation drift.
        "perplexity_buckets_docs": """
            WITH toks AS (
                SELECT doc_id, tok
                FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)),
                                                     '\\s+')) AS tok
                    FROM documents
                )
                WHERE len(tok) > 0
            ),
            vocab AS (
                SELECT tok, count(*) AS tf FROM toks GROUP BY tok
            ),
            total AS (SELECT sum(tf) AS n FROM vocab),
            scored AS (
                SELECT t.doc_id,
                       floor(avg(ln(v.tf::DOUBLE / total.n::DOUBLE))
                             * 10000.0 + 0.5) / 10000.0 AS avg_logprob
                FROM toks t
                JOIN vocab v USING (tok)
                CROSS JOIN total
                GROUP BY t.doc_id
            ),
            sl AS (
                SELECT s.doc_id, d.lang, s.avg_logprob
                FROM scored s JOIN documents d USING (doc_id)
            ),
            hist AS (
                SELECT lang, avg_logprob, count(*) AS cnt
                FROM sl GROUP BY lang, avg_logprob
            ),
            ranked AS (
                SELECT lang, avg_logprob,
                       coalesce(SUM(cnt) OVER (
                           PARTITION BY lang ORDER BY avg_logprob DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS gt,
                       SUM(cnt) OVER (PARTITION BY lang) AS n
                FROM hist
            ),
            buck AS (
                SELECT lang, avg_logprob,
                       CASE WHEN gt >= CAST(floor((n * 2 + 2) / 3)
                                            AS BIGINT) THEN 'tail'
                            WHEN gt >= CAST(floor((n * 1 + 2) / 3)
                                            AS BIGINT) THEN 'middle'
                            ELSE 'head' END AS bucket
                FROM ranked
            )
            SELECT sl.doc_id, sl.lang, sl.avg_logprob, b.bucket
            FROM sl JOIN buck b USING (lang, avg_logprob)
            ORDER BY sl.doc_id
        """,
        "funnel_user_steps": """
            WITH v AS (
                SELECT user_id, min(ts) AS v_ts FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ),
            c AS (
                SELECT e.user_id, min(e.ts) AS c_ts
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click' AND e.ts > v.v_ts
                GROUP BY e.user_id
            ),
            p AS (
                SELECT e.user_id, min(e.ts) AS p_ts
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
                GROUP BY e.user_id
            )
            SELECT step, users FROM (
                SELECT '1_view' AS step, count(*) AS users FROM v
                UNION ALL SELECT '2_click', count(*) FROM c
                UNION ALL SELECT '3_purchase', count(*) FROM p
            ) ORDER BY step
        """,
        "readability_scores": """
            WITH counts AS (
                SELECT doc_id,
                       CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_words,
                       greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                           AS n_sentences,
                       len(regexp_extract_all(lower(text), '[aeiouy]+'))
                           AS n_syllables
                FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   floor((206.835
                          - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                          - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE))
                         * 1000.0 + 0.5) / 1000.0 AS flesch
            FROM counts
            WHERE n_words > 0
            ORDER BY doc_id
        """,
        "dq_orders_suite": """
            SELECT check_name, violations, violations = 0 AS passed FROM (
                SELECT 'not_null:o_custkey' AS check_name,
                       count(*) FILTER (WHERE o_custkey IS NULL) AS violations
                FROM orders
                UNION ALL
                SELECT 'unique:o_orderkey',
                       count(*) - count(DISTINCT o_orderkey) FROM orders
                UNION ALL
                SELECT 'in_range:o_totalprice',
                       count(*) FILTER (WHERE o_totalprice IS NOT NULL
                           AND (o_totalprice < 0 OR o_totalprice > 400000))
                FROM orders
                UNION ALL
                SELECT 'accepted_values:o_orderstatus',
                       count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                           AND o_orderstatus NOT IN ('O','F','P'))
                FROM orders
                UNION ALL
                SELECT 'matches_regex:o_orderpriority',
                       count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                           AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'))
                FROM orders
                UNION ALL
                SELECT 'satisfies:date_in_epoch',
                       count(*) FILTER (WHERE NOT coalesce(
                           o_orderdate >= DATE '1992-01-01', FALSE))
                FROM orders
                UNION ALL
                SELECT 'referential:o_custkey->c_custkey',
                       count(*) FILTER (WHERE o_custkey IS NOT NULL
                           AND o_custkey NOT IN (SELECT c_custkey FROM customer))
                FROM orders
            ) ORDER BY check_name
        """,
        "dq_documents_suite": """
            SELECT check_name, violations, violations = 0 AS passed FROM (
                SELECT 'unique:doc_id' AS check_name,
                       count(*) - count(DISTINCT doc_id) AS violations
                FROM documents
                UNION ALL
                SELECT 'not_null:text',
                       count(*) FILTER (WHERE text IS NULL) FROM documents
                UNION ALL
                SELECT 'satisfies:n_chars_consistent',
                       count(*) FILTER (WHERE NOT coalesce(
                           n_chars = length(text), FALSE))
                FROM documents
                UNION ALL
                SELECT 'accepted_values:lang',
                       count(*) FILTER (WHERE lang IS NOT NULL
                           AND lang NOT IN ('en','de','es','fr'))
                FROM documents
                UNION ALL
                SELECT 'matches_regex:source',
                       count(*) FILTER (WHERE source IS NOT NULL
                           AND NOT regexp_matches(source, '^src[0-9]+$'))
                FROM documents
            ) ORDER BY check_name
        """,
        "histogram_order_values": """
            SELECT o_orderstatus,
                   CAST(least(19, greatest(0,
                       floor((o_totalprice - 0.0) / 20000.0))) AS INT)
                       AS bin,
                   count(*) AS n,
                   (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0)
                       AS sum_price
            FROM orders
            GROUP BY 1, 2
            ORDER BY o_orderstatus, bin
        """,
        "recursive_org_depth": """
            WITH RECURSIVE chain(custkey, depth) AS (
                SELECT c_custkey::BIGINT, 0
                FROM customer WHERE c_custkey = 0
                UNION ALL
                SELECT c.c_custkey, ch.depth + 1
                FROM customer c JOIN chain ch
                  ON (c.c_custkey // 10) = ch.custkey
                WHERE c.c_custkey > 0
            )
            SELECT custkey, depth FROM chain ORDER BY custkey
        """,
        "band_join_order_tiers": """
            WITH tiers(tier, lo, hi) AS (VALUES
                ('bronze', 0.0, 50000.0),
                ('silver', 50000.0, 150000.0),
                ('gold', 150000.0, 300000.0),
                ('platinum', 300000.0, 1e18))
            SELECT tier,
                   count(*) AS n_orders,
                   (floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0)
                       AS sum_price
            FROM orders JOIN tiers
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY tier
            ORDER BY tier
        """,
        "order_percentile_ranks": """
            SELECT o_custkey, o_orderkey,
                   (floor(o_totalprice * 100.0 + 0.5) / 100.0) AS price,
                   (floor(percent_rank() OVER w * 10000.0 + 0.5) / 10000.0)
                       AS pct_rank,
                   (floor(cume_dist() OVER w * 10000.0 + 0.5) / 10000.0)
                       AS cume
            FROM orders
            WHERE o_custkey < 100
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_custkey, o_orderkey
        """,
        "semi_join_fast_parts": """
            SELECT p_partkey, p_name, p_size
            FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_partkey = p.p_partkey
                            AND l.l_quantity >= 45)
            ORDER BY p_partkey
        """,
        "unpivot_part_metrics": """
            SELECT p_partkey, metric, value FROM (
                SELECT p_partkey, 'p_size' AS metric,
                       p_size::DOUBLE AS value FROM part
                UNION ALL
                SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
            ) ORDER BY p_partkey, metric
        """,
        "repetition_top_bigram": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS ts
                FROM documents
            ),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(ts)),
                           i -> ts[i] || ' ' || ts[i + 1])) AS bg
                FROM toks
                WHERE len(ts) >= 2
            ),
            per_bg AS (
                SELECT doc_id, bg, count(*) AS c
                FROM bg GROUP BY doc_id, bg
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   max(c) AS top_count,
                   (floor((max(c)::DOUBLE / sum(c)) * 10000.0 + 0.5)
                    / 10000.0) AS top_frac
            FROM per_bg
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        "pii_redact_names": """
            SELECT c_custkey,
                   regexp_replace(c_name, '[0-9]+', '<NUM>', 'g') AS redacted,
                   len(regexp_extract_all(c_name, '[0-9]+')) AS n_runs,
                   length(c_name)
                     - length(regexp_replace(c_name, '[0-9]', '', 'g'))
                     AS digits_removed
            FROM customer
            ORDER BY c_custkey
        """,
        # webcrawl canonicalizer: six string rules, RE2-replayed; the
        # messy-URL fixture is the shared deterministic construction
        "url_canonicalize": f"""
            WITH urls AS (
                SELECT doc_id, {_MESSY_URL} AS url FROM documents
            ),
            {_URL_CANON_CTES}
            SELECT doc_id, url, canon_url, host, domain
            FROM withdomain
            ORDER BY doc_id
        """,
        "host_quality_stats": f"""
            WITH urls AS (
                SELECT doc_id, n_chars, {_MESSY_URL} AS url
                FROM documents
            ),
            {_URL_CANON_CTES}
            SELECT domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   (floor((avg(n_chars)) * 10000.0 + 0.5) / 10000.0)
                       AS mean_chars,
                   (floor((avg(CASE WHEN n_chars < 200
                                    THEN 1.0 ELSE 0.0 END))
                          * 10000.0 + 0.5) / 10000.0)
                       AS short_doc_share
            FROM withdomain
            GROUP BY domain
            ORDER BY domain
        """,
        # WARC roundtrip: the oracle computes the same per-doc columns
        # straight from documents — content_length is the fixed HTTP
        # header block (44 octets) + the UTF-8 octet length of the
        # html wrap; extracted replays the html_extract_text chain
        # (tags -> space, entities, explicit-class whitespace
        # collapse). A leaked corrupt row or any parse drift breaks
        # the hash.
        "warc_extract_stats": f"""
            WITH wrapped AS (
                SELECT doc_id,
                       '<html><body><p>' || text ||
                       '</p></body></html>' AS html
                FROM documents
            ),
            stripped AS (
                SELECT doc_id, html,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(html,
                               '(?is)<script\\b[^>]*>.*?</script>', ' ',
                               'g'),
                           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                           '<[^>]*>', ' ', 'g') AS t0
                FROM wrapped
            ),
            {_entity_decode_ctes("stripped", "t0", "doc_id, html")}
            SELECT doc_id,
                   CAST(200 AS INTEGER) AS http_status,
                   CAST(44 + octet_length(encode(html)) AS BIGINT)
                       AS content_length,
                   trim(regexp_replace(t, '__WS_RE__', ' ', 'g'))
                       AS extracted,
                   CAST(length(trim(regexp_replace(t, '__WS_RE__',
                                                   ' ', 'g')))
                        AS BIGINT) AS n_chars_extracted
            FROM entdec
            ORDER BY doc_id
        """.replace("__WS_RE__", _WC.WS_RE),
        # the IDENTICAL linear model (md5 buckets, literal weights,
        # left-fold mean-pool) replayed over the same tokenization;
        # weights/bias AND the whitespace class interpolated from the
        # module constants so the two sides cannot drift (RE2's \\s
        # excludes \\x0B; Java's includes it — the explicit class is
        # the shared dialect, same discipline as html_extract_text)
        "quality_classifier_scores": f"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(trim(lower(text)),
                                              '{_CLF.WS_RE}'),
                           t -> len(t) > 0) AS tk
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       len(tk) AS n_tokens,
                       CASE WHEN len(tk) = 0
                            THEN ({_CLF.QUALITY_CLF_BIAS})::DOUBLE
                            ELSE ({_CLF.QUALITY_CLF_BIAS})::DOUBLE
                                 + list_sum(list_transform(tk,
                                     t -> ([{", ".join(str(w) for w in _CLF.QUALITY_CLF_WEIGHTS)}]::DOUBLE[])[
                                          CAST(('0x' || substr(md5(t), 1, 15))::BIGINT
                                               % {_CLF.N_BUCKETS} AS INTEGER) + 1]))
                                 / CAST(len(tk) AS DOUBLE)
                       END AS lg
                FROM toks
            )
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   floor(lg * 10000.0 + 0.5) / 10000.0 AS logit,
                   CASE WHEN lg >= 0 THEN 1 ELSE 0 END AS keep
            FROM s
            ORDER BY doc_id
        """,
        # same HTML fixture, same href regex (interpolated constant),
        # same canon chain on the hrefs; the page URL is clean
        # lowercase by construction so src_domain == constructed host
        "host_link_graph": f"""
            WITH {_host_graph_ctes()}
            SELECT src_domain, domain AS dst_domain,
                   CAST(count(*) AS BIGINT) AS n_links
            FROM withdomain
            WHERE src_domain <> domain
            GROUP BY src_domain, domain
            ORDER BY src_domain, dst_domain
        """,
        # aggregate of the parquet ORIGINAL — a green row proves the
        # ORC write->read roundtrip lossless (60-bit md5 XOR covers
        # full text content, order-independent)
        # avro OCF roundtrip: same original-table aggregate as orc
        "avro_roundtrip_stats": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT)
                       AS text_checksum_xor
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        "orc_roundtrip_stats": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT)
                       AS text_checksum_xor
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        # same generated plant + generated pair-table replace chain
        "mojibake_repair_docs": f"""
            WITH raw AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 2 = 0
                               THEN '{_TX._mojibake_form(" café “quoted”")}'
                               ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN '{_TX._mojibake_form(" don’t — dashes… über")}'
                               ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' naïve déjà-vu' ELSE '' END AS _raw
                FROM documents
            )
            SELECT doc_id,
                   {_mojibake_repair_sql("_raw")} AS repaired,
                   CAST(length(_raw)
                        - length({_mojibake_repair_sql("_raw")}) AS BIGINT)
                       AS chars_recovered
            FROM raw
            ORDER BY doc_id
        """,
        # same plant + interpolated lexicon; whole-token matching via
        # the normalized split (near-miss words must not count)
        "lexicon_filter_docs": f"""
            WITH raw AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' jackpot casino night'
                               ELSE '' END
                       || CASE WHEN doc_id % 10 = 0
                               THEN ' FREE giveaway!' ELSE '' END
                       || CASE WHEN doc_id % 15 = 0
                               THEN ' scamper spammy' ELSE '' END
                           AS _raw
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       CAST(len(list_filter(
                           string_split({_NORM.format(c='_raw')}, ' '),
                           t -> t IN ({", ".join(
                               f"'{w}'" for w in _TX.FILTER_LEXICON
                           )}))) AS BIGINT) AS n_lexicon_hits
                FROM raw
            )
            SELECT doc_id, n_lexicon_hits,
                   n_lexicon_hits > 0 AS flagged
            FROM h
            ORDER BY doc_id
        """,
        # per-domain cap through the shared canon CTEs; lowest-id
        # keepers via row_number, narrow (id, domain) output
        "cap_docs_per_host": f"""
            WITH urls AS (
                SELECT doc_id, {_MESSY_URL} AS url FROM documents
            ),
            {_URL_CANON_CTES},
            ranked AS (
                SELECT doc_id, domain,
                       CAST(row_number() OVER (
                           PARTITION BY domain ORDER BY doc_id
                       ) AS BIGINT) AS rank_in_host
                FROM withdomain
            )
            SELECT doc_id, domain, rank_in_host
            FROM ranked WHERE rank_in_host <= 5
            ORDER BY domain, rank_in_host
        """,
        # union-slice positions computed directly — a green row proves
        # mask(A)|mask(B) == mask(A∪B) end-to-end through the verdicts
        "bloom_incremental_union": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 4, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 4, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            bp AS (
                SELECT DISTINCT
                       (('0x' || substr(md5('b' || g.i || ':' || u.s1),
                                        1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p
                FROM (SELECT unnest(sh) AS s1 FROM s WHERE doc_id % 89 = 0) u
                CROSS JOIN generate_series(0, {_CUR.BLOOM_K - 1}) g(i)
            ),
            dh AS (
                SELECT doc_id,
                       (('0x' || substr(md5('b0:' || s1), 1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p0,
                       (('0x' || substr(md5('b1:' || s1), 1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p1,
                       (('0x' || substr(md5('b2:' || s1), 1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p2
                FROM (
                    SELECT doc_id, unnest(sh) AS s1 FROM s
                    WHERE doc_id % 89 <> 0
                ) u
            ),
            tot AS (
                SELECT doc_id, count(*) AS n_shingles FROM dh GROUP BY doc_id
            ),
            hit AS (
                SELECT doc_id, count(*) AS n_bloom_hits FROM dh
                WHERE p0 IN (SELECT p FROM bp)
                  AND p1 IN (SELECT p FROM bp)
                  AND p2 IN (SELECT p FROM bp)
                GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(t.n_shingles AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_bloom_hits, 0) AS BIGINT)
                       AS n_bloom_hits,
                   coalesce(h.n_bloom_hits, 0) > 0 AS flagged
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id
        """,
        # per-micro-batch PSI vs the frozen day-1-10 reference; ref
        # bins expanded to both batches, then the identical eps-
        # floored PSI formula as the batch drift oracle
        "streaming_drift_replay": """
            WITH base AS (
                SELECT event_type, value, CAST(ts AS DATE) AS d
                FROM events
            ),
            refh AS (
                SELECT event_type,
                       least(greatest(CAST(floor((value - 0.0) / 20.0)
                                           AS INT), 0), 31) AS bin,
                       count(*) AS rc
                FROM base WHERE d < DATE '2024-01-11'
                GROUP BY 1, 2
            ),
            curh AS (
                SELECT CASE WHEN d < DATE '2024-01-21' THEN 0 ELSE 1
                       END AS batch_id,
                       event_type,
                       least(greatest(CAST(floor((value - 0.0) / 20.0)
                                           AS INT), 0), 31) AS bin,
                       count(*) AS cc
                FROM base WHERE d >= DATE '2024-01-11'
                GROUP BY 1, 2, 3
            ),
            refx AS (
                SELECT b.batch_id, r.event_type, r.bin, r.rc
                FROM refh r CROSS JOIN (VALUES (0), (1)) b(batch_id)
            ),
            cells AS (
                SELECT coalesce(x.batch_id, c.batch_id) AS batch_id,
                       coalesce(x.event_type, c.event_type)
                           AS event_type,
                       coalesce(x.rc, 0) AS rc,
                       coalesce(c.cc, 0) AS cc
                FROM refx x FULL JOIN curh c
                  ON x.batch_id = c.batch_id
                 AND x.event_type = c.event_type
                 AND x.bin = c.bin
            ),
            tot AS (
                SELECT batch_id, event_type,
                       sum(rc) AS rn, sum(cc) AS cn
                FROM cells GROUP BY 1, 2
            )
            SELECT c.batch_id,
                   c.event_type AS grp,
                   CAST(max(t.rn) AS BIGINT) AS n_ref,
                   CAST(max(t.cn) AS BIGINT) AS n_cur,
                   (floor((sum(
                       (greatest(CAST(c.cc AS DOUBLE) / CAST(t.cn AS DOUBLE), 1e-06)
                        - greatest(CAST(c.rc AS DOUBLE) / CAST(t.rn AS DOUBLE), 1e-06))
                       * ln(greatest(CAST(c.cc AS DOUBLE) / CAST(t.cn AS DOUBLE), 1e-06)
                            / greatest(CAST(c.rc AS DOUBLE) / CAST(t.rn AS DOUBLE), 1e-06))
                   )) * 10000.0 + 0.5) / 10000.0) AS psi
            FROM cells c
            JOIN tot t ON c.batch_id = t.batch_id
                      AND c.event_type = t.event_type
            WHERE t.rn > 0 AND t.cn > 0
            GROUP BY c.batch_id, c.event_type
            ORDER BY c.batch_id, grp
        """,
        # top-1000 tokens by (freq desc, token) -> total-ordered
        # ranks -> ln-ln OLS via the engine regression aggregates
        "zipf_fit_tokens": f"""
            WITH tok AS (
                SELECT unnest(string_split({_NORM.format(c='text')}, ' '))
                       AS token
                FROM documents
            ),
            vocab AS (
                SELECT token, count(*) AS freq FROM tok
                WHERE len(token) > 0 GROUP BY token
                ORDER BY freq DESC, token LIMIT 1000
            ),
            ranked AS (
                SELECT ln(CAST(row_number() OVER (
                           ORDER BY freq DESC, token) AS DOUBLE)) AS x,
                       ln(CAST(freq AS DOUBLE)) AS y
                FROM vocab
            )
            SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                   (floor((regr_slope(y, x)) * 10000.0 + 0.5)
                    / 10000.0) AS zipf_slope,
                   (floor((regr_intercept(y, x)) * 10000.0 + 0.5)
                    / 10000.0) AS zipf_intercept,
                   (floor((regr_r2(y, x)) * 10000.0 + 0.5)
                    / 10000.0) AS zipf_r2
            FROM ranked
        """,
        # robots Allow/Disallow rules as interpolated VALUES through
        # the shared canon CTEs; RFC 9309 precedence replayed: rules
        # sorted longest-first with Allow winning equal-length ties,
        # verdict = first match (no match -> not blocked)
        "robots_filter_docs": f"""
            WITH urls AS (
                SELECT doc_id, {_MESSY_URL} AS url FROM documents
            ),
            {_URL_CANON_CTES},
            rules AS (
                SELECT * FROM (VALUES {", ".join(
                    f"('{h}', '{p}', {str(bool(a)).upper()})"
                    for h, p, a in X.ROBOTS_RULES
                )}) AS r(host, prefix, allow)
            ),
            perhost AS (
                SELECT host,
                       list(prefix ORDER BY len(prefix) DESC,
                            allow DESC, prefix) AS prefixes,
                       list(allow ORDER BY len(prefix) DESC,
                            allow DESC, prefix) AS allows
                FROM rules GROUP BY host
            )
            SELECT w.doc_id,
                   w.canon_url,
                   w.host,
                   coalesce(NOT p.allows[
                       list_filter(generate_series(1, len(p.prefixes)),
                           j -> starts_with(regexp_extract(w.canon_url,
                               '^[a-z][a-z0-9+.-]*://[^/?]+(/[^?]*)?',
                               1), p.prefixes[j]))[1]
                   ], FALSE) AS blocked
            FROM withdomain w LEFT JOIN perhost p ON w.host = p.host
            ORDER BY w.doc_id
        """,
        # RFC 9309 wildcards + agent groups: same rule bank with the
        # Python-twin-compiled patterns interpolated, §2.2.1 group
        # replacement (specific group wins per host), longest-rule
        # precedence with Allow ties, PATH+QUERY match target
        "robots_wildcard_docs": f"""
            WITH urls AS (
                SELECT doc_id, {_MESSY_URL} AS url FROM documents
            ),
            {_URL_CANON_CTES},
            rules AS (
                SELECT * FROM (VALUES {_robots_wild_values()})
                    AS r(host, prefix, allow, spec, wild, pattern)
            ),
            hostspec AS (
                SELECT host, max(CASE WHEN spec THEN 1 ELSE 0 END) AS hs
                FROM rules GROUP BY host
            ),
            eff AS (
                SELECT r.* FROM rules r JOIN hostspec h
                    ON r.host = h.host
                WHERE (CASE WHEN r.spec THEN 1 ELSE 0 END) = h.hs
            ),
            perhost AS (
                SELECT host,
                       list(prefix ORDER BY len(prefix) DESC,
                            allow DESC, prefix) AS prefixes,
                       list(allow ORDER BY len(prefix) DESC,
                            allow DESC, prefix) AS allows,
                       list(wild ORDER BY len(prefix) DESC,
                            allow DESC, prefix) AS wilds,
                       list(pattern ORDER BY len(prefix) DESC,
                            allow DESC, prefix) AS patterns
                FROM eff GROUP BY host
            )
            SELECT w.doc_id,
                   w.canon_url,
                   w.host,
                   coalesce(NOT p.allows[
                       list_filter(generate_series(1, len(p.prefixes)),
                           j -> CASE WHEN p.wilds[j]
                                THEN regexp_matches({_ROBOTS_PQ_SQL},
                                     p.patterns[j])
                                ELSE starts_with({_ROBOTS_PQ_SQL},
                                     p.prefixes[j]) END)[1]
                   ], FALSE) AS blocked
            FROM withdomain w LEFT JOIN perhost p ON w.host = p.host
            ORDER BY w.doc_id
        """,
        # fastText-style 14-language ID: generated oracle (see
        # _langid_oracle_sql) — identical trained integer banks,
        # gram set, exact BIGINT folds, argmax with lex tie-break
        "lang_id_classifier_docs": _langid_oracle_sql(),
        # regex sentence segmentation with the interpolated explicit-
        # WS-class boundary; trailing-empty filter and floor-form mean
        # replayed on both sides
        "sentence_stats_docs": f"""
            WITH raw AS (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 4 = 0
                               THEN ' Is this a question? Yes!'
                                    || ' It ends now.'
                               ELSE '' END AS _raw
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split_regex(_raw,
                                   '{_TX.SENT_SPLIT_RE}'),
                               x -> trim(regexp_replace(trim(x),
                                         '[.!?]+$', ''))),
                           x -> len(x) > 0) AS sents
                FROM raw
            ),
            t2 AS (
                SELECT doc_id,
                       CAST(len(sents) AS BIGINT) AS n_sentences,
                       CAST(coalesce(list_sum(list_transform(sents,
                           x -> len(string_split_regex(x,
                               '{_TX._SENT_WS_RE}')))), 0) AS BIGINT)
                           AS total_words,
                       list_max(list_transform(sents, x -> len(x)))
                           AS mx
                FROM s
            )
            SELECT doc_id, n_sentences, total_words,
                   CASE WHEN n_sentences = 0 THEN NULL
                        ELSE floor((CAST(total_words AS DOUBLE)
                                    / CAST(n_sentences AS DOUBLE))
                                   * 10000.0 + 0.5) / 10000.0
                   END AS mean_words_per_sentence,
                   CAST(mx AS BIGINT) AS max_sentence_chars
            FROM t2
            ORDER BY doc_id
        """,
        # anchor (href, text) pairs via the interpolated restricted
        # ANCHOR_RE; same canon CTEs on the href; relative/self
        # anchors excluded, pinned by their labels' terms' absence
        "anchor_text_stats": f"""
            WITH pages AS (
                SELECT doc_id,
                       source || '-' || CAST(doc_id % 7 AS VARCHAR) ||
                       CASE WHEN doc_id % 11 = 0 THEN '.co.uk'
                            ELSE '.com' END AS src_domain,
                       '<html><body>'
                       || '<a href=http://Site'
                       || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
                       || '.COM/p/' || CAST(doc_id AS VARCHAR)
                       || '>Visit site '
                       || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
                       || ' now</a>'
                       || CASE WHEN doc_id % 2 = 0
                               THEN '<a class="l" href=' || chr(39)
                                    || 'HTTPS://WWW.site'
                                    || CAST((doc_id + 2) % 7 AS VARCHAR)
                                    || '.co.uk:443/x?utm_source=z&b=1'
                                    || chr(39) || '>'
                                    || 'Great Resource Hub</a>'
                               ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN '<a href="/about">Relative Only</a>'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN '<a href="http://' || source || '-'
                                    || CAST(doc_id % 7 AS VARCHAR)
                                    || CASE WHEN doc_id % 11 = 0
                                            THEN '.co.uk' ELSE '.com' END
                                    || '/self">Selfish Label</a>'
                               ELSE '' END
                       || '</body></html>' AS html
                FROM documents
            ),
            amatch AS (
                SELECT src_domain,
                       unnest(regexp_extract_all(html,
                           '{_sq(_WC.ANCHOR_RE)}', 0)) AS m
                FROM pages
            ),
            parts AS (
                SELECT src_domain,
                       {_strip_href_quotes_sql(
                           f"regexp_extract(m, '{_sq(_WC.ANCHOR_RE)}', 1)"
                       )} AS url,
                       regexp_extract(m, '{_sq(_WC.ANCHOR_RE)}', 2) AS anchor
                FROM amatch
            ),
            urls AS (
                SELECT * FROM parts
                WHERE regexp_matches(url, '{_WC.ABS_HTTP_RE}')
            ),
            {_URL_CANON_CTES},
            terms AS (
                SELECT domain AS dst_domain,
                       unnest(list_filter(
                           string_split({_NORM.format(c='anchor')}, ' '),
                           t -> len(t) > 0)) AS term
                FROM withdomain
                WHERE src_domain <> domain
            )
            SELECT dst_domain, term, CAST(count(*) AS BIGINT) AS n
            FROM terms GROUP BY dst_domain, term
            ORDER BY n DESC, dst_domain, term
            LIMIT 100
        """,
        # BPE pair counting: vocab aggregate, then adjacent-char pairs
        # weighted by word count; freq-then-pair order is total
        "bpe_merge_candidates": f"""
            WITH wd AS (
                SELECT unnest(string_split({_NORM.format(c='text')}, ' '))
                       AS w
                FROM documents
            ),
            wc AS (
                SELECT w, count(*) AS c FROM wd
                WHERE len(w) >= 2 GROUP BY w
            ),
            pr AS (
                SELECT unnest([substr(w, i, 2)
                               for i in range(1, len(w))]) AS pair,
                       c
                FROM wc
            )
            SELECT pair, CAST(sum(c) AS BIGINT) AS freq
            FROM pr GROUP BY pair
            ORDER BY freq DESC, pair
            LIMIT 50
        """,
        # full BPE training replay: 16 unrolled iterations, generated
        "bpe_merge_table": _bpe_merge_table_sql(16),
        # unigram-LM tokenizer training (r10 verdict item 6): the
        # generated unrolled-CTE twin — see _unigram_vocab_sql
        "unigram_lm_vocab": _unigram_vocab_sql(2),
        # unigram-LM corpus encoding: same trained model + one more
        # unrolled Viterbi pass + the broadcast word-stats doc join
        "unigram_encode_docs": _unigram_encode_sql(2),
        # tokenizer round-trip audit (r11 verdict item 5): generated —
        # unigram reassembly identity + BPE strip-decode compare
        "tokenizer_roundtrip_docs": _unigram_roundtrip_sql(2),
        # tokenizer model export manifest: both trainings replayed as
        # subqueries + the same integer rendering and md5-prefix XOR
        "tokenizer_export_manifest": _tokenizer_export_manifest_sql(),
        # streaming bounded-state dedup replay: stream output must
        # equal the ORIGINAL events (every planted re-delivery
        # suppressed) — per-type counts + order-independent 60-bit
        # md5 XOR of the integer id set
        "streaming_dedup_replay": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   bit_xor(('0x' || substr(md5(
                       CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
                       AS id_xor
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        # script-mix: identical interpolated \x{hhhh} classes (BMP
        # only -> UTF-16-unit == codepoint counts), same argmax order
        "script_mix_docs": f"""
            WITH raw AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' привет мир' ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' 日本語テスト 한국' ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' ελληνικά' ELSE '' END
                       || CASE WHEN doc_id % 13 = 0
                               THEN ' مرحبا' ELSE '' END AS t
                FROM documents
            ),
            c AS (
                SELECT doc_id,
                       {", ".join(
                           f"CAST(len(regexp_extract_all(t, "
                           f"'{pat}')) AS BIGINT) AS n_{name}"
                           for name, pat in _TX.SCRIPT_RANGES.items()
                       )},
                       CAST(len(regexp_extract_all(t,
                           '{_TX.NONSPACE_RE}')) AS BIGINT)
                           AS n_nonspace
                FROM raw
            )
            SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic,
                   n_cjk, n_nonspace,
                   CASE WHEN greatest(n_latin, n_cyrillic, n_greek,
                                      n_arabic, n_cjk) = 0 THEN 'und'
                        WHEN n_latin = greatest(n_latin, n_cyrillic,
                             n_greek, n_arabic, n_cjk) THEN 'latin'
                        WHEN n_cyrillic = greatest(n_latin,
                             n_cyrillic, n_greek, n_arabic, n_cjk)
                             THEN 'cyrillic'
                        WHEN n_greek = greatest(n_latin, n_cyrillic,
                             n_greek, n_arabic, n_cjk) THEN 'greek'
                        WHEN n_arabic = greatest(n_latin, n_cyrillic,
                             n_greek, n_arabic, n_cjk) THEN 'arabic'
                        ELSE 'cjk' END AS script
            FROM c
            ORDER BY doc_id
        """,
        # Luhn card scrub: identical candidate pattern, identical
        # checksum fold, identical split/judge/rebuild
        "pii_card_scrub_docs": f"""
            WITH raw AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' pay 4532015112830366 ok'
                               ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' ref 4532015112830367 id'
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' amex 378282246310005 end'
                               ELSE '' END
                       || CASE WHEN doc_id % 13 = 0
                               THEN ' num 1234567890123 x'
                               ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' order 123456 short'
                               ELSE '' END AS t
                FROM documents
            ),
            sp AS (
                SELECT doc_id,
                       string_split_regex(t, '{_WC.PII_CARD_RE}')
                           AS parts,
                       regexp_extract_all(t, '{_WC.PII_CARD_RE}')
                           AS cands
                FROM raw
            )
            SELECT doc_id,
                   CAST(len(cands) AS BIGINT) AS n_card_candidates,
                   CAST(len(list_filter(cands,
                       c -> {_luhn_sql("c")})) AS BIGINT)
                       AS n_cards_valid,
                   coalesce(list_aggr(list_transform(
                       generate_series(1, len(cands)),
                       j -> parts[j] ||
                            CASE WHEN {_luhn_sql("cands[j]")}
                                 THEN '<CARD>' ELSE cands[j] END),
                       'string_agg', ''), '')
                   || parts[len(parts)] AS scrubbed
            FROM sp
            ORDER BY doc_id
        """,
        # DSIR importance: identical md5 buckets and tokenization
        # (interpolated WS class), identical integer counts +
        # Laplace-smoothed ratios through the same libm ln, floor-4dp
        "dsir_importance_docs": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(trim(lower(text)),
                                              '{_CLF.WS_RE}'),
                           t -> len(t) > 0)) AS tok
                FROM documents
            ),
            bk AS (
                SELECT doc_id,
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64
                           AS b
                FROM toks
            ),
            tc AS (SELECT b, count(*) AS t FROM bk
                   WHERE doc_id % 13 = 0 GROUP BY b),
            rc AS (SELECT b, count(*) AS r FROM bk
                   WHERE doc_id % 13 <> 0 GROUP BY b),
            spine AS (SELECT unnest(generate_series(0, 63)) AS b),
            tot AS (SELECT (SELECT coalesce(sum(t), 0) FROM tc) AS t_,
                           (SELECT coalesce(sum(r), 0) FROM rc) AS r_),
            w AS (
                -- per-bucket weight floor-rounded 4dp BEFORE the
                -- per-doc sum, mirroring dsir_importance: quantized
                -- addends keep the summed score half a quantum from
                -- the final round's decision boundary, so neither
                -- engine's accumulation order can flip it
                SELECT s.b,
                       floor((
                           ln((coalesce(tc.t, 0) + 1)::DOUBLE
                              / (tot.t_ + 64)::DOUBLE)
                         - ln((coalesce(rc.r, 0) + 1)::DOUBLE
                              / (tot.r_ + 64)::DOUBLE)
                       ) * 10000.0 + 0.5) / 10000.0 AS w
                FROM spine s
                LEFT JOIN tc ON s.b = tc.b
                LEFT JOIN rc ON s.b = rc.b
                CROSS JOIN tot
            ),
            sc AS (
                SELECT bk.doc_id,
                       count(*) AS n_tokens,
                       sum(w.w) AS s
                FROM bk JOIN w ON bk.b = w.b
                WHERE bk.doc_id % 13 <> 0
                GROUP BY bk.doc_id
            ),
            fin AS (
                SELECT d.doc_id,
                       CAST(coalesce(sc.n_tokens, 0) AS BIGINT)
                           AS n_tokens,
                       floor(coalesce(sc.s, 0.0) * 10000.0 + 0.5)
                           / 10000.0 AS importance
                FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
                WHERE d.doc_id % 13 <> 0
            )
            SELECT doc_id, n_tokens, importance,
                   CASE WHEN importance > 0 THEN 1 ELSE 0 END
                       AS selected
            FROM fin
            ORDER BY doc_id
        """,
        # BPE encoding: identical boundary encode + the identical 16
        # interpolated replaces, symbol count = count of '<'
        "bpe_encode_docs": f"""
            WITH enc AS (
                SELECT doc_id,
                       length({_NORM.format(c='text')}) AS n_chars_norm,
                       {_bpe_encode_sql(_NORM.format(c='text'))} AS e
                FROM documents
            ),
            cnt AS (
                SELECT doc_id, n_chars_norm,
                       len(e) - len(replace(e, '<', '')) AS n_sym
                FROM enc
            )
            SELECT doc_id,
                   CAST(n_chars_norm AS BIGINT) AS n_chars_norm,
                   CAST(n_sym AS BIGINT) AS n_bpe_symbols,
                   CASE WHEN n_chars_norm > 0
                        THEN floor((CAST(n_sym AS DOUBLE)
                                    / CAST(n_chars_norm AS DOUBLE))
                                   * 10000.0 + 0.5) / 10000.0
                   END AS compression
            FROM cnt
            ORDER BY doc_id
        """,
        # full public-suffix algorithm replay: same fixture hosts,
        # same longest-match over the same three interpolated rule
        # arrays (exact / wildcard-parent / exception), same implicit
        # * default and Allow-style exception override
        "registered_domain_psl_docs": f"""
            WITH hosts AS (
                SELECT CASE
                    WHEN doc_id % 6 = 0 THEN 'www.site'
                         || CAST(doc_id % 7 AS VARCHAR) || '.nsw.edu.au'
                    WHEN doc_id % 6 = 1 THEN 'sub.site'
                         || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
                    WHEN doc_id % 6 = 2 THEN 'a.site'
                         || CAST(doc_id % 7 AS VARCHAR) || '.ck'
                    WHEN doc_id % 6 = 3 THEN 'sub.www.ck'
                    WHEN doc_id % 6 = 4 THEN 'host'
                         || CAST(doc_id % 7 AS VARCHAR) || '.example.zz'
                    ELSE 'www.school'
                         || CAST(doc_id % 7 AS VARCHAR) || '.pvt.k12.ma.us'
                END AS host
                FROM documents
            ),
            lab AS (
                SELECT host, string_split(host, '.') AS labels
                FROM hosts
            ),
            sfx AS (
                SELECT host, labels, len(labels) AS n,
                       [array_to_string(labels[i:], '.')
                        for i in range(1, len(labels) + 1)] AS s
                FROM lab
            ),
            mins AS (
                SELECT host, labels, n,
                       list_min(list_filter(generate_series(1, n),
                           i -> list_contains({_PSL_EXACT_SQL}, s[i])))
                           AS exact_min,
                       list_min(list_filter(generate_series(1, n),
                           i -> i < n AND
                                list_contains({_PSL_WILD_SQL}, s[i+1])))
                           AS wild_min,
                       list_min(list_filter(generate_series(1, n),
                           i -> list_contains({_PSL_EXC_SQL}, s[i])))
                           AS exc_min
                FROM sfx
            ),
            dom AS (
                SELECT array_to_string(
                           labels[greatest(
                               (CASE WHEN exc_min IS NOT NULL
                                     THEN exc_min + 1
                                     ELSE least(coalesce(exact_min, n),
                                                coalesce(wild_min, n),
                                                n) END) - 1, 1):],
                           '.') AS domain
                FROM mins
            )
            SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
            FROM dom GROUP BY domain ORDER BY domain
        """,
        # Bloom geometry interpolated from the module constants; "bit
        # set" <=> position in the distinct benchmark-position set, so
        # the all-k verdicts (false positives included) replay exactly
        "bloom_decontaminate_docs": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split({_NORM.format(c='text')}, ' ') AS wd
                FROM documents
            ),
            s AS (
                SELECT doc_id,
                       list_distinct([
                           array_to_string(wd[i:least(i + 4, len(wd))], ' ')
                           for i in range(1, greatest(len(wd) - 4, 1) + 1)
                       ]) AS sh
                FROM w
            ),
            bp AS (
                SELECT DISTINCT
                       (('0x' || substr(md5('b' || g.i || ':' || u.s1),
                                        1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p
                FROM (SELECT unnest(sh) AS s1 FROM s WHERE doc_id % 97 = 0) u
                CROSS JOIN generate_series(0, {_CUR.BLOOM_K - 1}) g(i)
            ),
            dh AS (
                SELECT doc_id,
                       (('0x' || substr(md5('b0:' || s1), 1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p0,
                       (('0x' || substr(md5('b1:' || s1), 1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p1,
                       (('0x' || substr(md5('b2:' || s1), 1, 15))::BIGINT
                        % {_CUR.BLOOM_M_BITS}) AS p2
                FROM (
                    SELECT doc_id, unnest(sh) AS s1 FROM s
                    WHERE doc_id % 97 <> 0
                ) u
            ),
            tot AS (
                SELECT doc_id, count(*) AS n_shingles FROM dh GROUP BY doc_id
            ),
            hit AS (
                SELECT doc_id, count(*) AS n_bloom_hits FROM dh
                WHERE p0 IN (SELECT p FROM bp)
                  AND p1 IN (SELECT p FROM bp)
                  AND p2 IN (SELECT p FROM bp)
                GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(t.n_shingles AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_bloom_hits, 0) AS BIGINT)
                       AS n_bloom_hits,
                   coalesce(h.n_bloom_hits, 0) > 0 AS flagged
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id
        """,
        # the streamed session fold must equal the batch
        # gaps-and-islands sessionization (same rewrite as
        # user_sessions, minus the order-sensitive float sum)
        "streaming_session_replay": """
            WITH o AS (
                SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events
            ),
            f AS (
                SELECT *,
                       CASE WHEN prev IS NULL
                                 OR ts - prev >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM o
            ),
            s AS (
                SELECT *,
                       sum(brk) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM f
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events
            FROM s
            GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        # blocklist = domains with >=5 docs and short-share > 0.5;
        # raw 0/1 average (exact) on both sides, kept docs via NOT IN
        "host_blocklist_filter": f"""
            WITH urls AS (
                SELECT doc_id, n_chars, {_MESSY_URL} AS url
                FROM documents
            ),
            {_URL_CANON_CTES},
            doms AS (
                SELECT doc_id, n_chars, domain FROM withdomain
            ),
            blocked AS (
                SELECT domain FROM (
                    SELECT domain, count(*) AS _n,
                           avg(CASE WHEN n_chars < 300
                                    THEN 1.0 ELSE 0.0 END) AS _ss
                    FROM doms GROUP BY domain
                ) WHERE _n >= 5 AND _ss > 0.5
            )
            SELECT doc_id, domain, CAST(n_chars AS BIGINT) AS n_chars
            FROM doms
            WHERE domain NOT IN (SELECT domain FROM blocked)
            ORDER BY doc_id
        """,
        # water-filling mixture planner: same sorted-prefix-sum
        # program (capped set = prefix of the avail/weight sort via
        # one monotone predicate); integer supplies + binary-fraction
        # weights make every sum exact, so the capped set and the
        # water level replay bit-identically
        "mixture_plan_rates": """
            WITH counts AS (
                SELECT source,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                           AS avail_tokens
                FROM documents GROUP BY source
            ),
            wts AS (
                SELECT source, avail_tokens,
                       CASE
                           WHEN source = 'src19' THEN 12.0/64
                           WHEN CAST(substr(source, 4) AS INT) >= 12
                               THEN 4.0/64
                           ELSE 2.0/64
                       END AS target_weight
                FROM counts
            ),
            tot AS (
                SELECT *,
                       CAST(avail_tokens AS DOUBLE) AS _a,
                       CAST(avail_tokens AS DOUBLE) / target_weight
                           AS _ratio,
                       sum(target_weight) OVER () AS _totW,
                       floor(0.6 * sum(CAST(avail_tokens AS DOUBLE))
                             OVER ()) AS _budget
                FROM wts
            ),
            pref AS (
                SELECT *,
                       coalesce(sum(_a) OVER (
                           ORDER BY _ratio, source
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0.0) AS _prefA,
                       coalesce(sum(target_weight) OVER (
                           ORDER BY _ratio, source
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0.0) AS _prefW
                FROM tot
            ),
            cap AS (
                SELECT *,
                       (_ratio * (_totW - _prefW) <= _budget - _prefA)
                           AS capped
                FROM pref
            ),
            lamf AS (
                SELECT *,
                       sum(CASE WHEN capped THEN _a ELSE 0.0 END)
                           OVER () AS _cappedA,
                       sum(CASE WHEN capped THEN target_weight
                                ELSE 0.0 END) OVER () AS _cappedW
                FROM cap
            )
            SELECT source, avail_tokens, target_weight,
                   (floor((CASE WHEN capped THEN _a
                           ELSE target_weight * ((_budget - _cappedA)
                                / (_totW - _cappedW)) END)
                          * 10000.0 + 0.5) / 10000.0) AS take_tokens,
                   (floor((CASE WHEN _a > 0 THEN
                           (CASE WHEN capped THEN _a
                            ELSE target_weight * ((_budget - _cappedA)
                                 / (_totW - _cappedW)) END) / _a
                           ELSE 0.0 END)
                          * 1000000.0 + 0.5) / 1000000.0) AS rate,
                   capped
            FROM lamf
            ORDER BY source
        """,
        # the stream-fold's final state must equal the batch KMV of
        # the full history (associative merge) — the oracle computes
        # the batch sketch, so a green row proves the stateful
        # streaming path end-to-end
        "streaming_kmv_replay": """
            WITH d AS (
                SELECT DISTINCT event_type, user_id FROM events
            ),
            h AS (
                SELECT event_type,
                       CAST(('0x' || substr(
                            md5(CAST(user_id AS VARCHAR)), 1, 15
                       ))::BIGINT AS DOUBLE)
                       / 1152921504606846976.0 AS u
                FROM d
            ),
            ranked AS (
                SELECT event_type, u,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY u
                       ) AS rn
                FROM h
            ),
            sk AS (
                SELECT event_type, count(*) AS n_in_sketch, max(u) AS uk
                FROM ranked WHERE rn <= 64 GROUP BY event_type
            )
            SELECT event_type,
                   CAST(n_in_sketch AS BIGINT) AS n_in_sketch,
                   (floor((CASE WHEN n_in_sketch < 64
                                THEN CAST(n_in_sketch AS DOUBLE)
                                ELSE 63.0 / uk END)
                          * 100.0 + 0.5) / 100.0) AS est_users
            FROM sk
            ORDER BY event_type
        """,
        # URL-keyed dedup: coarse fixture (path = doc_id % 100,
        # flipped param order, gclid noise) so raw-distinct URLs
        # collapse onto canonical keys; same canon CTE chain
        "dedup_url_canonical": f"""
            WITH urls AS (
                SELECT doc_id,
                       'HTTP://' ||
                       CASE WHEN doc_id % 3 = 0 THEN 'WWW.'
                            ELSE '' END ||
                       source || '.Site.COM' ||
                       CASE WHEN doc_id % 5 = 0 THEN ':80'
                            ELSE '' END ||
                       '/Page/' || CAST(doc_id % 100 AS VARCHAR) ||
                       CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
                       CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1'
                            ELSE '?a=1&b=2' END ||
                       CASE WHEN doc_id % 4 = 0 THEN '&gclid=XYZ'
                            ELSE '' END AS url
                FROM documents
            ),
            {_URL_CANON_CTES}
            SELECT canon_url,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM canon
            GROUP BY canon_url
            ORDER BY canon_url
        """,
        # HTML visible-text extraction: script/style elements with
        # contents, comments, tags, ONE-PASS entity decode (five named
        # + numeric char refs, U+FFFD invalid rule, {1,7}/{1,6} digit
        # bounds), then whitespace collapse — inline (?is)/(?s) RE2
        # flags + 'g'. The whitespace class is interpolated from
        # webcrawl.WS_RE (explicit [ \t\n\x0B\f\r]: Java \s matches
        # U+000B, RE2 \s does not) and every 3rd doc plants a vertical
        # tab; every 4th plants the numeric-ref gauntlet (decimal,
        # supplementary hex, invalid -> U+FFFD, 8-digit stays literal,
        # &amp;#65; -> literal &#65;)
        "html_extract_text": f"""
            WITH wrapped AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' ||
                       CAST(doc_id AS VARCHAR) ||
                       '</title><SCRIPT type="text/javascript">var x = 1;'
                       || ' // <p>not text</p></SCRIPT>' ||
                       '<style>.c {{ color: red }}</style></head>' ||
                       '<body><!-- boilerplate' || chr(10) ||
                       'comment --><p>' || text || '</p>' ||
                       CASE WHEN doc_id % 2 = 0
                            THEN '<div class="foot">Q&amp;A &lt;tag&gt;'
                                 || '&nbsp;&#39;quoted&#39;</div>'
                            ELSE '' END ||
                       CASE WHEN doc_id % 3 = 0
                            THEN '<p>vt' || chr(11) || 'split</p>'
                            ELSE '' END ||
                       CASE WHEN doc_id % 4 = 0
                            THEN '<p>num&#65;dec &#x1F600; z&#0;s&#xD800;'
                                 || 'o&#1114112; lit&#12345678;'
                                 || ' amp&amp;#65;</p>'
                            ELSE '' END ||
                       '</body></html>' AS html
                FROM documents
            ),
            stripped AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(html,
                               '(?is)<script\\b[^>]*>.*?</script>', ' ',
                               'g'),
                           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                           '<[^>]*>', ' ', 'g') AS t
                FROM wrapped
            ),
            {_entity_decode_ctes("stripped", "t", "doc_id")}
            SELECT doc_id,
                   trim(regexp_replace(t, '__WS_RE__', ' ', 'g'))
                       AS extracted,
                   CAST(length(trim(regexp_replace(t, '__WS_RE__', ' ', 'g')))
                        AS BIGINT) AS n_chars_extracted
            FROM entdec
            ORDER BY doc_id
        """.replace("__WS_RE__", _WC.WS_RE),
        # main-content extraction: same planted-boilerplate page
        # (nav / cookie / link-farm / keyword-stuffing / footer must
        # vanish, article paragraphs must survive), same interpolated
        # block/anchor regexes and MAIN_* constants, same nested-
        # lambda keep rule, same one-pass entity decode on the kept
        # concatenation
        "html_main_content_docs": f"""
            WITH wrapped AS (
                SELECT doc_id, text,
                       '<html><head><title>Doc ' ||
                       CAST(doc_id AS VARCHAR) ||
                       '</title><script>var x = 1; // <p>not text</p>'
                       || '</script>'
                       || '<style>.nav {{ color: red }}</style></head>'
                       || '<body><nav><a href="/home">Home</a> '
                       || '<a href="/about">About</a> '
                       || '<a href="/contact">Contact</a></nav>' ||
                       CASE WHEN doc_id % 2 = 0
                            THEN '<div class="cookie">We use cookies '
                                 || 'to improve your experience '
                                 || '<a href="#">Accept</a> '
                                 || '<a href="#">Decline</a></div>'
                            ELSE '' END ||
                       '<p>{X.MAIN_FIXTURE_LEAD}' || text || '</p>' ||
                       CASE WHEN doc_id % 3 = 0
                            THEN '<h2>related</h2><p>and then it was '
                                 || 'written that the ' || text ||
                                 ' was all about the data in the end '
                                 || '.</p>'
                            ELSE '' END ||
                       CASE WHEN doc_id % 4 = 0
                            THEN '<div class="more">'
                                 || '<a href="/1">read more here now</a> '
                                 || '<a href="/2">read more here now</a> '
                                 || '<a href="/3">read more here now</a> '
                                 || '<a href="/4">read more here now</a> '
                                 || '<a href="/5">read more here now</a> '
                                 || '<a href="/6">read more here now</a>'
                                 || '</div>'
                            ELSE '' END ||
                       CASE WHEN doc_id % 5 = 0
                            THEN '<div class="kw">lorem ipsum dolor '
                                 || 'sit amet consectetur adipiscing '
                                 || 'elit sed eiusmod tempor '
                                 || 'incididunt labore magna aliqua '
                                 || 'veniam quis nostrud exercitation '
                                 || 'ullamco</div>'
                            ELSE '' END ||
                       '<footer>&copy; 2026 '
                       || '<a href="/privacy">Privacy</a> '
                       || '<a href="/terms">Terms</a></footer>'
                       || '</body></html>' AS html
                FROM documents
            ),
            cleaned AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(
                           html,
                           '(?is)<script\\b[^>]*>.*?</script>', ' ',
                           'g'),
                           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g') AS t
                FROM wrapped
            ),
            kept AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           list_filter(
                               string_split_regex(t,
                                   '{_WC.MAIN_BLOCK_TAG_RE}'),
                               b -> {_main_keep_sql('b')}),
                           b -> {_main_block_txt_sql('b')}), ' ') AS t0
                FROM cleaned
            ),
            {_entity_decode_ctes("kept", "t0", "doc_id")}
            SELECT doc_id,
                   trim(regexp_replace(t, '{_WC.WS_RE}', ' ', 'g'))
                       AS main_content,
                   CAST(length(trim(regexp_replace(t, '{_WC.WS_RE}',
                        ' ', 'g'))) AS BIGINT) AS n_chars_main
            FROM entdec
            ORDER BY doc_id
        """,
        # perceptual-hash image dedup (r10 verdict item 3): the FULL
        # replay — same closed-form grid, the 64 dHash difference
        # bits folded into four 16-bit bands, pigeonhole band joins
        # for candidates, exact popcount verify
        # video near-dup by sampled-frame dHash: the fixture's Y4M
        # luma is a 2x-upscaled closed-form block grid, so the oracle
        # replays the REAL-decoder pipeline from the same arithmetic
        # (per-frame grid -> bands -> cross-video band join ->
        # popcount verify -> per-pair frame count)
        "dedup_video_frames": f"""
            WITH params AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 100 < 3
                             THEN doc_id - doc_id % 100
                             ELSE doc_id END) % 197 AS a197,
                       (CASE WHEN doc_id % 100 < 3
                             THEN doc_id - doc_id % 100
                             ELSE doc_id END) % 89 AS a89,
                       CASE WHEN doc_id % 100 = 2
                            THEN 1 ELSE 0 END AS noisy
                FROM documents
            ),
            pf AS (
                SELECT doc_id, a197, a89, noisy,
                       unnest([0, 2, 4]) AS f
                FROM params
            ),
            bits AS (
                SELECT doc_id, f, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_video_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_video_val_sql(
                               "(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM pf, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, f, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT)
                           AS key
                FROM bits GROUP BY doc_id, f, k // 16
            ),
            sigs AS (
                SELECT doc_id, f,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id, f
            ),
            cands AS (
                SELECT a.doc_id AS da, a.f AS fa,
                       b.doc_id AS db, b.f AS fb
                FROM bands a JOIN bands b
                  ON a.chunk = b.chunk AND a.key = b.key
                 AND (a.doc_id < b.doc_id
                      OR (a.doc_id = b.doc_id AND a.f < b.f))
                GROUP BY a.doc_id, a.f, b.doc_id, b.f
            ),
            verified AS (
                SELECT da, db,
                       bit_count(xor(x.b0, y.b0))
                       + bit_count(xor(x.b1, y.b1))
                       + bit_count(xor(x.b2, y.b2))
                       + bit_count(xor(x.b3, y.b3)) AS hamming
                FROM cands
                JOIN sigs x ON x.doc_id = da AND x.f = fa
                JOIN sigs y ON y.doc_id = db AND y.f = fb
            )
            SELECT da AS vid_a, db AS vid_b,
                   CAST(count(*) AS BIGINT) AS n_matching_frames
            FROM verified
            WHERE hamming <= 3 AND da <> db
            GROUP BY da, db
            HAVING count(*) >= 2
            ORDER BY vid_a, vid_b
        """,
        # header-sniff metadata: pure field arithmetic per doc_id
        "media_header_stats": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 4 WHEN 0 THEN 'png'
                        WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
                        ELSE 'wav' END AS format,
                   CAST(CASE doc_id % 4
                        WHEN 0 THEN doc_id % 13 + 3
                        WHEN 1 THEN doc_id % 11 + 1
                        WHEN 2 THEN doc_id % 300 + 1
                        ELSE (doc_id % 50 + 10) END AS INT) AS width,
                   CAST(CASE doc_id % 4
                        WHEN 0 THEN doc_id % 7 + 2
                        WHEN 1 THEN doc_id % 9 + 1
                        WHEN 2 THEN doc_id % 200 + 1
                        ELSE NULL END AS INT) AS height,
                   CAST(CASE doc_id % 4
                        WHEN 0 THEN 8 WHEN 1 THEN 8
                        WHEN 2 THEN doc_id % 8 + 1
                        ELSE 16 END AS INT) AS bit_depth,
                   CAST(CASE doc_id % 4
                        WHEN 0 THEN 1
                        WHEN 1 THEN CASE WHEN doc_id % 2 = 1
                                         THEN 1 ELSE 3 END
                        WHEN 2 THEN 1
                        ELSE 1 + doc_id % 2 END AS INT) AS n_channels,
                   CAST(CASE doc_id % 4
                        WHEN 3 THEN 8000 * (1 + doc_id % 3)
                        ELSE NULL END AS INT) AS sample_rate
            FROM documents
            ORDER BY media_id
        """,
        # scene-cut keyframes: same closed-form frame grids through
        # the real decoder, lag window replayed in SQL
        "video_scene_cut_frames": f"""
            WITH params AS (
                SELECT doc_id, doc_id % 197 AS a197, doc_id % 89 AS a89
                FROM documents
            ),
            pf AS (
                SELECT doc_id, a197, a89,
                       unnest([0, 1, 2, 3, 4, 5]) AS f
                FROM params
            ),
            bits AS (
                SELECT doc_id, f, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_scene_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_scene_val_sql(
                               "(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM pf, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, f, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT)
                           AS key
                FROM bits GROUP BY doc_id, f, k // 16
            ),
            sigs AS (
                SELECT doc_id, f,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id, f
            ),
            lagged AS (
                SELECT doc_id, f,
                       b0, b1, b2, b3,
                       lag(b0) OVER w AS p0, lag(b1) OVER w AS p1,
                       lag(b2) OVER w AS p2, lag(b3) OVER w AS p3
                FROM sigs
                WINDOW w AS (PARTITION BY doc_id ORDER BY f)
            )
            SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
                   CAST(CASE WHEN p0 IS NULL THEN NULL
                        ELSE bit_count(xor(b0, p0))
                           + bit_count(xor(b1, p1))
                           + bit_count(xor(b2, p2))
                           + bit_count(xor(b3, p3)) END AS INT)
                       AS hamming_prev,
                   (p0 IS NULL
                    OR bit_count(xor(b0, p0)) + bit_count(xor(b1, p1))
                     + bit_count(xor(b2, p2)) + bit_count(xor(b3, p3))
                     >= 8) AS is_cut
            FROM lagged
            ORDER BY media_id, frame_idx
        """,
        # audio fingerprint near-dup: closed-form energy grids through
        # the same banding/verify replay (moduli 193/83, bump 17@31)
        "dedup_audio_fingerprint": f"""
            WITH params AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 100 >= 4 AND doc_id % 100 < 8
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 193 AS a193,
                       (CASE WHEN doc_id % 100 >= 4 AND doc_id % 100 < 8
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 83 AS a83,
                       CASE WHEN doc_id % 100 >= 4 AND doc_id % 100 < 8
                                 AND doc_id % 2 = 1
                            THEN 1 ELSE 0 END AS noisy
                FROM documents
            ),
            bits AS (
                SELECT doc_id, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_audio_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_audio_val_sql(
                               "(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM params, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT)
                           AS key
                FROM bits GROUP BY doc_id, k // 16
            ),
            sigs AS (
                SELECT doc_id,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id
            ),
            cands AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib
                FROM bands a JOIN bands b
                  ON a.chunk = b.chunk AND a.key = b.key
                 AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            verified AS (
                SELECT ia AS audio_a, ib AS audio_b,
                       CAST(bit_count(xor(x.b0, y.b0))
                            + bit_count(xor(x.b1, y.b1))
                            + bit_count(xor(x.b2, y.b2))
                            + bit_count(xor(x.b3, y.b3)) AS INT)
                           AS hamming
                FROM cands
                JOIN sigs x ON x.doc_id = ia
                JOIN sigs y ON y.doc_id = ib
            )
            SELECT audio_a, audio_b, hamming
            FROM verified WHERE hamming <= 3
            ORDER BY audio_a, audio_b
        """,
        "dedup_image_phash": f"""
            WITH params AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 197 AS a197,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 89 AS a89,
                       CASE WHEN doc_id % 2 = 1 AND doc_id % 100 < 4
                            THEN 1 ELSE 0 END AS noisy
                FROM documents
            ),
            bits AS (
                SELECT doc_id, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_phash_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_phash_val_sql("(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM params, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT) AS key
                FROM bits GROUP BY doc_id, k // 16
            ),
            sigs AS (
                SELECT doc_id,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id
            ),
            cands AS (
                SELECT a.doc_id AS ia, b.doc_id AS ib
                FROM bands a JOIN bands b
                  ON a.chunk = b.chunk AND a.key = b.key
                 AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            verified AS (
                SELECT ia AS img_a, ib AS img_b,
                       CAST(bit_count(xor(x.b0, y.b0))
                            + bit_count(xor(x.b1, y.b1))
                            + bit_count(xor(x.b2, y.b2))
                            + bit_count(xor(x.b3, y.b3)) AS INT)
                           AS hamming
                FROM cands
                JOIN sigs x ON x.doc_id = ia
                JOIN sigs y ON y.doc_id = ib
            )
            SELECT img_a, img_b, hamming
            FROM verified WHERE hamming <= 3
            ORDER BY img_a, img_b
        """,
        # quality-keeper image dedup: same grid/bands chain + the
        # quality_score twin and a signature-partition rank window
        "dedup_image_quality_keepers": f"""
            WITH params AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 197 AS a197,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 89 AS a89,
                       CASE WHEN doc_id % 2 = 1 AND doc_id % 100 < 4
                            THEN 1 ELSE 0 END AS noisy
                FROM documents
            ),
            bits AS (
                SELECT doc_id, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_phash_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_phash_val_sql("(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM params, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT) AS key
                FROM bits GROUP BY doc_id, k // 16
            ),
            sigs AS (
                SELECT doc_id,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id
            ),
            scored AS (
                SELECT doc_id,
                       (floor((greatest(0.0,
                           least(CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                  ELSE len(string_split_regex(trim(text), '\\s+'))
                                  END AS double) / 100.0, 1.0)
                           * (1 - CASE WHEN length(text) > 0
                                  THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS double)
                                       / CAST(length(text) AS double)
                                  ELSE 0.0 END)
                       )) * 10000.0 + 0.5) / 10000.0) AS q
                FROM documents
            ),
            ranked AS (
                SELECT g.doc_id, s.q,
                       row_number() OVER (
                           PARTITION BY g.b0, g.b1, g.b2, g.b3
                           ORDER BY s.q DESC, g.doc_id ASC) AS rn,
                       count(*) OVER (
                           PARTITION BY g.b0, g.b1, g.b2, g.b3)
                           AS n_copies
                FROM sigs g JOIN scored s USING (doc_id)
            )
            SELECT doc_id AS keeper_id,
                   CAST(n_copies AS BIGINT) AS n_copies,
                   q AS keeper_quality
            FROM ranked WHERE rn = 1 AND n_copies >= 2
            ORDER BY keeper_id
        """,
        # exact-dup image groups: same grid/bands CTEs as the phash
        # oracle, GROUP BY the full 4-band signature
        "dedup_image_exact_groups": f"""
            WITH params AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 197 AS a197,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 89 AS a89,
                       CASE WHEN doc_id % 2 = 1 AND doc_id % 100 < 4
                            THEN 1 ELSE 0 END AS noisy
                FROM documents
            ),
            bits AS (
                SELECT doc_id, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_phash_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_phash_val_sql("(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM params, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT) AS key
                FROM bits GROUP BY doc_id, k // 16
            ),
            sigs AS (
                SELECT doc_id,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id
            )
            SELECT b0, b1, b2, b3,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM sigs
            GROUP BY b0, b1, b2, b3
            HAVING count(*) >= 2
            ORDER BY keeper_id
        """,
        # LANGUAGE-AWARE main-content (r10 verdict item 1): same
        # six-language planted-article page, bank selected by a CASE
        # structured table extraction: same planted-table page (header
        # entities, inline tag in a cell, unclosed <tr>, nested table,
        # all-caps tags), same shared-dialect regexes, same
        # split-on-open / slice-off-first-fragment / aligned-tag-zip
        # pipeline, same one-pass entity decode on the cell text
        "html_table_rows": _html_table_cells_sql() + """
            SELECT doc_id, table_idx, row_idx, col_idx, is_header,
                   cell_text
            FROM cellsx
            ORDER BY doc_id, table_idx, row_idx, col_idx
        """,
        # header-keyed records on the same chain: first all-<th> row
        # keys the columns, positional col_<idx> fallback
        "html_table_records": _html_table_cells_sql() + """,
            allth AS (
                SELECT doc_id, table_idx, min(row_idx) AS hrow FROM (
                    SELECT doc_id, table_idx, row_idx,
                           bool_and(is_header) AS a
                    FROM cellsx GROUP BY doc_id, table_idx, row_idx
                ) WHERE a GROUP BY doc_id, table_idx
            ),
            hdr AS (
                SELECT c.doc_id, c.table_idx, c.col_idx,
                       c.cell_text AS k
                FROM cellsx c JOIN allth h
                  ON c.doc_id = h.doc_id AND c.table_idx = h.table_idx
                 AND c.row_idx = h.hrow
            )
            SELECT c.doc_id, c.table_idx, c.row_idx, c.col_idx,
                   coalesce(hd.k,
                            'col_' || CAST(c.col_idx AS VARCHAR))
                       AS key,
                   c.cell_text AS value
            FROM cellsx c
            LEFT JOIN allth h
              ON c.doc_id = h.doc_id AND c.table_idx = h.table_idx
            LEFT JOIN hdr hd
              ON hd.doc_id = c.doc_id AND hd.table_idx = c.table_idx
             AND hd.col_idx = c.col_idx
            WHERE h.hrow IS NULL OR c.row_idx <> h.hrow
            ORDER BY c.doc_id, c.table_idx, c.row_idx, c.col_idx
        """,
        # over the interpolated MAIN_STOPWORD_BANKS literals, script
        # counts via the same literal char classes, same
        # script-coverage fallback term
        "main_content_multilingual_docs": f"""
            WITH langd AS (
                SELECT doc_id,
                       ({_ml_langs_sql()})[CAST(doc_id % 6 + 1 AS INT)]
                           AS lang,
                       ({_ml_articles_sql()})[CAST(doc_id % 6 + 1 AS INT)]
                           AS article
                FROM documents
            ),
            wrapped AS (
                SELECT doc_id, lang,
                       '<html><head><title>Doc ' ||
                       CAST(doc_id AS VARCHAR) ||
                       '</title><style>.nav {{ color: red }}</style>'
                       || '</head><body><nav><a href="/home">Home</a> '
                       || '<a href="/about">About</a> '
                       || '<a href="/contact">Contact</a></nav>' ||
                       CASE WHEN doc_id % 2 = 0
                            THEN '<div class="cookie">We use cookies '
                                 || 'to improve your experience '
                                 || '<a href="#">Accept</a> '
                                 || '<a href="#">Decline</a></div>'
                            ELSE '' END ||
                       '<p>' || article || '</p>' ||
                       CASE WHEN doc_id % 4 = 0
                            THEN '<div class="more">'
                                 || '<a href="/1">read more here now</a> '
                                 || '<a href="/2">read more here now</a> '
                                 || '<a href="/3">read more here now</a> '
                                 || '<a href="/4">read more here now</a> '
                                 || '<a href="/5">read more here now</a> '
                                 || '<a href="/6">read more here now</a>'
                                 || '</div>'
                            ELSE '' END ||
                       '<footer>&copy; 2026 '
                       || '<a href="/privacy">Privacy</a> '
                       || '<a href="/terms">Terms</a></footer>'
                       || '</body></html>' AS html
                FROM langd
            ),
            cleaned AS (
                SELECT doc_id, lang,
                       regexp_replace(regexp_replace(regexp_replace(
                           html,
                           '(?is)<script\\b[^>]*>.*?</script>', ' ',
                           'g'),
                           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g') AS t
                FROM wrapped
            ),
            kept AS (
                SELECT doc_id, lang,
                       array_to_string(list_transform(
                           list_filter(
                               string_split_regex(t,
                                   '{_WC.MAIN_BLOCK_TAG_RE}'),
                               b -> {_main_keep_sql(
                                   'b', _ml_bank_case_sql(),
                                   _ml_ns_tpl_sql())}),
                           b -> {_main_block_txt_sql('b')}), ' ') AS t0
                FROM cleaned
            ),
            {_entity_decode_ctes("kept", "t0", "doc_id, lang")}
            SELECT doc_id, lang,
                   trim(regexp_replace(t, '{_WC.WS_RE}', ' ', 'g'))
                       AS main_content,
                   CAST(length(trim(regexp_replace(t, '{_WC.WS_RE}',
                        ' ', 'g'))) AS BIGINT) AS n_chars_main
            FROM entdec
            ORDER BY doc_id
        """,
        # PII scrub: same injection fixture, and the PATTERNS ARE THE
        # MODULE CONSTANTS (webcrawl.PII_*_RE interpolated below), so
        # the Spark operator and the oracle literally share regex
        # bytes; same order (emails, IPv6, IPv4, phones), counts at
        # the same pipeline position each redaction applies. The %8
        # injection (version string + ISO date) must SURVIVE — the
        # hash match pins false-positive behavior too.
        "pii_scrub_docs": """
            WITH injected AS (
                SELECT doc_id,
                       text ||
                       CASE WHEN doc_id % 3 = 0
                            THEN ' contact user' ||
                                 CAST(doc_id AS VARCHAR) || '@mail' ||
                                 CAST(doc_id % 5 AS VARCHAR) || '.com'
                            ELSE '' END ||
                       CASE WHEN doc_id % 4 = 0
                            THEN ' from 10.' ||
                                 CAST(doc_id % 256 AS VARCHAR) ||
                                 '.0.' || CAST(doc_id % 100 AS VARCHAR)
                            ELSE '' END ||
                       CASE WHEN doc_id % 5 = 0
                            THEN ' call 555-01' ||
                                 lpad(CAST(doc_id % 100 AS VARCHAR),
                                      2, '0')
                            ELSE '' END ||
                       CASE WHEN doc_id % 6 = 0
                            THEN ' office (312) 555-01' ||
                                 lpad(CAST(doc_id % 100 AS VARCHAR),
                                      2, '0')
                            ELSE '' END ||
                       CASE WHEN doc_id % 7 = 0
                            THEN ' via 2001:db8::' ||
                                 CAST(doc_id % 9999 AS VARCHAR)
                            ELSE '' END ||
                       CASE WHEN doc_id % 8 = 0
                            THEN ' running v1.2.3.4 since 2026-08-15'
                            ELSE '' END ||
                       CASE WHEN doc_id % 11 = 0
                            THEN ' cell +1 312-555-' ||
                                 lpad(CAST(doc_id % 10000 AS VARCHAR),
                                      4, '0')
                            ELSE '' END AS t
                FROM documents
            ),
            s1 AS (
                SELECT doc_id, t,
                       regexp_replace(t, '__EMAIL_RE__',
                                      '<EMAIL>', 'g') AS t1
                FROM injected
            ),
            s2 AS (
                SELECT *,
                       regexp_replace(t1, '__IPV6_RE__',
                                      '<IP>', 'g') AS t2
                FROM s1
            ),
            s3 AS (
                SELECT *,
                       regexp_replace(t2, '__IPV4_RE__',
                                      '<IP>', 'g') AS t3
                FROM s2
            )
            SELECT doc_id,
                   regexp_replace(t3, '__PHONE_RE__',
                                  '<PHONE>', 'g') AS scrubbed,
                   CAST(len(regexp_extract_all(t, '__EMAIL_RE__'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t1, '__IPV6_RE__'))
                       AS BIGINT) AS n_ipv6,
                   CAST(len(regexp_extract_all(t2, '__IPV4_RE__'))
                       AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t3, '__PHONE_RE__'))
                       AS BIGINT) AS n_phones
            FROM s3
            ORDER BY doc_id
        """.replace("__EMAIL_RE__", _WC.PII_EMAIL_RE)
           .replace("__IPV6_RE__", _WC.PII_IPV6_RE)
           .replace("__IPV4_RE__", _WC.PII_IPV4_RE)
           .replace("__PHONE_RE__", _WC.PII_PHONE_RE),
        # the oracle aggregates the parquet ORIGINAL — a green row
        # proves the JSONL write+read roundtrip lossless
        "jsonl_roundtrip_stats": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(length(text)) AS BIGINT) AS sum_text_len
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        # same decomposed fixture byte-for-byte (combining acute
        # U+0301, Angstrom sign U+212B, combining diaeresis U+0308);
        # DuckDB's built-in nfc_normalize vs the Arrow pandas UDF —
        # both implement Unicode-standard NFC, so this row
        # hash-checks the vectorized-UDF path itself
        "unicode_nfc_docs": f"""
            WITH raw AS (
                SELECT doc_id,
                       text ||
                       CASE WHEN doc_id % 2 = 0
                            THEN ' cafe{chr(0x301)}' ELSE '' END ||
                       CASE WHEN doc_id % 3 = 0
                            THEN ' {chr(0x212B)}ngstro{chr(0x308)}m'
                            ELSE '' END AS r
                FROM documents
            )
            SELECT doc_id,
                   nfc_normalize(r) AS normalized,
                   CAST(length(r) - length(nfc_normalize(r)) AS BIGINT)
                       AS codepoints_composed
            FROM raw
            ORDER BY doc_id
        """,
        # ------------------------------------------------------ r13
        "pdf_extract_stats": """
            WITH ids AS (SELECT doc_id AS d FROM documents),
            good AS (
                SELECT d, CAST(i AS INT) AS p
                FROM ids,
                     unnest(generate_series(0, CAST(d % 3 AS INT)))
                         AS t(i)
                WHERE d % 17 NOT IN (5, 13)
            ),
            built AS (
                SELECT d, p,
                       'Doc ' || d || ' page ' || p || ' (q'
                       || ((7 * d + p) % 93) || ')' || chr(10)
                       || 'tok' || ((d + p) % 11) || ' #' || (d % 5)
                       || 'alpha beta ' || p
                       || '!x' || ((3 * d + p) % 29) AS text
                FROM good
            )
            SELECT d AS doc_id, p AS page_idx, text,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM built
            UNION ALL
            SELECT d, CAST(NULL AS INT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT)
            FROM ids WHERE d % 17 IN (5, 13)
            ORDER BY doc_id, page_idx
        """,
        "media_exif_stats": """
            SELECT doc_id,
                   CASE WHEN doc_id % 23 = 7 THEN CAST(NULL AS BOOLEAN)
                        WHEN doc_id % 23 = 15 THEN FALSE
                        ELSE TRUE END AS has_exif,
                   CASE WHEN doc_id % 23 IN (7, 15)
                            THEN CAST(NULL AS VARCHAR)
                        WHEN doc_id % 2 = 0 THEN 'II'
                        ELSE 'MM' END AS byte_order,
                   CASE WHEN doc_id % 23 IN (7, 15)
                            THEN CAST(NULL AS INT)
                        ELSE CAST(1 + doc_id % 8 AS INT)
                   END AS orientation,
                   CASE WHEN doc_id % 23 IN (7, 15)
                            THEN CAST(NULL AS VARCHAR)
                        ELSE '2024:'
                          || lpad(CAST(1 + doc_id % 12 AS VARCHAR),
                                  2, '0')
                          || ':'
                          || lpad(CAST(1 + doc_id % 28 AS VARCHAR),
                                  2, '0')
                          || ' '
                          || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                          || ':'
                          || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                          || ':'
                          || lpad(CAST((3 * doc_id) % 60 AS VARCHAR),
                                  2, '0')
                   END AS exif_datetime,
                   CASE WHEN doc_id % 23 IN (7, 15)
                             OR doc_id % 5 >= 2
                            THEN CAST(NULL AS BIGINT)
                        ELSE CAST(
                          (CASE WHEN doc_id % 4 < 2 THEN 1 ELSE -1 END)
                          * ((doc_id % 90) * 3600000
                             + ((3 * doc_id) % 60) * 60000
                             + ((7 * doc_id) % 6000) * 10) AS BIGINT)
                   END AS gps_lat_mas,
                   CASE WHEN doc_id % 23 IN (7, 15)
                             OR doc_id % 5 >= 2
                            THEN CAST(NULL AS BIGINT)
                        ELSE CAST(
                          (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END)
                          * (((11 * doc_id) % 180) * 3600000
                             + ((13 * doc_id) % 60) * 60000
                             + ((17 * doc_id) % 6000) * 10) AS BIGINT)
                   END AS gps_lon_mas
            FROM documents
            ORDER BY doc_id
        """,
        "scrub_exif_gps_docs": """
            -- closed-form segment layout: GPS-bearing fixture JPEG is
            -- 199 bytes with a 182-byte APP1 Exif segment (8-byte TIFF
            -- header + 42-byte IFD0 + 54-byte GPS IFD + 68-byte data
            -- area + 10 bytes of marker/length/Exif\\0\\0 framing);
            -- no-GPS EXIF docs are 85 bytes, EXIF-less docs 17
            SELECT doc_id,
                   CASE WHEN doc_id % 23 = 7 THEN CAST(NULL AS BOOLEAN)
                        WHEN doc_id % 23 = 15 THEN FALSE
                        WHEN doc_id % 5 < 2 THEN TRUE
                        ELSE FALSE END AS had_gps,
                   CAST(CASE WHEN doc_id % 23 = 7 THEN 199
                             WHEN doc_id % 23 = 15 THEN 17
                             WHEN doc_id % 5 < 2 THEN 17
                             ELSE 85 END AS BIGINT) AS clean_len,
                   CAST(CASE WHEN doc_id % 23 NOT IN (7, 15)
                                  AND doc_id % 5 < 2
                             THEN 182 ELSE 0 END AS BIGINT)
                       AS bytes_removed
            FROM documents
            ORDER BY doc_id
        """,
        "image_caption_pairs": """
            WITH ids AS (SELECT doc_id AS d FROM documents),
            cand AS (
                SELECT d,
                       'http://images.example.com/shared/'
                           || (d - d % 10) || '.jpg' AS img_url,
                       'Alt ' || d
                           || CASE WHEN d % 2 = 0 THEN ' & stuff'
                                   ELSE ' plain' END AS caption
                FROM ids
                UNION ALL
                SELECT d,
                       'http://cdn' || (d % 7) || '.example.org/f/'
                           || d || '.gif',
                       'Fig ' || ((d * 3) % 13) || ' of doc ' || d
                FROM ids
            ),
            ranked AS (
                SELECT img_url, caption, d,
                       row_number() OVER (
                           PARTITION BY img_url
                           ORDER BY length(caption) DESC, caption, d
                       ) AS rn,
                       count(*) OVER (PARTITION BY img_url) AS n_refs
                FROM cand
            )
            SELECT img_url, CAST(n_refs AS BIGINT) AS n_refs,
                   caption AS best_caption,
                   CAST(d AS BIGINT) AS best_doc_id
            FROM ranked WHERE rn = 1
            ORDER BY img_url
        """,
        # host-authority composition: host_link_graph CTE chain ->
        # the same unrolled fixed-iteration PageRank as the trade twin
        "pagerank_host_graph": _pagerank_unrolled_sql(
            f"""{_host_graph_ctes()},
            edges AS MATERIALIZED (
                SELECT src_domain AS src, domain AS dst,
                       CAST(count(*) AS DOUBLE) AS w
                FROM withdomain
                WHERE src_domain <> domain
                GROUP BY 1, 2
            ),
            nodes AS MATERIALIZED (
                SELECT src AS id FROM edges
                UNION
                SELECT dst FROM edges
            )""",
            """
            SELECT r.id AS domain,
                   (floor((r.pr) * 1000000.0 + 0.5) / 1000000.0) AS pr
            FROM {prev} r
            ORDER BY pr DESC, domain ASC
            """,
        ),
        # each fixture class violates exactly one check; malformed
        # lines fail only malformed_json (protocol checks pass on
        # NULL-messages rows by construction)
        "chat_validation_suite": """
            WITH ids AS (SELECT doc_id AS d FROM documents),
            counts AS (
                SELECT 'satisfies:malformed_json' AS check_name,
                       CAST(count(*) FILTER (WHERE d % 17 = 2)
                            AS BIGINT) AS violations FROM ids
                UNION ALL
                SELECT 'satisfies:unknown_role',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 9) AS BIGINT) FROM ids
                UNION ALL
                SELECT 'satisfies:system_not_leading',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 1) AS BIGINT) FROM ids
                UNION ALL
                SELECT 'satisfies:first_turn_not_user',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 0) AS BIGINT) FROM ids
                UNION ALL
                SELECT 'satisfies:role_repeat',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 3) AS BIGINT) FROM ids
                UNION ALL
                SELECT 'satisfies:last_turn_not_assistant',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 11) AS BIGINT) FROM ids
                UNION ALL
                SELECT 'satisfies:empty_content',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 7) AS BIGINT) FROM ids
                UNION ALL
                SELECT 'satisfies:turn_over_token_budget',
                       CAST(count(*) FILTER (WHERE d % 17 <> 2
                            AND d % 13 = 5) AS BIGINT) FROM ids
            )
            SELECT check_name, violations,
                   violations = 0 AS passed
            FROM counts
            ORDER BY check_name
        """,
        # normalization + md5 fingerprint + registry anti-join replay
        "chat_prompt_dedup": """
            WITH ids AS (
                SELECT doc_id AS d FROM documents
                WHERE doc_id % 17 <> 2
            ),
            pr AS (
                SELECT d,
                       CASE WHEN d % 13 = 5
                            THEN repeat('w ', 69) || 'w'
                            ELSE 'question ' || (d % 25)
                                 || ' on topic ' || ((d % 25) % 5)
                                 || ' please' END AS prompt
                FROM ids
            ),
            hist AS (
                SELECT DISTINCT md5(prompt) AS fp
                FROM pr WHERE d % 100 < 20
            ),
            batch AS (
                SELECT md5(prompt) AS fp,
                       CAST(min(d) AS BIGINT) AS conv_id
                FROM pr WHERE d % 100 >= 20
                GROUP BY md5(prompt)
            )
            SELECT b.conv_id, b.fp
            FROM batch b
            LEFT JOIN hist h ON b.fp = h.fp
            WHERE h.fp IS NULL
            ORDER BY conv_id
        """,
        # the parameterized minhash twin over the closed-form prompt
        # expression — identical signatures/bands/verify
        "chat_prompt_near_dedup": _minhash_sql(
            source_sql=CHAT_NEAR_SRC,
            out_a="conv_a", out_b="conv_b",
        ),
        # every turn's whitespace token count is closed-form in d:
        # system 2, intro 2, prompt 6 (70 on the budget plant),
        # late-system 2, answers 4 each (1 when the empty plant
        # blanks the last), follow-up 3, bot 1, bye 2
        "chat_loss_mask_stats": """
            WITH ids AS (
                SELECT doc_id AS d FROM documents
                WHERE doc_id % 17 <> 2
            ),
            tok AS (
                SELECT d,
                       CASE WHEN d % 13 = 5 THEN 70 ELSE 6 END AS ptok,
                       CASE WHEN d % 4 = 0 THEN 2 ELSE 0 END
                       + CASE WHEN d % 13 = 1 THEN 2 ELSE 0 END
                       + CASE WHEN d % 13 = 9 THEN 1 ELSE 0 END
                       + CASE WHEN d % 13 = 11 THEN 2 ELSE 0 END
                       + CASE WHEN d % 2 = 1 THEN 3 ELSE 0 END
                           AS other_masked,
                       CASE WHEN d % 13 = 0 THEN 2 ELSE 0 END
                       + 4
                       + CASE WHEN d % 2 = 1 THEN 4 ELSE 0 END
                       + CASE WHEN d % 13 = 7 THEN -3 ELSE 0 END
                           AS trainable
                FROM ids
            ),
            agg AS (
                SELECT d,
                       ptok * (CASE WHEN d % 13 = 3 THEN 2 ELSE 1 END)
                           + other_masked + trainable AS total,
                       trainable
                FROM tok
            )
            SELECT d AS conv_id,
                   CAST(total AS BIGINT) AS total_tokens,
                   CAST(trainable AS BIGINT) AS trainable_tokens,
                   CAST(total - trainable AS BIGINT) AS masked_tokens,
                   (floor((CAST(trainable AS DOUBLE)
                           / CAST(total AS DOUBLE)) * 10000.0 + 0.5)
                    / 10000.0) AS trainable_pct
            FROM agg
            ORDER BY conv_id
        """,
        # hash-range split on the md5 uniform of the NORMALIZED prompt
        "chat_prompt_split": """
            WITH ids AS (
                SELECT doc_id AS d FROM documents
                WHERE doc_id % 17 <> 2
            ),
            pr AS (
                SELECT d,
                       CASE WHEN d % 13 = 5
                            THEN repeat('w ', 69) || 'w'
                            ELSE 'question ' || (d % 25)
                                 || ' on topic ' || ((d % 25) % 5)
                                 || ' please' END AS prompt
                FROM ids
            ),
            u AS (
                SELECT d,
                       CAST(('0x' || substr(
                            md5('chat-split-42:' || prompt),
                            1, 15))::BIGINT AS DOUBLE)
                       / 1152921504606846976.0 AS u
                FROM pr
            )
            SELECT d AS conv_id,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM u
            ORDER BY conv_id
        """,
        # caption-aware keepers: the exact-signature grid chain (noisy
        # always 0 — every block member shares one signature) + the
        # best-caption window ordering
        "image_caption_keepers": f"""
            WITH params AS (
                SELECT doc_id,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 197 AS a197,
                       (CASE WHEN doc_id % 100 < 4
                             THEN doc_id - doc_id % 4
                             ELSE doc_id END) % 89 AS a89,
                       0 AS noisy
                FROM documents
            ),
            bits AS (
                SELECT doc_id, CAST(k AS INT) AS k,
                       CASE WHEN
                           {_phash_val_sql("(k // 8) * 9 + (k % 8)")}
                           > {_phash_val_sql("(k // 8) * 9 + (k % 8) + 1")}
                           THEN 1 ELSE 0 END AS bit
                FROM params, range(64) t(k)
            ),
            bands AS (
                SELECT doc_id, k // 16 AS chunk,
                       CAST(sum(CAST(bit AS BIGINT)
                                << CAST(k % 16 AS INT)) AS BIGINT) AS key
                FROM bits GROUP BY doc_id, k // 16
            ),
            sigs AS (
                SELECT doc_id,
                       max(CASE WHEN chunk = 0 THEN key END) AS b0,
                       max(CASE WHEN chunk = 1 THEN key END) AS b1,
                       max(CASE WHEN chunk = 2 THEN key END) AS b2,
                       max(CASE WHEN chunk = 3 THEN key END) AS b3
                FROM bands GROUP BY doc_id
            ),
            caps AS (
                SELECT doc_id,
                       'caption ' || doc_id || ' for block '
                       || (doc_id - doc_id % 100)
                       || CASE WHEN doc_id % 2 = 1
                               THEN ' with extra rich detail'
                               ELSE '' END AS caption
                FROM documents
            ),
            ranked AS (
                SELECT g.doc_id, c.caption,
                       row_number() OVER (
                           PARTITION BY g.b0, g.b1, g.b2, g.b3
                           ORDER BY length(c.caption) DESC,
                                    c.caption ASC, g.doc_id ASC) AS rn,
                       count(*) OVER (
                           PARTITION BY g.b0, g.b1, g.b2, g.b3)
                           AS n_copies
                FROM sigs g JOIN caps c USING (doc_id)
            )
            SELECT doc_id AS keeper_id,
                   CAST(n_copies AS BIGINT) AS n_copies,
                   caption
            FROM ranked WHERE rn = 1 AND n_copies >= 2
            ORDER BY keeper_id
        """,
        # full rendered-string re-assembly from the closed-form
        # message list (seg(role, content) per turn, in order)
        "chat_render_template": """
            WITH ids AS (
                SELECT doc_id AS d FROM documents
                WHERE doc_id % 17 <> 2
            ),
            pieces AS (
                SELECT d,
                       CASE WHEN d % 13 = 5
                            THEN repeat('w ', 69) || 'w'
                            WHEN d % 2 = 1
                            THEN 'QUESTION  ' || (d % 25) || ' ON  TOPIC '
                                 || ((d % 25) % 5) || '  PLEASE'
                            ELSE 'Question ' || (d % 25) || ' on topic '
                                 || ((d % 25) % 5) || ' please'
                       END AS prompt,
                       CASE WHEN d % 13 = 7 AND d % 2 = 0
                            THEN '   '
                            ELSE 'answer ' || d || ' part 0' END AS a0,
                       CASE WHEN d % 13 = 7 AND d % 2 = 1
                            THEN '   '
                            ELSE 'answer ' || d || ' part 1' END AS a1
                FROM ids
            ),
            seg AS (
                SELECT d,
                       CASE WHEN d % 4 = 0
                            THEN '<|im_start|>system' || chr(10)
                                 || 'be helpful<|im_end|>' || chr(10)
                            ELSE '' END
                       || CASE WHEN d % 13 = 0
                            THEN '<|im_start|>assistant' || chr(10)
                                 || 'intro ' || d || '<|im_end|>'
                                 || chr(10)
                            ELSE '' END
                       || '<|im_start|>user' || chr(10) || prompt
                       || '<|im_end|>' || chr(10)
                       || CASE WHEN d % 13 = 3
                            THEN '<|im_start|>user' || chr(10) || prompt
                                 || '<|im_end|>' || chr(10)
                            ELSE '' END
                       || CASE WHEN d % 13 = 1
                            THEN '<|im_start|>system' || chr(10)
                                 || 'late note<|im_end|>' || chr(10)
                            ELSE '' END
                       || '<|im_start|>assistant' || chr(10) || a0
                       || '<|im_end|>' || chr(10)
                       || CASE WHEN d % 2 = 1
                            THEN '<|im_start|>user' || chr(10)
                                 || 'follow up ' || d || '<|im_end|>'
                                 || chr(10)
                                 || '<|im_start|>assistant' || chr(10)
                                 || a1 || '<|im_end|>' || chr(10)
                            ELSE '' END
                       || CASE WHEN d % 13 = 9
                            THEN '<|im_start|>bot' || chr(10)
                                 || 'beep<|im_end|>' || chr(10)
                            ELSE '' END
                       || CASE WHEN d % 13 = 11
                            THEN '<|im_start|>user' || chr(10)
                                 || 'bye ' || d || '<|im_end|>'
                                 || chr(10)
                            ELSE '' END AS rendered,
                       CAST(1
                            + CASE WHEN d % 4 = 0 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 0 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 3 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 1 THEN 1 ELSE 0 END
                            + 1
                            + CASE WHEN d % 2 = 1 THEN 2 ELSE 0 END
                            + CASE WHEN d % 13 = 9 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 11 THEN 1 ELSE 0 END
                        AS INT) AS n_turns
                FROM pieces
            )
            SELECT d AS conv_id, rendered,
                   CAST(length(rendered) AS BIGINT) AS n_chars,
                   CAST(n_turns * 2 AS INT) AS n_special
            FROM seg
            ORDER BY conv_id
        """,
        # closed-form per-conversation token counts (2 markers +
        # content tokens per turn; empty contents contribute the two
        # markers only) + the per-shard concat-and-chunk pack window
        "chat_pack_sequences": """
            WITH ids AS (
                SELECT doc_id AS d FROM documents
                WHERE doc_id % 17 <> 2
            ),
            tok AS (
                SELECT d,
                       CASE WHEN d % 13 = 5 THEN 70 ELSE 6 END AS ptok,
                       CAST(1
                            + CASE WHEN d % 4 = 0 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 0 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 3 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 1 THEN 1 ELSE 0 END
                            + 1
                            + CASE WHEN d % 2 = 1 THEN 2 ELSE 0 END
                            + CASE WHEN d % 13 = 9 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 11 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_turns
                FROM ids
            ),
            base AS (
                SELECT d AS conv_id, CAST(d % 4 AS INT) AS shard,
                       CAST(2 * n_turns
                            + CASE WHEN d % 4 = 0 THEN 2 ELSE 0 END
                            + CASE WHEN d % 13 = 0 THEN 2 ELSE 0 END
                            + ptok * (CASE WHEN d % 13 = 3
                                           THEN 2 ELSE 1 END)
                            + CASE WHEN d % 13 = 1 THEN 2 ELSE 0 END
                            + CASE WHEN d % 13 = 7 AND d % 2 = 0
                                   THEN 0 ELSE 4 END
                            + CASE WHEN d % 2 = 1 THEN 3
                                   + CASE WHEN d % 13 = 7
                                          THEN 0 ELSE 4 END
                                   ELSE 0 END
                            + CASE WHEN d % 13 = 9 THEN 1 ELSE 0 END
                            + CASE WHEN d % 13 = 11 THEN 2 ELSE 0 END
                        AS BIGINT) AS n_tok
                FROM tok
            ),
            offs AS (
                SELECT *, CAST(coalesce(sum(n_tok) OVER (
                        PARTITION BY shard ORDER BY conv_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING),
                        0) AS BIGINT) AS strt
                FROM base
            ),
            ex AS (
                SELECT conv_id, shard, n_tok, strt,
                       unnest(range(strt // 128,
                                    (strt + n_tok - 1) // 128 + 1))
                           AS seq_id
                FROM offs
            )
            SELECT conv_id, shard, seq_id, n_tok,
                   greatest(seq_id * 128 - strt, 0) AS begin_tok,
                   least((seq_id + 1) * 128, strt + n_tok) - strt
                       AS end_tok
            FROM ex
            ORDER BY conv_id, shard, seq_id
        """,
    }
    # the Arrow/numpy ANN twin has the same output contract as the
    # HOF path, so it shares the oracle verbatim (4dp rounding absorbs
    # BLAS-vs-left-to-right float summation order).
    sqls["ann_cosine_topk_vec"] = sqls["ann_cosine_topk"]
    # the streaming chat-validation fold is additive across the
    # 3-slice replay, so the final state must equal the batch suite
    # over the full corpus — the shared oracle IS the stream==batch
    # proof (the KMV-merge precedent)
    sqls["streaming_chat_validation_replay"] = sqls[
        "chat_validation_suite"
    ]
    # KMV merge is exactly lossless, so the incrementally-merged
    # rollup must equal the direct sketch of the full corpus — the
    # shared oracle IS the mergeability proof
    sqls["rollup_incremental_distinct_kmv"] = sqls[
        "sketch_kmv_distinct_portable"
    ]
    return sqls
