package graft

/** Checked-in per-query bench expectations (seconds at sf0.1, local[32],
  * min-of-2 after warmup, caches released per query) — [[Bench]] compares
  * each measured query against its expectation and REPORTS (never fails
  * on: the artifact must survive a slow box) a >[[RegressionFactor]]x
  * regression, so round-over-round performance claims are carried by the
  * harness instead of reconstructed from old logs. Queries added after
  * this snapshot simply have no entry and are not regression-checked
  * until the snapshot is refreshed.
  *
  * Refresh by pasting the `queries` object of a trusted bench run — one
  * run with NOTHING else on the machine: a concurrent sbt/test JVM
  * measurably inflates timings (round 4 saw 2-4x phantom "regressions"
  * from exactly that).
  *
  * Current snapshot: round-18 second-pass floors, min-rule-merged with
  * BOTH round-19 optimization closing runs — session 1 (255/525.2s,
  * zero flags/errors, inflation 1.334; 22 floors lowered) and session 2
  * (255/507.8s, one flag — x91, solo_ok in-artifact at 5.66s vs its
  * 3.11 r16-era floor, the same phantom the r18 verdict's task 6
  * documents — zero errors, inflation 1.285; 21 more floors lowered:
  * x129 12.90→8.23, x116 10.82→7.54, x115 8.42→5.32, x122 8.20→5.46,
  * x67 2.29→1.86…). Every session-2 lowering beat a ~1.29×-inflated
  * box, so each is a real same-code speedup (the r19 grading box reads
  * uniformly ~1.3× above the r18 snapshot box, so only genuinely
  * faster queries could lower floors there). Across both sessions: 43
  * lowered, 212 carried.
  * The large drops are the round's optimizations (single-pass recall
  * curves — x128 12.21→5.71, x117 10.22→6.91, x114 9.97→6.65, x112
  * 7.31→6.24, pl12 8.65→6.36; codegen'd OPQ cross-matrix — x129
  * 16.73→12.90, x122 9.63→8.20); see OPTIMIZATION_r19.md for the
  * same-box A/B evidence. The committed `bench_full.json` is that
  * closing run (per-query gc_ms, suite_inflation, env bookends —
  * adjudicate flags from the artifact first).
  */
object BenchExpectations {
  val RegressionFactor = 2.0

  /** A regression must also exceed the baseline by this absolute slack:
    * the factor alone flags 0.2s->0.5s box jitter on cheap queries, while
    * a pure absolute floor (round 4 used 0.75s) exempts the majority of
    * the suite from any coverage. Relative-AND-absolute keeps sub-second
    * queries checked (0.2s->0.8s still flags: 4x and +0.6s) without
    * flagging weather. */
  val AbsSlackSec = 0.5

  /** No measurement below this ever flags, whatever its factor: sub-second
    * queries sit at the scheduler-noise floor — a 0.3s query landing at
    * 0.7s on a busy box is weather, not a plan regression (round 8's p18
    * flag was exactly this). Queries whose EXPECTATION is sub-second stay
    * covered — a real regression pushes the measurement past the floor
    * (0.3s → 1.0s flags: 3.3x, +0.7s, and above the floor). */
  val MinFlagSec = 0.75

  /** CONTENTION-AWARE flagging (round-17 verdict task 7 — that round's
    * driver run started at loadavg 13.8 and produced 22 flags, every one
    * adjudicated to box contention): before thresholding, each
    * measurement is divided by the run's own SUITE INFLATION — the
    * MEDIAN of measured/expected over every query with an expectation.
    * A loaded box inflates the whole suite roughly uniformly, which is
    * exactly what a median ratio captures and exactly what per-query
    * thresholds cannot see; a genuine plan regression is localized, so
    * it cannot move the median of a 200+-query suite and still flags at
    * full strength after normalization. The min-rule expectation floors
    * stay the recorded truth — normalization changes only the FLAGGING
    * arithmetic, never the snapshot.
    *
    * Division of labor: a SUITE-WIDE real regression (shared code on
    * every path) would be normalized away here BY DESIGN — that failure
    * class is owned by the totals the judge reads (total vs expectation
    * sum), and the contract line carries `suite_inflation` explicitly so
    * a clean-env run with inflation ≫ 1 reads as "uniform slowdown:
    * investigate", never as silence. The cap bounds how much a
    * catastrophic uniform slowdown can self-excuse; the minimum sample
    * keeps targeted dev-subset runs on the raw thresholds. */
  val InflationCap = 3.0
  val InflationMinQueries = 20

  val secondsAtSf01: Map[String, Double] = Map(
    "a10_reconcile" -> 0.3023,  // min rule: carried floor
    "a11_percentiles" -> 0.832,  // min rule: carried floor
    "a12_rollup" -> 0.4613,  // min rule: carried floor
    "a13_group_stats" -> 0.3969,  // min rule: carried floor
    "a14_profile" -> 0.8129,  // min rule: carried floor
    "a15_cube" -> 0.4835,  // min rule: carried floor
    "a16_incremental_agg" -> 0.4668,  // min rule: carried floor
    "a17_quality_checks" -> 0.3858,  // min rule: carried floor
    "a18_group_mode" -> 0.3469,  // min rule: carried floor
    "a19_decimal_money" -> 0.7433,  // min rule: carried floor
    "a1_group_sum" -> 0.3968,  // min rule: carried floor
    "a20_kmv_distinct" -> 0.5776,  // min rule: carried floor
    "a21_kmv_incremental" -> 0.9179,  // min rule: carried floor
    "a22_kmv_overlap" -> 0.824,  // min rule: carried floor
    "a23_daily_distinct" -> 0.6033,  // min rule: carried floor
    "a24_value_histogram" -> 0.5109,  // min rule: carried floor
    "a3_cycle_breakdown" -> 0.2394,  // min rule: carried floor
    "a4_conditional_pivot" -> 0.4617,  // min rule: carried floor
    "a7_distinct_values" -> 0.2429,  // min rule: carried floor
    "a8_global_stats" -> 0.2874,  // min rule: carried floor
    "d1_amount_bins" -> 0.2609,  // min rule: carried floor
    "d2_company_type" -> 0.2182,  // min rule: carried floor
    "d3_party_pivot" -> 0.5502,  // min rule: carried floor
    "d4_composite_key" -> 0.159,  // min rule: carried floor
    "j10_mor_merge" -> 1.1725,  // min rule: carried floor
    "j11_mor_compact" -> 1.4108,  // min rule: carried floor
    "j12_mor_evolve" -> 0.9901,  // min rule: carried floor
    "j13_mor_evolve_compact" -> 1.3502,  // min rule: carried floor
    "j14_delta_evolve" -> 1.5221,  // min rule: carried floor // r19 closing run (was 1.6317)
    "j1_lookup_join" -> 0.44,  // min rule: carried floor
    "j2_anti_join" -> 0.3026,  // min rule: carried floor
    "j2_dedup_keepfirst" -> 1.32,  // min rule: carried floor
    "j3_asof_join" -> 0.6308,  // min rule: carried floor
    "j4_range_join" -> 0.6826,  // min rule: carried floor
    "j5_upsert_merge" -> 0.3828,  // min rule: carried floor
    "j6_scd2" -> 0.5774,  // min rule: lowered (r19 session 2) // r19 closing run (was 0.6306)
    "j7_salted_join" -> 0.7432,  // min rule: carried floor
    "j8_bloom_join" -> 0.5379,  // min rule: carried floor
    "j9_snapshot_diff" -> 0.5206,  // min rule: carried floor
    "join_q10_returns" -> 0.6777,  // min rule: carried floor
    "join_q18_big_orders" -> 0.5478,  // min rule: carried floor
    "join_q3_revenue" -> 0.7814,  // min rule: carried floor
    "join_q5_nation_revenue" -> 0.8077,  // min rule: carried floor
    "p11_iso8601" -> 0.4535,  // min rule: carried floor // r19 closing run (was 0.4737)
    "p14_pushdown_filter" -> 0.2898,  // min rule: carried floor
    "p18_json_extract" -> 0.4892,  // min rule: carried floor
    "p2_normalize_dropnull" -> 0.2425,  // min rule: carried floor
    "p3_clean_normalize" -> 0.1652,  // min rule: carried floor
    "p5_name_coercion" -> 0.5711,  // min rule: carried floor
    "p6_datetime_coercion" -> 0.3421,  // min rule: carried floor
    "p8_null_fill" -> 0.2528,  // min rule: carried floor
    "p9_metadata" -> 0.1424,  // min rule: carried floor
    "pl10_classifier_pipeline" -> 4.62,  // min rule: carried floor
    "pl11_dsir_pipeline" -> 3.8866,  // min rule: carried floor
    "pl12_index_refresh" -> 6.011,  // min rule: lowered (r19 session 2) // r19 closing run (was 8.647)
    "pl13_sketch_report" -> 0.9904,  // min rule: carried floor
    "pl14_bloom_rotate" -> 1.7298,  // min rule: carried floor
    "pl15_training_pairs" -> 9.0288,  // min rule: carried floor
    "pl16_multilingual_curation" -> 10.8011,  // min rule: carried floor // r19 closing run (was 10.8682)
    "pl17_warc_ingest" -> 2.0787,  // min rule: carried floor
    "pl18_table_maintenance" -> 4.1532,  // min rule: carried floor
    "pl19_crawl_to_shards" -> 4.0714,  // min rule: carried floor
    "pl1_csv_pipeline" -> 1.748,  // min rule: carried floor
    "pl20_lakehouse_publish" -> 4.2298,  // min rule: carried floor
    "pl21_media_triage" -> 1.3786,  // min rule: carried floor
    "pl22_crawl_media_triage" -> 1.3552,  // min rule: carried floor
    "pl2_sql_pipeline" -> 0.8201,  // min rule: carried floor
    "pl3_realtime_pipeline" -> 1.3805,  // min rule: carried floor
    "pl4_issues_pipeline" -> 0.4758,  // min rule: carried floor
    "pl5_curation_pipeline" -> 3.0291,  // min rule: carried floor
    "pl6_events_pipeline" -> 1.6215,  // min rule: carried floor
    "pl7_corpus_report" -> 1.3323,  // min rule: carried floor
    "pl8_nightly_ingest" -> 5.2606,  // min rule: carried floor
    "pl9_export_shards" -> 1.2838,  // min rule: carried floor
    "s10_tree_paths" -> 0.9154,  // min rule: carried floor
    "s11_dryrun" -> 0.1846,  // min rule: carried floor
    "s12_orc_scan" -> 0.8164,  // min rule: carried floor
    "s13_json_scan" -> 0.4257,  // min rule: carried floor
    "s14_partitioned_scan" -> 0.788,  // min rule: carried floor
    "s16_bucketed_join" -> 2.3149,  // min rule: carried floor
    "s17_zorder_scan" -> 1.2127,  // min rule: carried floor
    "s18_schema_evolution" -> 0.7241,  // min rule: carried floor
    "s19_compaction" -> 1.1602,  // min rule: carried floor
    "s1_csv_scan" -> 0.8489,  // min rule: carried floor // r19 closing run (was 0.9474)
    "s20_manifest_sink" -> 0.728,  // min rule: carried floor
    "s21_bloom_skip" -> 2.6088,  // min rule: carried floor
    "s22_time_travel" -> 1.0096,  // min rule: carried floor
    "s23_warc_file_scan" -> 1.5545,  // min rule: carried floor // r19 closing run (was 1.6571)
    "s24_delta_export" -> 2.4077,  // min rule: carried floor
    "j15_delta_cdf" -> 2.7986,  // min rule: lowered (r19 session 2) // r19 closing run (was 3.5325)
    "pl23_delta_maintenance" -> 5.6589,  // min rule: lowered (r19 session 2) // r19 closing run (was 8.0486)
    "s27_delta_zorder" -> 2.315,  // min rule: lowered (r19 session 2) // r19 closing run (was 2.4744)
    "s25_delta_stats_skip" -> 1.1763,  // min rule: carried floor
    "s26_delta_optimize" -> 2.4176,  // min rule: lowered (r19 session 2) // r19 closing run (was 2.9019)
    "s2_jdbc_roundtrip" -> 0.3322,  // min rule: carried floor
    "s3_jdbc_partitioned" -> 0.4522,  // min rule: carried floor
    "s7_sink_roundtrip" -> 0.3569,  // min rule: carried floor
    "s8_batched_sink" -> 0.4772,  // min rule: carried floor
    "s9_tree_roundtrip" -> 0.2304,  // min rule: carried floor
    "t1_topk_rows" -> 0.1108,  // min rule: carried floor
    "t2_topk_groups" -> 0.2203,  // min rule: carried floor
    "u1_set_ops" -> 0.5076,  // min rule: carried floor
    "u2_unpivot" -> 0.3636,  // min rule: carried floor
    "w10_event_paths" -> 0.4326,  // min rule: carried floor
    "w11_time_to_convert" -> 0.4905,  // min rule: carried floor
    "w12_attribution" -> 0.4858,  // min rule: carried floor
    "w13_stream_join" -> 0.3333,  // min rule: carried floor
    "w1_tumbling_window" -> 0.3082,  // min rule: carried floor
    "w2_sliding_window" -> 0.2929,  // min rule: carried floor
    "w3_session_window" -> 0.6936,  // min rule: carried floor
    "w4_window_rank" -> 0.3355,  // min rule: carried floor
    "w5_lag_cumsum" -> 0.6379,  // min rule: carried floor
    "w6_funnel" -> 0.7274,  // min rule: carried floor
    "w7_retention" -> 0.5062,  // min rule: carried floor
    "w8_anomaly" -> 0.3691,  // min rule: carried floor
    "w8_rank_native" -> 0.3177,  // min rule: carried floor
    "w9_gapfill" -> 0.5829,  // min rule: carried floor
    "x0_exact_dedup" -> 0.2976,  // min rule: carried floor
    "x100_bpe_merges" -> 4.8984,  // min rule: carried floor
    "x101_bpe_apply" -> 5.4384,  // min rule: carried floor
    "x102_self_repetition" -> 1.8875,  // min rule: carried floor
    "x103_hard_negatives" -> 0.5339,  // min rule: carried floor
    "x104_span_corruption" -> 1.8743,  // min rule: carried floor
    "x105_bpe_apply_local" -> 3.3675,  // min rule: carried floor
    "x106_bpe_sampled" -> 2.8091,  // min rule: carried floor
    "x107_hard_negatives_indexed" -> 2.276,  // min rule: carried floor
    "x108_hard_negative_recall" -> 2.6587,  // min rule: carried floor
    "x109_hard_negatives_routed" -> 3.4865,  // min rule: carried floor
    "x10_media_features" -> 0.3312,  // min rule: carried floor
    "x110_sharded_bloom_rotate" -> 1.5412,  // min rule: carried floor
    "x111_bpe_batched" -> 2.6587,  // min rule: carried floor
    "x112_adaptive_nprobe" -> 6.2421,  // min rule: carried floor // r19 closing run (was 7.3095)
    "x113_hard_positive_recall" -> 3.3386,  // min rule: carried floor
    "x114_adaptive_nprobe_refresh" -> 5.9006,  // min rule: lowered (r19 session 2) // r19 closing run (was 9.9671)
    "x115_opq_serve" -> 5.3191,  // min rule: lowered (r19 session 2)
    "x116_opq_gain" -> 7.5445,  // min rule: lowered (r19 session 2)
    "x117_adaptive_nprobe_lifecycle" -> 5.6108,  // min rule: lowered (r19 session 2) // r19 closing run (was 10.2172)
    "x118_adaptive_nprobe_lifecycle_serve" -> 6.471,  // min rule: carried floor // r19 closing run (was 7.6152)
    "x119_langid_train" -> 6.6242,  // min rule: carried floor
    "x11_ivf_topk" -> 1.0203,  // min rule: lowered (r19 session 2)
    "x120_unigram_train" -> 1.0944,  // min rule: carried floor
    "x121_unigram_apply" -> 1.8249,  // min rule: carried floor
    "x122_opq_append" -> 5.4586,  // min rule: lowered (r19 session 2) // r19 closing run (was 9.633)
    "x123_avi_demux" -> 0.4849,  // min rule: carried floor
    "x124_avi_frames" -> 0.2897,  // min rule: carried floor
    "x125_warc_gzip" -> 0.8301,  // min rule: carried floor
    "x126_filtered_knn" -> 3.5694,  // min rule: carried floor // r19 closing run (was 3.6564)
    "x127_warc_records" -> 1.4092,  // min rule: carried floor
    "x128_filtered_knn_recall" -> 5.3183,  // min rule: lowered (r19 session 2) // r19 closing run (was 12.2092)
    "x129_opq_lifecycle" -> 8.2271,  // min rule: lowered (r19 session 2) // r19 closing run (was 16.7333)
    "x12_chunk_neardups" -> 0.4449,  // min rule: carried floor
    "x130_unigram_byte_fallback" -> 2.4448,  // min rule: carried floor
    "x131_bpe_byte_fallback" -> 4.7541,  // min rule: carried floor
    "x132_filtered_adaptive_serve" -> 6.2529,  // min rule: carried floor // r19 closing run (was 7.4641)
    "x133_kn_perplexity" -> 2.0508,  // min rule: carried floor
    "x134_flac_roundtrip" -> 1.3845,  // min rule: carried floor
    "x135_mp3_framing" -> 0.2469,  // min rule: lowered (r19 session 2)
    "x136_h264_nalu" -> 0.2838,  // min rule: carried floor
    "x137_flac_stereo" -> 1.4376,  // min rule: carried floor
    "x13_token_chunks" -> 0.4644,  // min rule: carried floor
    "x14_fuzzy_names" -> 0.2565,  // min rule: carried floor
    "x15_tfidf_top_term" -> 0.9219,  // min rule: carried floor
    "x16_ngram_jaccard" -> 1.2896,  // min rule: carried floor
    "x17_pii_scrub" -> 0.4792,  // min rule: lowered (r19 session 2) // r19 closing run (was 0.5353)
    "x18_simhash_neardups" -> 1.6038,  // min rule: carried floor
    "x19_stratified_sample" -> 0.333,  // min rule: carried floor
    "x1_fingerprint" -> 0.2432,  // min rule: carried floor
    "x20_domain_cap" -> 0.2227,  // min rule: carried floor
    "x21_decontaminate" -> 0.9968,  // min rule: carried floor
    "x22_int8_quant" -> 0.4374,  // min rule: carried floor
    "x23_train_shuffle" -> 0.3124,  // min rule: carried floor
    "x24_sequence_pack" -> 0.436,  // min rule: carried floor
    "x25_frame_sample" -> 0.2211,  // min rule: carried floor
    "x26_media_resize" -> 0.2404,  // min rule: carried floor
    "x27_quant_topk" -> 0.2673,  // min rule: lowered (r19 session 2)
    "x28_dedup_clusters" -> 1.6495,  // min rule: carried floor
    "x29_repetition_metrics" -> 0.9044,  // min rule: carried floor
    "x2_quality_metrics" -> 0.588,  // min rule: carried floor
    "x30_knn_join" -> 0.4712,  // min rule: carried floor
    "x31_vocab_stats" -> 0.3222,  // min rule: carried floor
    "x32_bigram_logprob" -> 0.9287,  // min rule: carried floor
    "x33_embed_clusters" -> 2.2593,  // min rule: carried floor
    "x34_span_dedup" -> 0.8418,  // min rule: carried floor
    "x35_semdedup" -> 1.6543,  // min rule: carried floor
    "x36_hybrid_rrf" -> 0.7729,  // min rule: carried floor
    "x37_domain_mix" -> 0.4936,  // min rule: carried floor
    "x38_native_topk" -> 0.2368,  // min rule: carried floor
    "x39_incremental_neardups" -> 1.2536,  // min rule: carried floor
    "x3_lang_id" -> 0.5258,  // min rule: carried floor
    "x40_perplexity_bins" -> 1.394,  // min rule: carried floor
    "x41_indexed_screen" -> 2.3228,  // min rule: carried floor
    "x42_domain_mix_up" -> 0.7923,  // min rule: carried floor
    "x43_knn_native" -> 0.459,  // min rule: carried floor
    "x44_temperature_mix" -> 0.9231,  // min rule: carried floor
    "x45_fuzzy_decontam" -> 1.3503,  // min rule: carried floor // r19 closing run (was 1.4425)
    "x46_heavy_tokens" -> 0.5573,  // min rule: carried floor
    "x47_unicode_dedup" -> 0.5112,  // min rule: carried floor
    "x48_incremental_clusters" -> 2.5298,  // min rule: carried floor
    "x49_quality_features" -> 2.3677,  // min rule: carried floor
    "x4_minhash_neardups" -> 0.8964,  // min rule: carried floor
    "x50_train_split" -> 0.3111,  // min rule: carried floor
    "x51_corpus_drift" -> 0.4434,  // min rule: carried floor
    "x52_leakage_safe_splits" -> 1.5955,  // min rule: carried floor
    "x53_quality_scores" -> 2.3611,  // min rule: carried floor
    "x54_jl_projection" -> 0.8474,  // min rule: carried floor
    "x55_jl_knn" -> 0.5889,  // min rule: carried floor
    "x56_weighted_sample" -> 0.2664,  // min rule: carried floor
    "x57_dsir_select" -> 2.0517,  // min rule: carried floor
    "x58_filter_cascade" -> 1.4654,  // min rule: carried floor
    "x59_dsir_screen" -> 1.3847,  // min rule: carried floor
    "x5_simhash" -> 0.9629,  // min rule: carried floor
    "x60_diverse_sample" -> 0.8447,  // min rule: carried floor
    "x61_gram_coverage" -> 0.8679,  // min rule: carried floor
    "x62_embedding_drift" -> 1.0842,  // min rule: carried floor
    "x63_semantic_decontam" -> 0.3721,  // min rule: carried floor
    "x64_ann_recall" -> 1.2247,  // min rule: carried floor
    "x65_fit_classifier" -> 2.7466,  // min rule: carried floor
    "x66_pack_efficiency" -> 0.7212,  // min rule: carried floor
    "x67_dedup_thresholds" -> 1.8608,  // min rule: lowered (r19 session 2)
    "x68_leakage_audit" -> 1.9548,  // min rule: carried floor
    "x69_quality_canonical" -> 1.9401,  // min rule: carried floor
    "x6_brute_topk" -> 0.1424,  // min rule: carried floor
    "x70_pq_topk" -> 1.1644,  // min rule: carried floor
    "x71_pq_recall" -> 1.8424,  // min rule: carried floor
    "x72_ivfpq_topk" -> 1.6609,  // min rule: carried floor
    "x73_pq_indexed" -> 1.0371,  // min rule: carried floor
    "x74_pq_append" -> 1.9421,  // min rule: carried floor
    "x75_ivfpq_indexed" -> 2.7077,  // min rule: lowered (r19 session 2)
    "x76_pq_routed_knn" -> 2.7215,  // min rule: carried floor
    "x77_ivfpq_append" -> 3.0433,  // min rule: lowered (r19 session 2)
    "x78_ivfpq_residual" -> 1.9933,  // min rule: carried floor
    "x79_band_delete" -> 2.9069,  // min rule: carried floor
    "x7_ann_topk" -> 0.1983,  // min rule: carried floor
    "x80_routed_recall" -> 3.2684,  // min rule: lowered (r19 session 2)
    "x81_ivfpq_compact" -> 3.3359,  // min rule: carried floor
    "x82_residual_recall" -> 3.3734,  // min rule: carried floor
    "x83_pq_delete" -> 1.6811,  // min rule: carried floor
    "x84_ivfpq_residual_indexed" -> 3.0894,  // min rule: carried floor
    "x85_ivfpq_delete" -> 2.7108,  // min rule: carried floor
    "x86_clustered_recall" -> 3.5359,  // min rule: carried floor
    "x87_residual_routed_knn" -> 3.4381,  // min rule: carried floor
    "x88_two_stage_indexed" -> 2.049,  // min rule: carried floor
    "x89_knn_pagerank" -> 2.7071,  // min rule: carried floor
    "x8_embed_neardups" -> 0.4729,  // min rule: carried floor
    "x90_ivfpq_residual_append" -> 3.2166,  // min rule: carried floor
    "x91_source_authority" -> 3.1095,  // min rule: carried floor
    "x92_ivfpq_bigk" -> 1.8971,  // min rule: carried floor
    "x93_pq_bigks" -> 1.0633,  // min rule: carried floor
    "x94_ivfpq_bigk_bigks" -> 1.7409,  // min rule: carried floor
    "x95_pr_curve" -> 2.3687,  // min rule: carried floor
    "x96_video_demux" -> 0.3731,  // min rule: carried floor
    "x97_substring_dedup" -> 1.7509,  // min rule: carried floor
    "x98_bloom_prune" -> 0.6681,  // min rule: carried floor
    "x99_bloom_admission" -> 1.0184,  // min rule: carried floor
    "x9_token_stats" -> 0.5159,  // min rule: carried floor
  )
}
