from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("CQS_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from cqs_spark.session import get_spark

    spark = get_spark(
        app_name="cqs_spark-tests",
        master="local[*]",
        shuffle_partitions=32,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# ---------------------------------------------------------------------------
# Slow-test quarantine (r13, VERDICT r12 item 1): the full suite had
# outgrown the driver's verify window (~34-40 min), so slow tests carry
# the `slow` marker and pytest.ini deselects them by default.  Two
# measured tiers: >5 s call time (first pass), then — after the default
# run still measured 36 min — all non-oracle tests >=3 s call time
# (fresh --durations=0 measurement of the default run).  EVERY
# tests/test_*_oracle-style `test_oracle_match` case (all 188 declared
# queries) is kept in the default run unconditionally — they are the
# correctness contract (~9 min call time).  Run the quarantined half
# with `pytest -m slow`, or everything with `pytest -m ""`.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "tests/test_ann_recall.py::test_embedding_moments_slab_bound_high_dim",
    "tests/test_ann_recall.py::test_ivfpq_recall_scores_and_planted_twin",
    "tests/test_ann_recall.py::test_kmeans_centroids_improve_ivf_quality",
    "tests/test_ann_recall.py::test_merge_moment_frames_equals_full",
    "tests/test_ann_recall.py::test_pca_project_recovers_dominant_axis",
    "tests/test_ann_recall.py::test_trace_hub_graph_no_driver_frontier",
    "tests/test_ann_recall.py::test_trace_shortest_path",
    "tests/test_ann_recall.py::test_trained_ivf_recall_not_below_sampled",
    "tests/test_caches.py::test_summaries_fake_batch_client_contract",
    "tests/test_caches.py::test_summary_cache_survives_rechunking",
    "tests/test_ci_gate.py::test_engine_ci_end_to_end",
    "tests/test_ci_gate.py::test_engine_deps_reverse",
    "tests/test_ci_gate.py::test_gate_thresholds",
    "tests/test_ci_gate.py::test_risk_formula_tiers",
    "tests/test_ci_gate.py::test_test_ratio_dampens_score",
    "tests/test_cli.py::test_cli_audit_mode_note_neutral",
    "tests/test_cli.py::test_cli_curate_end_to_end",
    "tests/test_cli.py::test_cli_curate_stream_ladder",
    "tests/test_cli.py::test_cli_dataset_card",
    "tests/test_cli.py::test_cli_diff",
    "tests/test_cli.py::test_cli_eval",
    "tests/test_cli.py::test_cli_export_shards_write_verify_tamper",
    "tests/test_cli.py::test_cli_media_audit",
    "tests/test_cli.py::test_cli_media_dedup_and_stream",
    "tests/test_cli.py::test_cli_media_pii_and_export",
    "tests/test_cli.py::test_cli_monitor_stream",
    "tests/test_cli.py::test_cli_notes_and_deps",
    "tests/test_cli.py::test_cli_read_neighbors_batch_traindata",
    "tests/test_cli.py::test_cli_release_audit",
    "tests/test_cli.py::test_cli_release_audit_empty_corpus",
    "tests/test_cli.py::test_cli_review_composition",
    "tests/test_cli.py::test_cli_search",
    "tests/test_cli.py::test_cli_task_emits_all_sections",
    "tests/test_cli.py::test_cli_trace_explain_testmap",
    "tests/test_cli.py::test_engine_task_composes_with_single_bfs",
    "tests/test_convert.py::test_chm_salvage_extraction",
    "tests/test_convert.py::test_convert_integrated_into_index",
    "tests/test_convert.py::test_pdf_fixture_converts[False]",
    "tests/test_curate.py::test_block_dedup_first_occurrence_rule",
    "tests/test_curate.py::test_boilerplate_detect_and_strip",
    "tests/test_curate.py::test_canonical_url_variants_collapse",
    "tests/test_curate.py::test_cluster_safe_split_keeps_near_clones_together",
    "tests/test_curate.py::test_containment_catches_subset_jaccard_misses",
    "tests/test_curate.py::test_contamination_profile_edges",
    "tests/test_curate.py::test_curate_all_docs_rejected_yields_empty_output",
    "tests/test_curate.py::test_curate_exactsubstr_stage",
    "tests/test_curate.py::test_curate_flag_injection_gate",
    "tests/test_curate.py::test_curate_min_lang_confidence_gate",
    "tests/test_curate.py::test_curate_monotone_and_effective",
    "tests/test_curate.py::test_curate_pii_scrub_precedes_exactsubstr",
    "tests/test_curate.py::test_decontaminate_plants_and_passthrough",
    "tests/test_curate.py::test_drift_profile_flags_planted_flood",
    "tests/test_curate.py::test_dsir_weights_rank_target_like_docs_higher",
    "tests/test_curate.py::test_duplicate_passages_detect_and_scrub",
    "tests/test_curate.py::test_gopher_rules_fire_on_planted_cases",
    "tests/test_curate.py::test_lang_confidence_argmax_and_zero_evidence",
    "tests/test_curate.py::test_leakage_safe_split_and_contamination_audit",
    "tests/test_curate.py::test_ngram_lm_counts_continuation_semantics",
    "tests/test_curate.py::test_retention_offsets_and_counts",
    "tests/test_curate.py::test_semantic_dedup_flags_higher_id_twin",
    "tests/test_curate.py::test_sentence_dedup_detect_and_scrub",
    "tests/test_curate.py::test_sequence_pack_two_phase_equals_sequential",
    "tests/test_curate.py::test_tfidf_prefers_rarer_term_at_equal_tf",
    "tests/test_curate.py::test_unigram_xent_ranks_rare_tokens_higher",
    "tests/test_curate.py::test_winnowing_guarantee_and_tie_rule",
    "tests/test_dedup_apply.py::test_dedup_attrition_reused_labels_match_inquery",
    "tests/test_dedup_apply.py::test_dedup_corpus_transitive",
    "tests/test_dedup_apply.py::test_dedup_survivors_picks_highest_quality",
    "tests/test_dedup_apply.py::test_incremental_minhash_skips_indexed_pairs",
    "tests/test_dedup_apply.py::test_incremental_semantic_matches_full_recompute",
    "tests/test_dedup_apply.py::test_incremental_simhash_skips_indexed_pairs",
    "tests/test_dedup_scale.py::test_bfs_releases_hop_caches",
    "tests/test_dedup_scale.py::test_dedup_corpus_long_chain_one_survivor",
    "tests/test_dedup_scale.py::test_embedding_neardup_matches_bruteforce[1000]",
    "tests/test_dedup_scale.py::test_embedding_neardup_matches_bruteforce[37]",
    "tests/test_dedup_scale.py::test_label_propagation_fixpoint_long_chain",
    "tests/test_dedup_scale.py::test_lsh_cap_none_unchanged",
    "tests/test_dedup_scale.py::test_lsh_construction_is_lazy_regardless_of_log_level",
    "tests/test_dedup_scale.py::test_lsh_mega_bucket_linear_candidates",
    "tests/test_dedup_scale.py::test_two_lsh_ladders_compose_in_one_action",
    "tests/test_determinism.py::test_coverage_anomaly_matrix_repartition_invariant[1]",
    "tests/test_determinism.py::test_coverage_anomaly_matrix_repartition_invariant[7]",
    "tests/test_determinism.py::test_graph_ops_repartition_invariant",
    "tests/test_determinism.py::test_incremental_and_budget_select_repartition_invariant[1]",
    "tests/test_determinism.py::test_incremental_and_budget_select_repartition_invariant[7]",
    "tests/test_determinism.py::test_minhash_repartition_invariant[1]",
    "tests/test_determinism.py::test_minhash_repartition_invariant[7]",
    "tests/test_determinism.py::test_new_pipeline_ops_repartition_invariant[1]",
    "tests/test_determinism.py::test_new_pipeline_ops_repartition_invariant[7]",
    "tests/test_determinism.py::test_round7_ops_repartition_invariant[1]",
    "tests/test_determinism.py::test_round7_ops_repartition_invariant[5]",
    "tests/test_determinism.py::test_semantic_dedup_repartition_invariant[1]",
    "tests/test_determinism.py::test_semantic_dedup_repartition_invariant[5]",
    "tests/test_determinism.py::test_session_new_ops_repartition_invariant[1]",
    "tests/test_determinism.py::test_session_new_ops_repartition_invariant[7]",
    "tests/test_determinism.py::test_simhash_and_exact_dedup_invariant[1]",
    "tests/test_determinism.py::test_simhash_and_exact_dedup_invariant[5]",
    "tests/test_determinism.py::test_span_dedup_drops_duplicated_spans_only_once",
    "tests/test_determinism.py::test_span_mix_shard_bigram_repartition_invariant[1]",
    "tests/test_determinism.py::test_span_mix_shard_bigram_repartition_invariant[7]",
    "tests/test_docwriter.py::test_doc_pipeline_targets_and_patches",
    "tests/test_engine.py::test_diff_between_snapshots",
    "tests/test_engine.py::test_explain_onboard_suggest_health",
    "tests/test_engine.py::test_gather_and_stats",
    "tests/test_engine.py::test_search_empty_token_query_degrades",
    "tests/test_engine.py::test_search_hybrid_relevance",
    "tests/test_engine.py::test_search_mmr_diversifies",
    "tests/test_engine.py::test_search_multi_weighted_union",
    "tests/test_engine.py::test_search_nl_query_skips_name_blend",
    "tests/test_engine.py::test_search_notes_boost_moves_score",
    "tests/test_engine.py::test_search_path_glob_gate",
    "tests/test_engine.py::test_search_provenance_is_score_neutral",
    "tests/test_engine.py::test_search_rrf_mode",
    "tests/test_engine.py::test_where_to_add_and_scout",
    "tests/test_eval.py::test_eval_engine_keyword_leg_retrieves",
    "tests/test_index_pipeline.py::test_keyword_search_finds_cosine_topk",
    "tests/test_injection_relay.py::test_convert_relay_flags",
    "tests/test_ml_audit.py::test_class_separation_all_short_label_dense_centroid",
    "tests/test_ml_audit.py::test_class_separation_collapses_when_labels_shuffled",
    "tests/test_ml_audit.py::test_class_separation_margin_positive_when_separable",
    "tests/test_ml_audit.py::test_class_separation_tolerates_ragged_vectors",
    "tests/test_ml_audit.py::test_mixture_allocation_survives_zero_token_stratum",
    "tests/test_ml_audit.py::test_nb_confusion_is_diagonal_on_separable_corpus",
    "tests/test_ml_audit.py::test_nb_confusion_rows_partition_the_corpus",
    "tests/test_ml_audit.py::test_shard_plan_balances_structured_ids",
    "tests/test_multimodal.py::test_incremental_media_neardup_image_and_audio",
    "tests/test_multimodal.py::test_label_propagation_strict_raises_on_diameter",
    "tests/test_nlgen.py::test_training_pairs_and_triples",
    "tests/test_notes.py::test_crud_roundtrip",
    "tests/test_notes.py::test_embedding_text_prefixes",
    "tests/test_notes.py::test_note_boost_integration",
    "tests/test_notes.py::test_search_and_scoring_projection",
    "tests/test_notes.py::test_stale_flags_any_stale_mention_and_skips_mentionless",
    "tests/test_notes.py::test_stale_notes_detected",
    "tests/test_plan_quality.py::test_q156_release_audit_single_row_legs_broadcast",
    "tests/test_scoring_oracle.py::test_q48_mmr",
    "tests/test_slots.py::test_cli_slot_verbs_and_search_reads_active",
    "tests/test_slots.py::test_cross_slot_embed_cache_hits_same_fingerprint",
    "tests/test_slots.py::test_gc_keeps_hashes_live_in_other_slots",
    "tests/test_slots.py::test_legacy_flat_workdir_migrates_to_default_slot",
    "tests/test_slots.py::test_slot_eval_compares_two_encoders",
    "tests/test_slots.py::test_slot_local_cache_merge_unions_missing_rows",
    "tests/test_slots.py::test_slot_local_embed_cache_migrates_to_root",
    "tests/test_streaming.py::test_curate_arrivals_incremental_exactsubstr",
    "tests/test_streaming.py::test_curate_arrivals_incremental_sentence_exactsubstr",
    "tests/test_streaming.py::test_curate_arrivals_matches_batch_ladder",
    "tests/test_streaming.py::test_curate_arrivals_reused_index_new_checkpoint",
    "tests/test_streaming.py::test_dedup_arrivals_stream",
    "tests/test_streaming.py::test_exactsubstr_unit_marker_rejects_mixing",
    "tests/test_streaming.py::test_media_arrivals_stream",
    "tests/test_streaming.py::test_monitor_arrivals_per_source_catches_diluted_flood",
    "tests/test_streaming.py::test_monitor_media_arrivals_flags_pii_and_garbage_floods",
    "tests/test_streaming.py::test_seed_staged_index_day0_bootstrap",
    "tests/test_streaming.py::test_seed_staged_index_seeds_grams",
    "tests/test_streaming.py::test_stream_exactsubstr_matches_batch_ladder",
    "tests/test_synonyms.py::test_keyword_search_uses_expansion",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
