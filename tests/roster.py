"""The pinned rotation-queue roster — the single source of truth.

Queries added while the driver's 50-entry correctness window is already
claimed by the current round's first-checks queue HERE and rotate into
the NEXT round's window. A query whose operator code materially changes
must also re-enter the window or this queue that round.

Pure data, importable by both tests/test_entry.py and
tools/check_oracle.py (ADVICE r8: the tool used to exec the test module
to read the queue, which ran test-file top-level code — this module has
no imports and no side effects, so loading it can never drag in pytest
fixtures or a SparkSession).
"""

# Round-13 queue: the r12 queue (51 entries) plus 9 new r13
# material-change obligations made 60 total; 47 rotated into the r13
# window (_R13_WINDOW in __spark_entry__.py). These 13 r12-touched
# entries did not fit and wait for the next window. All 13 were
# re-verified green under BOTH local gates (configured + VANILLA) at
# r13 close; none of their operator code changed again in r13 (the r13
# touches were TokenBlocker, evaluate_blocking, the LSH dedup family,
# dedup_method_agreement, clustering_coefficients, rfm_segments and
# the clustering driver-collect caps — every consumer of THOSE is in
# the r13 window).
ROTATION_QUEUE: set[str] = {
    # r12: StandardBlocker grew an opt-in probe-repartition knob
    # (blocking/standard.py, default OFF for these consumers)
    "blocking_standard",
    "blocking_standard_capped",
    "match_features",
    "match_fellegi_sunter",
    "match_llm_fake",
    "match_plm_fake",
    "ann_ivf",
    # r12: parse_quantity_expr modifier map-lookup (normalization/units.py)
    "extract_rules",
    # r12: detect_attribute_conflicts min/max aggregate (fusion/analysis.py)
    "fusion_conflicts",
    # r12: discover_inds single-job tagged union (profiling/dependencies.py)
    "profile_inds",
    # r12: cross_source_overlap gram-frame materialization (llmdata/cleaning.py)
    "text_contamination_matrix",
    # r12: detect_anomalies MAD from the shared histogram (profiling/profiler.py)
    "events_anomalies",
    "normalize_impute",
    # band/token/gram pair joins moved onto the blocking/base.py pair
    # kernel. The other eleven re-check obligations of that change
    # (blocking_token, blocking_token_capped, dedup_minhash,
    # dedup_simhash, dedup_ngram_jaccard, dedup_ngram_prefix,
    # dedup_containment, dedup_agreement, join_edit_distance,
    # join_edit_distance_capped, normalize_canonicalize) already sit in
    # the driver window, which the queue must not overlap.
    "dedup_embedding",
    "ann_lsh",
    # voting / longest_string pick element 0 with get() (NULL on an
    # all-null group instead of an ANSI index error; fusion/resolvers.py)
    "fusion_selection",
    "fusion_debug",
    # The clustering layer's driver-or-distributed policy moved into
    # clustering/base.py (one gate, collect cap, solver cap and
    # union-find) and the two broadcast ceilings became one. That
    # change reaches 36 queries: 23 sit in the driver window and the
    # other 13 are already in this queue (ann_lsh, dedup_embedding,
    # cluster_cc_distributed, cluster_centre,
    # cluster_greedy_one_to_one, cluster_hierarchical_avg,
    # cluster_hierarchical_max, fusion_conflict_detect,
    # fusion_conflicts, fusion_debug, fusion_numeric,
    # fusion_rule_suggest, fusion_selection).

    # driver-built frames now come from core/arrowio.py::rows_to_df
    # (an Arrow LocalRelation instead of createDataFrame(list)), the
    # readers go through pandas_to_df, connected components' auto
    # strategy counts the edges exactly before building its forest,
    # and evaluate_blocking's small-universe path no longer matches
    # null ids. The other 25 re-check obligations of that change sit
    # in the driver window.
    "blocking_sorted_neighbourhood",
    "cluster_cc_distributed",
    "cluster_centre",
    "cluster_greedy_one_to_one",
    "cluster_hierarchical_avg",
    "cluster_hierarchical_max",
    "dedup_semantic",
    "embed_ivfpq_topk",
    "embed_pq_encode",
    "embed_pq_topk",
    "eval_threshold_sweep",
    "events_new_users",
    "fusion_conflict_detect",
    "fusion_coverage",
    "fusion_numeric",
    "fusion_rule_suggest",
    "io_excel_roundtrip",
    "io_feather_roundtrip",
    "io_html_roundtrip",
    "io_id_injection",
    "io_pickle_roundtrip",
    "normalize_rank",
    "profile_benford",
    "profile_coverage",
    "profile_gini",
    "profile_keys",
    "profile_lorenz",
    "sample_mixture_plan",
    "sample_pps",
    "schema_duplicate_based",
    "schema_eval",
    "schema_instance_based",
    "schema_label_based",
    "schema_llm_fake",
    "text_quality_classifier",
    "text_search_phrase",
    "type_detection",
    "units_convert",
    "validators_quality",
    # Every partition width now comes from core/plansize.py
    # (core_width / probe_width / widen), the dedup verify broadcast
    # gate lost its override, StandardBlocker's probe repartition and
    # semantic_dedup_pairs emit through the pair kernel, and
    # EmbeddingBlocker's LSH re-score uses cosine_expr. That change
    # reaches 50 queries: 16 sit in the correctness window, 19 are
    # already queued (ann_lsh, blocking_sorted_neighbourhood,
    # cluster_centre, cluster_greedy_one_to_one, dedup_embedding,
    # dedup_semantic, eval_threshold_sweep, events_new_users,
    # io_id_injection, match_features, match_fellegi_sunter,
    # match_llm_fake, match_plm_fake, normalize_rank, profile_gini,
    # profile_keys, profile_lorenz, sample_pps,
    # text_contamination_matrix) and these 15 join the queue.
    "blocking_phonetic",
    "cluster_stable_matching",
    "eval_calibration",
    "join_grid_radius",
    "join_interval_overlap",
    "join_range",
    "match_date_numeric",
    "match_ml_linear",
    "match_rule_based",
    "match_uncertainty",
    "text_clean",
    "text_clean_multiline",
    "text_decontaminate",
    "text_line_dedup",
    "text_novelty",
    # InstanceBasedSchemaMatcher samples once per table and
    # GreedyOneToOneMatcher sorts its collected pairs on the driver. An
    # instrumented run of every queries() entry at sf0.001 found two
    # that reach either: schema_instance_based and
    # cluster_greedy_one_to_one, both queued above. get_spark's larger
    # codegen cache reaches every entry but changes no output.
    # bcubed_metrics computes driver-sized inputs on the driver and
    # driver_sized counts through core/plansize.py::counted, the solvers
    # collect through core/plansize.py::collect_bounded, and
    # evaluate_matching refuses a gold pair labelled both 1 and 0. An
    # instrumented run of every queries() entry at sf0.001 found 30
    # that reach any of them: 20 sit in the driver window and the other
    # 10 are queued above
    # (cluster_centre, cluster_greedy_one_to_one,
    # cluster_hierarchical_avg, cluster_hierarchical_max,
    # fusion_conflict_detect, fusion_conflicts, fusion_debug,
    # fusion_numeric, fusion_rule_suggest, fusion_selection). No entry
    # reaches DatasetNormalizer.
    # Every driver collect now goes through core/plansize.py::
    # driver_table (an exact count over a lazy checkpoint, then an Arrow
    # collect): connected components, greedy 1:1, bcubed, the three
    # driver-only solvers and EmbeddingBlocker's auto/brute gate. An
    # instrumented run of every queries() entry at sf0.001 found 30
    # that reach it or EmbeddingBlocker.block: 18 sit in the driver
    # window and the other 12 are queued above (ann_lsh,
    # dedup_embedding, cluster_centre, cluster_greedy_one_to_one,
    # cluster_hierarchical_avg, cluster_hierarchical_max,
    # fusion_conflict_detect, fusion_conflicts, fusion_debug,
    # fusion_numeric, fusion_rule_suggest, fusion_selection).
    # One checkpoint rule: every checkpoint outside a loop cut or a side
    # effect became lazy, and two read by one action were dropped.
    # tools/checkpoint_census.py over every queries() entry at sf0.001
    # found 53 that reach a changed checkpoint: 27 sit in the driver
    # window, 9 are queued above (blocking_sorted_neighbourhood,
    # cluster_cc_distributed, events_new_users, io_id_injection,
    # normalize_rank, profile_gini, profile_lorenz, sample_pps,
    # text_contamination_matrix) and these 17 join the queue.
    "eval_ari",
    "events_cooccurrence",
    "graph_bfs",
    "graph_feature_prop",
    "graph_kcore",
    "graph_label_prop",
    "graph_link_pred",
    "graph_modularity",
    "graph_pagerank_weighted",
    "graph_ppr",
    "normalize_rare_collapse",
    "profile_corr",
    "profile_heavy_hitters",
    "profile_histogram",
    "profile_key_skew",
    "profile_null_patterns",
    "text_span_remove",
}
