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
}
