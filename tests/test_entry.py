"""Driver-contract sanity: entry(), queries()/oracle_sql() alignment."""

import __spark_entry__ as entry


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert {"id1", "id2", "score"} <= set(df.columns)


def test_queries_oracles_aligned():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, "no queries registered"
    # every oracle refers to a registered query
    assert set(oracles) <= set(qs)
    # every query has an oracle except declared rows-only ops (the driver
    # records a weaker check for those)
    ROWS_ONLY = {"ann_lsh", "ann_ivf"}
    missing = set(qs) - set(oracles) - ROWS_ONLY
    assert not missing, f"queries without oracle: {missing}"


def test_two_sample_queries_run(spark, sf_dir):
    qs = entry.queries()
    assert qs["tpch_q1"](spark, sf_dir).count() > 0
    out = qs["blocking_standard"](spark, sf_dir)
    assert out.columns == ["id1", "id2", "block_key"]


# The pinned rotation queue lives in tests/roster.py (importable pure
# data — ADVICE r8) so tools/check_oracle.py can read it without
# executing this test module. The tests below enforce the accounting.
from roster import ROTATION_QUEUE


def test_driver_window_arithmetic():
    """The driver records correctness for EXACTLY the first 50
    queries() entries (r03 shipped 51 in the 'first 50' group and
    silently pushed one query out — ADVICE r3). Pin the arithmetic:
    every query awaiting its first driver check sits inside the
    window, and the canaries hold their documented positions."""
    names = list(entry.queries())
    window = names[:50]
    assert len(set(window)) == 50
    # canaries/probes at positions 13-15 (r7: canary_hugeint DEMOTED
    # past 50 after two consecutive confirming reds — the r5 decision)
    assert window[12] == "canary_hash_safe"
    assert window[13] == "canary_hash_risky"
    assert window[14] == "probe_corpus_echo"
    assert names.index("canary_hugeint") >= 50
    # positions 1-12: the r13 pair-set-construction re-checks (the
    # blocker/LSH emission shapes changed in r13 — min-shared-key
    # dedup filters replaced the pair-dedup exchanges)
    r13_head = [
        "blocking_token", "eval_blocking", "dedup_minhash",
        "dedup_simhash", "dedup_ngram_jaccard", "dedup_containment",
        "dedup_ngram_prefix", "dedup_agreement", "dedup_incremental",
        "blocking_token_capped", "movies_parity", "dedup_lsh_recall",
    ]
    assert window[:12] == r13_head, f"r13 first-checks moved: {window[:12]}"
    # every remaining r13 material-change re-check + the two r12 new
    # queries getting their FIRST driver rows sit inside the window
    r13_rest = {
        "sample_split_leakage_safe", "sample_contrastive",
        "graph_pagerank", "dedup_canonical", "dedup_keep_best",
        "eval_bcubed", "text_corpus_cleanup", "graph_clustering_coef",
        "events_rfm", "eval_matching", "normalize_canonicalize",
        "cluster_connected_components", "cluster_consistency",
        "cluster_size_dist", "cluster_incremental",
        "cluster_hierarchical", "cluster_max_bipartite",
        "sample_pareto_front", "text_source_overlap",
        "join_edit_distance", "join_edit_distance_capped",
        "graph_hits", "blocking_meta", "blocking_meta_cnp",
        "blocking_progressive", "graph_triangles",
        "graph_assortativity", "profile_fds", "fusion_lists",
        "fusion_custom_resolver", "fusion_accuracy", "fusion_trust",
        "fusion_most_complete", "events_funnel", "text_span_dedup",
    }
    assert r13_rest <= set(window), f"fell out: {r13_rest - set(window)}"
    past_window = set(names[50:])
    missing = ROTATION_QUEUE - past_window - set(window)
    assert not missing, f"rotation-queue query vanished: {missing}"
    # queue entries must sit PAST the window (else they'd be counted as
    # checked this round while the queue still claims them)
    assert not (ROTATION_QUEUE & set(window)), (
        f"queued query inside the window: {ROTATION_QUEUE & set(window)}"
    )


def test_every_query_has_driver_row_or_awaits_one():
    """VERDICT r5 #1: four contract queries silently never rotated into
    any driver window r01-r05. Guard the invariant structurally: every
    queries() name must either (a) have a recorded row in some
    CORRECTNESS_r*.json, (b) sit inside the current 50-entry window
    (awaiting its first check next round), or (c) be listed in the
    rotation queue pinned above."""
    import glob
    import json
    import os

    names = list(entry.queries())
    window = set(names[:50])
    rotation_queue = ROTATION_QUEUE
    repo = os.path.dirname(os.path.abspath(entry.__file__))
    checked = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        checked |= set(json.load(open(path)))
    assert checked, "no CORRECTNESS_r*.json found"
    unaccounted = set(names) - checked - window - rotation_queue
    assert not unaccounted, (
        f"queries with no driver row, outside the window and the "
        f"rotation queue: {sorted(unaccounted)}"
    )


def test_check_oracle_gates_rotation_queue(spark):
    """VERDICT r7 #5: the hash-safe output convention must cover the
    rotation queue, not just the current window — a queue entry IS a
    future window member. Drive tools/check_oracle.py's per-query check
    end-to-end on a synthetic boolean-output query registered as a
    queue member and assert it FAILS on hash safety alone (no oracle
    needed to trip it)."""
    import os
    import sys

    import duckdb

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools"),
    )
    import check_oracle as co

    # the real queue is folded into the gated set
    assert co.rotation_queue() == ROTATION_QUEUE
    names = list(entry.queries())
    gated = co.gated_names(names)
    assert set(names[:50]) - co.HASH_SAFETY_EXEMPT <= gated
    assert ROTATION_QUEUE - co.HASH_SAFETY_EXEMPT <= gated

    def bool_query(spark, sf_dir):
        from pyspark.sql import functions as F
        return spark.range(3).select(
            F.col("id"), (F.col("id") % 2 == 0).alias("is_even")
        )

    con = duckdb.connect()
    err = co.check_query(
        spark, con, "fake_queued_bool", bool_query,
        "SELECT 1", "/root/testdata/sf0.001",
        gated | {"fake_queued_bool"},
    )
    assert err is not None and "hash-unsafe" in err, err
    # the same query sails through when NOT gated and oracle-less —
    # proving the failure above came from the queue gating
    err2 = co.check_query(
        spark, con, "fake_queued_bool", bool_query,
        None, "/root/testdata/sf0.001", gated,
    )
    assert err2 is None


def test_partition_independence_of_new_queries(spark):
    """Session-3 queries produce identical results under different
    shuffle-partition settings — the distributed-correctness property
    every oracle comparison silently relies on."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    names = [
        "text_search_hybrid", "text_bpe_segment", "sample_exact_k",
        "profile_key_skew", "text_vocab_coverage", "events_funnel",
        "tpch_grouping_sets", "text_rerank", "events_retention",
        "events_json", "events_sessionize_batch", "graph_pagerank",
        "io_cdc_upsert", "text_bpe_fertility", "text_gram_duplication",
        "sample_split_leakage_safe", "sample_contrastive",
        "dedup_agreement", "dedup_incremental",
        # round-5 additions
        "text_span_remove", "blocking_progressive", "units_convert",
        "normalize_locale",
        # round-6 additions
        "dedup_bloom_incremental", "units_normalize",
        # round-6 session-3 additions
        "join_edit_distance", "profile_corr", "profile_dispersion",
        "embed_kmeans",
        "profile_quantiles", "normalize_impute", "profile_join_fanout",
        "normalize_clip", "normalize_rare_collapse", "events_paths",
        "events_resample", "profile_sequence_gaps", "events_anomalies",
        "io_compaction_plan", "sample_mixture_plan", "sample_epoch_expand",
        "normalize_canonicalize", "eval_ari", "eval_calibration",
        "profile_null_patterns",
        # round-7 additions
        "join_edit_distance_capped", "fusion_custom_resolver",
        "events_attribution", "profile_histogram", "events_active_users",
        "normalize_encode", "normalize_urls", "blocking_key_report",
        "streaming_distinct_users", "graph_triangles",
        # round-8 additions
        "graph_clustering_coef", "graph_kcore", "events_session_report",
        "text_novelty", "dedup_keep_best", "text_script_detect",
        "streaming_sliding", "profile_benford", "cluster_max_bipartite",
        "io_pit_join", "events_cohort_value", "profile_drift",
        "eval_bcubed", "normalize_mask", "events_conversion_lag",
        # round-9 additions
        "cluster_hierarchical_max", "cluster_hierarchical_avg",
        "graph_label_prop", "io_rendezvous_shards", "text_search_phrase",
        "graph_ppr", "profile_numeric_drift",
        # round-9 session-2 additions
        "graph_link_pred", "join_interval_overlap", "events_rfm",
        "graph_bfs", "normalize_kanonymity", "normalize_value_clusters",
        "events_cooccurrence", "profile_value_runs",
        "profile_changepoint", "events_experiment", "graph_hits",
        "graph_pagerank_weighted", "normalize_rank",
        "profile_topk_per_group", "io_orc_roundtrip", "profile_gini",
        "events_new_users",
        # round-10 additions
        "multimodal_phash", "graph_modularity", "graph_feature_prop",
        "graph_assortativity", "profile_lorenz", "events_bots",
        "sample_pps", "text_encoding",
        # round-11 additions
        "fusion_coverage", "fusion_conflict_detect", "fusion_rule_suggest",
        "profile_heavy_hitters",
    ]
    def none_safe(t):
        # a NULL category (profile_drift) is a legitimate output value;
        # bare tuple sorting can't compare None with str
        return tuple((v is None, v) for v in t)

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n_part in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            for name in names:
                rows = sorted(
                    (tuple(r) for r in qs[name](spark, sf).collect()),
                    key=none_safe,
                )
                if name in results:
                    assert results[name] == rows, f"{name} differs at {n_part}"
                else:
                    results[name] = rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_public_defs_are_reached():
    """Every public top-level function under pydi_spark/ is reached:
    named in __spark_entry__.py, in another package module, in its own
    module beyond its ``def`` (a helper of a reached function), in a
    SURVEY.md §2 line or a COVERAGE.md row — or registered by name
    through a decorator call (the fusion ``RESOLVERS`` registry). A
    function that only tests reach is surface without a user."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    files = sorted((root / "pydi_spark").rglob("*.py"))
    texts = {f: f.read_text() for f in files}
    survey = (root / "SURVEY.md").read_text()
    refs = [
        (root / "__spark_entry__.py").read_text(),
        survey[survey.index("## 2."):survey.index("## 3.")],
        "\n".join(
            line for line in (root / "COVERAGE.md").read_text().splitlines()
            if line.startswith("|")
        ),
    ]
    unreached = []
    for f in files:
        for node in ast.parse(texts[f]).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            if any(isinstance(d, ast.Call) for d in node.decorator_list):
                continue
            word = re.compile(rf"\b{node.name}\b")
            if (
                any(word.search(t) for t in refs)
                or any(word.search(texts[g]) for g in files if g != f)
                or len(word.findall(texts[f])) > 1
            ):
                continue
            unreached.append(f"{f.relative_to(root)}::{node.name}")
    assert not unreached, "public defs nothing reaches:\n" + "\n".join(unreached)
