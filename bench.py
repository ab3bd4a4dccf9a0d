"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each timed run executes the full lazy plan to completion via a count-ish
action (``write to noop`` would be ideal; ``count`` after a cache-free
plan measures scan+compute+shuffle honestly).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "blocking_standard",
    "blocking_token",
    "blocking_sorted_neighbourhood",
    "match_rule_based",
    "match_date_numeric",
    "cluster_connected_components",
    "fusion_numeric",
    "fusion_selection",
    "dedup_minhash",
    "dedup_exact",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_stats",
    "text_langid",
    "ann_topk",
    "ann_lsh",
    "streaming_windowed",
    "streaming_sessionize",
    "units_normalize",
    "fusion_lists",
    "schema_duplicate_based",
    "cluster_cc_distributed",
    "match_ml_linear",
    "join_asof",
    "tpch_window",
    "text_clean",
    "text_decontaminate",
    "text_quality_filter",
    "dedup_canonical",
    "tpch_q5",
    "text_search_bm25",
    "text_span_dedup",
    "tpch_q10",
    "tpch_q19",
    "tpch_q13",
    "tpch_q22",
    "streaming_join",
    # round-4 additions
    "tpch_q9",
    "tpch_q15",
    "tpch_q17",
    "text_line_dedup",
    "dedup_semantic",
    "text_lm_score",
    "sample_quality_weighted",
    # round-4 session-2 additions
    "tpch_q12",
    "tpch_q21",
    "text_zipf",
    "text_contamination_matrix",
    "sample_dsir",
    "embed_pq_topk",
    "tpch_q2",
    "blocking_meta",
    # round-4 session-3 additions
    "text_search_hybrid",
    "text_bpe_segment",
    "dedup_incremental",
    "sample_exact_k",
    "profile_key_skew",
    "text_rerank",
    "text_vocab_coverage",
    "tpch_grouping_sets",
    "events_funnel",
    "events_retention",
    "events_json",
    "events_sessionize_batch",
    # round-5 additions
    "text_span_remove",
    # round-6 additions
    "dedup_bloom_incremental",
    "io_zorder_key",
    # round-6 session-2 additions
    "match_fellegi_sunter",
    "blocking_phonetic",
    "join_grid_radius",
    "io_table_diff",
    "dedup_containment",
    "profile_fds",
    "profile_inds",
    "normalize_fd_repair",
    "profile_keys",
    "io_scd2",
    "io_schema_union",
    # round-6 session-3 additions (join_edit_distance stays out: its
    # tiny-gram-vocabulary candidate volume on Customer#-style names is
    # the blocking_token cost class — measured ~13 s at sf0.1)
    "profile_corr",
    "profile_dispersion",
    "embed_kmeans",
    "profile_quantiles",
    "normalize_impute",
    "profile_join_fanout",
    "normalize_clip",
    "normalize_rare_collapse",
    "events_paths",
    "events_resample",
    "profile_sequence_gaps",
    "events_anomalies",
    "io_compaction_plan",
    "sample_mixture_plan",
    "sample_epoch_expand",
    "eval_ari",
    "eval_calibration",
    "profile_null_patterns",
    # round-7 additions (join_edit_distance_capped stays out like its
    # uncapped sibling: same candidate-volume class on customer names)
    "fusion_custom_resolver",
    "events_attribution",
    "profile_histogram",
    "events_active_users",
    "normalize_encode",
    "normalize_urls",
    "blocking_key_report",
    "streaming_distinct_users",
    "graph_triangles",
    # round-8 additions
    "graph_clustering_coef",
    "graph_kcore",
    "events_session_report",
    "text_novelty",
    "dedup_keep_best",
    "text_script_detect",
    "streaming_sliding",
    "profile_benford",
    "cluster_max_bipartite",
    "io_pit_join",
    "events_cohort_value",
    "profile_drift",
    "eval_bcubed",
    "normalize_mask",
    "events_conversion_lag",
    # round-9 additions
    "cluster_hierarchical_max",
    "cluster_hierarchical_avg",
    "graph_label_prop",
    "io_rendezvous_shards",
    "text_search_phrase",
    "graph_ppr",
    "profile_numeric_drift",
    "graph_link_pred",
    "join_interval_overlap",
    "events_rfm",
    "graph_bfs",
    "normalize_kanonymity",
    "normalize_value_clusters",
    "events_cooccurrence",
    "profile_value_runs",
    "profile_changepoint",
    "events_experiment",
    "graph_hits",
    "graph_pagerank_weighted",
    "normalize_rank",
    "profile_topk_per_group",
    "io_orc_roundtrip",
    "profile_gini",
    "events_new_users",
    # round-10 additions
    "multimodal_phash",
    "graph_modularity",
    "graph_feature_prop",
    "graph_assortativity",
    "profile_lorenz",
    "events_bots",
    "sample_pps",
    "text_encoding",
    # round-11 additions
    "fusion_coverage",
    "fusion_conflict_detect",
    "fusion_rule_suggest",
    "profile_heavy_hitters",
    "sample_proportional",
    "sample_pareto_front",
    "text_source_overlap",
    # round-12 session-3 additions: the heaviest NON-bench queries found
    # by timing the full declared roster (OPTIMIZATION_r12.md §§10-13) —
    # added so the operators optimized there stay perf-guarded
    # (additions only; the driver contract never removes or renames)
    "cluster_hierarchical",
    "eval_blocking",
    "eval_matching",
    "movies_parity",
    "join_edit_distance",
    "normalize_canonicalize",
    "dedup_agreement",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as entry
    from pydi_spark import get_spark

    spark = get_spark("bench", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()

    # SPARK_GRAFT_BENCH_ONLY=a,b restricts this RUN to a query subset
    # (minima chasing in short quiet windows). The sidecar prune and
    # its totals stay keyed to the FULL BENCH_QUERIES list, so a
    # subset run can only improve bests, never evict or skew history;
    # the official stdout record of a subset run is partial by
    # construction and must not be cited as a headline.
    only = {
        q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q
    }
    bench_queries = [q for q in BENCH_QUERIES if not only or q in only]

    # warm the JVM (JIT, shuffle paths, Python workers) and the codegen
    # class cache with one pass of every query at the smallest SF —
    # timings then measure the engine, not JIT cold-start. The pass
    # generates about 2,250 classes, so it warms codegen only because
    # get_spark's spark.sql.codegen.cache.maxEntries holds them all: at
    # Spark's default of 100 each query evicted the classes of the last
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in bench_queries:
            try:
                qs[name](spark, warm_dir).count()
            except Exception as exc:
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def _drop_block_garbage() -> None:
        # hygiene between passes: a python+JVM GC lets the
        # ContextCleaner release dead localCheckpoint blocks and
        # broadcasts from earlier queries so every pass starts from
        # the same storage state. (Measured effect is neutral on a
        # quiet host — the 20-30 s blocking_token outliers seen in r9
        # bench runs were EXTERNAL host contention, reproduced at the
        # same magnitude in a fresh session on identical code — but
        # pass-independent storage keeps the minima honest.)
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    _drop_block_garbage()
    # best-of-N per query: single-shot timings on a shared host swing
    # up to 3x with ambient load; the minimum measures the engine.
    # Passes are INTERLEAVED (all queries once, then all again) so a
    # query's N samples are minutes apart — back-to-back samples both
    # land inside the same ambient spike and the minimum learns
    # nothing (round-5: blocking_token recorded 11.9 s in a driver
    # bench vs 4.0 s warm-isolated on identical code+data). Default 3
    # passes: the third temporally-spread sample keeps ambient spikes
    # out of the minima (a same-day A/B at 98 queries recorded 160 s
    # with 2 passes vs 126 s with 3 on identical code) and costs
    # ~1.5 min because the sf0.001 warmup dominates wall time.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(runs):
        for name in bench_queries:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            counts[name] = df.count()
            el = time.perf_counter() - t0
            timings[name] = min(timings.get(name, float("inf")), el)
            del df
        _drop_block_garbage()
    for name in bench_queries:
        timings[name] = round(timings[name], 3)
        print(f"# {name}: {timings[name]:.3f}s ({counts[name]} rows, "
              f"best of {runs} interleaved)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Cross-RUN minima merge (VERDICT r9 #6): one contended window can
    # inflate a whole BENCH_rN headline (r9's 278.9 s vs a quiet 7.2 s
    # dedup_incremental). Persist per-query best-of-ALL-runs into a
    # sidecar so the round's closing record can cite minima that span
    # every sample taken, not just this process's N passes. Each best
    # records the git HEAD it was measured at — a best taken on since-
    # changed code is visibly stale (compare the sha) and the sidecar
    # resets per sf or via SPARK_GRAFT_BENCH_RESET=1. The sidecar never
    # touches stdout: the driver's official record stays this run's own
    # timings.
    try:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip() or "unknown"
    except Exception:
        head = "unknown"
    minima_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_minima.json"
    )
    # the entire merge is best-effort: a malformed sidecar (valid JSON,
    # wrong shape) must never crash the run AFTER the timing passes and
    # BEFORE the official stdout record — fall back to a fresh file
    try:
        merged = {"sf": sf_val, "queries": {}}
        if not os.environ.get("SPARK_GRAFT_BENCH_RESET"):
            try:
                with open(minima_path) as fh:
                    prev = json.load(fh)
                pq = prev.get("queries")
                if prev.get("sf") == sf_val and isinstance(pq, dict) and all(
                    isinstance(v, dict) and "best" in v and "n" in v
                    for v in pq.values()
                ):
                    merged = prev
            except Exception:
                pass
        mq = merged["queries"]
        # prune entries for queries no longer in BENCH_QUERIES (ADVICE
        # r10: stale bests would otherwise accumulate forever and skew
        # the max-samples stderr stat over dead keys). Membership, not
        # this run's timings: a transiently-errored query must not
        # lose its history
        for name in list(mq):
            if name not in BENCH_QUERIES:
                del mq[name]
        for name, t in timings.items():
            e = mq.get(name)
            if e is None or t < e["best"]:
                mq[name] = {"best": t, "n": (e["n"] if e else 0) + runs,
                            "head": head}
            else:
                e["n"] += runs
        # totals over the PRUNED sidecar (== BENCH_QUERIES members with
        # any history), not this run's timings — identical on a full
        # run, and keeps subset runs (SPARK_GRAFT_BENCH_ONLY) from
        # shrinking the recorded total to the subset
        merged["total_best"] = round(
            sum(v["best"] for v in mq.values()), 3
        )
        merged["n_queries"] = len(mq)
        with open(minima_path, "w") as fh:
            json.dump(merged, fh, indent=1, sort_keys=True)
        print(
            f"# merged minima: total_best={merged['total_best']}s over "
            f"{merged['n_queries']} queries "
            f"(max samples/query: {max(v['n'] for v in mq.values())}; "
            f"sidecar {os.path.basename(minima_path)})",
            file=sys.stderr,
        )
    except Exception as exc:
        print(f"# minima sidecar merge failed: {exc}", file=sys.stderr)
    # Full per-query map first (own line, for humans / log scrapers)...
    print(
        json.dumps(
            {
                "metric": "pydi_spark_headline_queries_full",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    # ...then a compact FINAL line. The driver keeps only the last
    # ~2,000 chars of output and parses the final JSON line; at 98
    # queries the full map is >2,000 chars and r6's official record
    # came back "parsed": null (VERDICT r6 #2). The final line carries
    # the headline total plus the 20 slowest per-query timings (the
    # set the perf history tracks) and stays well under the cap.
    # degrade gracefully: if 20 entries ever overflow the cap, shrink
    # the list rather than letting the final line blow the tail parse
    # (an assert here would reproduce the exact failure it guards)
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    for top_n in range(20, 0, -1):
        line = json.dumps(
            {
                "metric": "pydi_spark_headline_queries",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": dict(ranked[:top_n]),
            }
        )
        if len(line) < 1900:
            break
    print(line)


if __name__ == "__main__":
    main()
