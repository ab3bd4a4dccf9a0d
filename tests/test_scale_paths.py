"""Physical-plan proofs of the 100 TB scale paths SCALE.md promises:
partition pruning on partitioned writes, exchange-free bucketed joins,
and filter pushdown to parquet scans."""

import pytest


def _plan(df):
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_partitioned_write_prunes(spark, tmp_path, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_by_priority")
    orders.write.partitionBy("o_orderpriority").parquet(path)
    back = spark.read.parquet(path).where("o_orderpriority = '1-URGENT'")
    plan = _plan(back)
    # the filter must become a partition filter on the scan, not a
    # post-scan Filter over all partitions
    assert "PartitionFilters" in plan
    assert "1-URGENT" in plan.split("PartitionFilters", 1)[1].split("\n")[0]
    n_all = orders.where("o_orderpriority = '1-URGENT'").count()
    assert back.count() == n_all


def test_filter_and_projection_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where("l_quantity < 5").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    # predicate reaches the scan and the schema is pruned to 2 columns
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1].split("\n")[0]
    assert "LessThan(l_quantity" in pushed
    read_schema = plan.split("ReadSchema", 1)[1].split("\n")[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert read_schema.count(",") == 1  # exactly two columns scanned


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # tables land in the session's spark-warehouse (gitignored)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
        "overwrite"
    ).saveAsTable("t_cust_b")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable("t_ord_b")
    a = spark.table("t_cust_b")
    b = spark.table("t_ord_b")
    # disable broadcast so the co-location is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, a["c_custkey"] == b["o_custkey"]).select(
            "c_custkey", "o_orderkey"
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_operators_total_on_empty_inputs(spark):
    """Every core operator is TOTAL on empty inputs — returns an empty
    frame instead of crashing (the contrastive_pairs(k=0) bug class).
    Round-5 pinned 20 ops; round-6 (VERDICT r5 #8) widens the pin to
    the full llmdata surface — the widening sweep found and fixed four
    real crashes (LSH dim probe on an empty frame, k-means/IVF on an
    empty sample, PQ + quality-classifier trainers on empty corpora)."""
    import pyspark.sql.functions as F

    from pydi_spark.blocking import meta_blocking, progressive_pairs
    from pydi_spark.clustering.connected_components import (
        connected_components,
    )
    import pydi_spark.llmdata as m
    from pydi_spark.llmdata import (
        bm25_scores,
        brute_force_topk,
        exact_duplicates,
        exact_k_sample,
        inverted_index,
        mean_pool,
        minhash_near_duplicates,
        ngram_jaccard_duplicates,
        pack_sequences,
        quality_filter,
        quantize_int8,
        remove_repeated_spans,
        select_token_budget,
        simhash_near_duplicates,
        tfidf_keywords,
        vocabulary,
        zipf_table,
    )

    docs = spark.createDataFrame([], "doc_id long, text string, source string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    pairs = spark.createDataFrame([], "id1 string, id2 string")
    assign = spark.createDataFrame([], "rid string, block_key string")
    cases = [
        exact_duplicates(docs), minhash_near_duplicates(docs),
        simhash_near_duplicates(docs), ngram_jaccard_duplicates(docs),
        vocabulary(docs), tfidf_keywords(docs), zipf_table(docs),
        inverted_index(docs), bm25_scores(docs, ["x"]),
        quality_filter(docs), remove_repeated_spans(docs),
        select_token_budget(docs, 100), pack_sequences(docs, 64),
        exact_k_sample(docs.select("doc_id"), 5, key_col="doc_id"),
        mean_pool(emb, "label"), quantize_int8(emb),
        brute_force_topk(emb, emb, k=3), connected_components(pairs),
        meta_blocking(assign), progressive_pairs(assign, 10),
    ]
    # round-6 widening: the rest of the llmdata DataFrame surface
    cand = spark.createDataFrame([], "doc_id string, rank int")
    seg = spark.createDataFrame(
        [], "word string, freq long, sym string, pieces string"
    )
    nonempty_q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    cb = [[[0.0, 0.0], [1.0, 1.0]]]
    cases += [
        m.blocklist_filter(docs, ["bad"]),
        m.canonical_corpus(docs, pairs),
        m.chunk_documents(docs),
        m.clean_document_lines(docs),
        m.contrastive_pairs(pairs, docs),
        m.cosine_rank(emb, [1.0, 0.0]),
        m.cross_source_overlap(docs),
        m.decontaminate(docs, docs),
        m.dedup_corpus_lines(docs),
        m.dedup_method_agreement(docs),
        m.deterministic_sample(docs, 0.5, "doc_id"),
        m.document_fingerprint(docs),
        m.dsir_scores(docs, F.col("source") == "a"),
        m.embedding_near_duplicates(emb),
        m.exact_span_stats(docs),
        m.gram_duplication(docs),
        m.hybrid_rrf_topk(docs, emb, ["x"], [1.0, 0.0]),
        m.incremental_minhash_dedup(docs, m.minhash_signature_table(docs)),
        m.ivf_topk(emb, emb, k=2),
        m.language_id(docs),
        m.leakage_safe_split(docs, pairs),
        m.linear_quality_classifier(docs, [0] * 256),
        m.lsh_recall_probe(docs, sample_k=10),
        m.lsh_topk(emb, emb, k=2),
        # asymmetric edges: one side empty, the other not
        m.lsh_topk(nonempty_q, emb, k=2),
        m.ivf_topk(emb, nonempty_q, k=2),
        m.pagerank_micro(pairs),
        m.quality_scores(docs),
        m.quality_weighted_sample(
            docs.withColumn("w", F.lit(1.0)), "w", "doc_id", 0.5
        ),
        m.repetition_scores(docs),
        m.rerank_topk(cand, docs, ["x"]),
        m.rrf_fuse([cand, cand], id_col="doc_id"),
        m.semantic_dedup_pairs(emb),
        m.temperature_mix(docs, 0.5),
        m.token_counts(docs),
        m.unigram_lm_scores(docs),
        m.vocab_coverage(docs, ["x"]),
        m.word_frequencies(docs),
        m.bpe_segment(seg.select("word", "freq"), [("a", "b")]),
        m.bpe_fertility(docs, [("a", "b")]),
        m.piece_stats(seg.select("word", "freq", "pieces")),
        m.pair_counts(seg.select("word", "freq", "sym")),
        m.kmeans_assign(emb, [[0, 0]]),
        m.pq_encode(emb, cb),
        m.pq_adc_topk(m.pq_encode(emb, cb), cb, [1.0, 0.0], k=2),
        m.ivfpq_topk(emb, [[0.0, 0.0]], cb, [1.0, 0.0], k=2),
    ]
    for df in cases:
        assert df.count() == 0
    # tuple-returning op: (kept, attrition report with fixed stages)
    kept, report = m.corpus_cleanup(docs, ["bad"])
    assert kept.count() == 0 and report.count() > 0
    # round-7 widening: the new analytics/prep operators
    from pydi_spark.blocking import blocking_key_report
    from pydi_spark.events import active_users, attribute_conversions
    from pydi_spark.functions import edit_distance_join
    from pydi_spark.functions.urls import canonical_url
    from pydi_spark.normalization import encode_categories
    from pydi_spark.profiling import equi_width_histogram

    ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, event_type string"
    )
    num = spark.createDataFrame([], "x double")
    cat = spark.createDataFrame([], "v string")
    s2 = spark.createDataFrame([], "id string, s string")
    empty_r7 = [
        attribute_conversions(ev, ["click"], "purchase"),
        active_users(ev.select("user_id", "ts")),
        encode_categories(cat, "v"),
        encode_categories(cat, "v", method="frequency"),
        s2.select(canonical_url("s")),
        edit_distance_join(s2, None, "s", id_column="id",
                           max_gram_frequency=5),
    ]
    for df in empty_r7:
        assert df.count() == 0
    # report-shaped ops return their fixed-shape rows, never crash
    assert equi_width_histogram(num, "x").collect() == [
        __import__("pyspark").sql.Row(bucket=-1, n=0)
    ]
    assert equi_width_histogram(num, "x", lo=0.0, hi=1.0).count() == 20
    kr = blocking_key_report(cat, ["v"]).collect()
    assert len(kr) == 1 and kr[0]["n_rows"] == 0
    # round-9 widening: the session-2 operator batch
    from pydi_spark.events import (
        event_cooccurrence, experiment_report, new_users_curve,
        rfm_segments,
    )
    from pydi_spark.functions import (
        global_running_sum, interval_overlap_join, rank_normalize,
        top_k_per_group,
    )
    from pydi_spark.llmdata import (
        hits_micro, link_prediction_scores, weighted_pagerank_micro,
    )
    from pydi_spark.normalization import (
        k_anonymity_report, value_cluster_report,
    )
    from pydi_spark.profiling import changepoint_report, value_runs

    ev2 = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, "
            "event_type string, value double, variant string"
    )
    iv = spark.createDataFrame([], "k long, s double, e double")
    dedges = spark.createDataFrame([], "src string, dst string")
    wedges = spark.createDataFrame(
        [], "id1 string, id2 string, weight int"
    )
    empty_r9 = [
        link_prediction_scores(pairs),
        interval_overlap_join(iv, iv, ("s", "e"), ("s", "e"), by="k",
                              bucket_width=1.0),
        rfm_segments(ev2),
        experiment_report(ev2, "variant", "purchase"),
        event_cooccurrence(ev2, ["user_id"], "event_type"),
        new_users_curve(ev2),
        k_anonymity_report(cat, ["v"]),
        value_cluster_report(cat, "v"),
        value_runs(ev2, ["user_id"], "event_id", "event_type"),
        changepoint_report(ev2, ["user_id"], "event_id", "value"),
        hits_micro(dedges),
        weighted_pagerank_micro(wedges),
        # integral frame: global_running_sum now REFUSES fractional
        # value columns (ADVICE r9 — exact long arithmetic contract)
        global_running_sum(
            spark.createDataFrame([], "x long"), ["x"], "x"
        ),
        rank_normalize(num, "x"),
        top_k_per_group(ev2, ["user_id"], ["event_id"], 3),
    ]
    for df in empty_r9:
        assert df.count() == 0
    # one-row report shapes on empty input
    g = __import__("pydi_spark.profiling", fromlist=["gini_concentration"])
    assert g.gini_concentration(num, "x").collect()[0]["gini_ppm"] == 0
    # bfs refuses an empty SEED set loudly (a silent {} would look
    # like an isolated seed set) but is total on empty EDGES
    from pydi_spark.llmdata import bfs_hops

    seeds1 = spark.createDataFrame([("a",)], "id string")
    assert bfs_hops(pairs, seeds1, 2).count() == 1  # the seed at hops 0
    with pytest.raises(ValueError, match="empty seed"):
        bfs_hops(pairs, spark.createDataFrame([], "id string"), 2)

    # round-10 widening: graph audits read all-zero rows on the empty
    # graph (never all-NULL); row-shaped ops are empty; lorenz REFUSES
    # an empty value column loudly (a fabricated flat curve would hide
    # a broken upstream filter)
    from pydi_spark.events import bot_report
    from pydi_spark.llmdata import (
        degree_assortativity, feature_propagation, modularity_score,
    )
    from pydi_spark.profiling import lorenz_curve

    mod0 = modularity_score(
        pairs, spark.createDataFrame([], "id string, community string")
    ).collect()[0]
    assert (mod0["n_nodes"], mod0["m_edges"], mod0["q_num"],
            mod0["q"]) == (0, 0, 0, 0.0)
    as0 = degree_assortativity(pairs).collect()[0]
    assert (as0["n_nodes"], as0["m_edges"], as0["r_num"],
            as0["r"]) == (0, 0, 0, 0.0)
    assert feature_propagation(
        pairs, spark.createDataFrame([], "id string, value_micro long"),
        n_iter=1,
    ).count() == 0
    assert bot_report(ev2).count() == 0
    with pytest.raises(ValueError, match="no non-null"):
        lorenz_curve(num, "x").collect()

    # trainers on empty input fail FAST with a clear message — a silent
    # NaN/garbage model is the failure mode these guards close
    assert m.train_bpe_merges(docs, n_merges=3) == []
    with pytest.raises(ValueError, match="empty"):
        m.train_pq_codebooks(emb, n_subspaces=2, n_centroids=2)
    with pytest.raises(ValueError, match="empty"):
        m.train_quality_classifier(docs, docs)


def test_zorder_key_matches_reference(spark):
    """zorder_key == the textbook Morton interleave, and zorder_key_sql
    is the same function (one generator emits both engines' terms)."""
    import duckdb

    from pydi_spark.io import zorder_key, zorder_key_sql

    def morton(x, y, bits=10):
        k = 0
        for j in range(bits):
            k |= ((x >> j) & 1) << (2 * j)
            k |= ((y >> j) & 1) << (2 * j + 1)
        return k

    rows = [(x, y) for x in (0, 1, 2, 3, 511, 1023) for y in (0, 1, 513, 1023)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["k"]
        for r in df.select("x", "y", zorder_key(["x", "y"], 10).alias("k")).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == morton(x, y), (x, y)
    sql = zorder_key_sql(["x", "y"], 10)
    for x, y in rows:
        v = duckdb.sql(f"SELECT {sql} AS k FROM (SELECT {x} AS x, {y} AS y)").fetchone()[0]
        assert v == morton(x, y)
    with pytest.raises(ValueError):
        zorder_key(["a"] * 7, bits=10)  # 70 bits > signed long


def test_zorder_layout_prunes_nonsorted_dimension(spark, tmp_path):
    """The point of the layout: a single-column x-sort leaves y
    unconstrained — EVERY row group's y min/max spans the domain, so a
    filter on y alone reads everything. Z-order interleaves both, so
    each row group bounds BOTH dimensions and a y-window overlaps only
    a fraction of groups. Asserted from real parquet footer statistics
    (min/max pruning is exactly what the reader does with them)."""
    import glob as g

    import pyarrow.parquet as pq

    import pyspark.sql.functions as F
    from pydi_spark.io import write_zordered

    n, dom = 60_000, 1 << 10
    df = (
        spark.range(n)
        .select(
            (F.col("id") * 2654435761 % dom).alias("x"),
            (F.col("id") * 40503 % dom).alias("y"),
        )
    )

    def rowgroup_boxes(path):
        boxes = []
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg)
                sx = st.column(idx["x"]).statistics
                sy = st.column(idx["y"]).statistics
                boxes.append((sx.min, sx.max, sy.min, sy.max))
        assert boxes
        return boxes

    z_path = str(tmp_path / "z")
    s_path = str(tmp_path / "xsorted")
    write_zordered(df, z_path, ["x", "y"], bits=10, num_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.parquet(s_path)
    )
    lo, hi = 256, 319  # a 1/16-of-domain window on y ONLY
    zb, sb = rowgroup_boxes(z_path), rowgroup_boxes(s_path)

    def overlapping(boxes):
        return sum(1 for _, _, ymin, ymax in boxes if ymin <= hi and ymax >= lo)

    z_frac = overlapping(zb) / len(zb)
    s_frac = overlapping(sb) / len(sb)
    # x-sorted: y unconstrained everywhere -> ~every group overlaps.
    # Z-order: the key's top bits pin y quadrants -> most groups skip.
    assert s_frac > 0.9, (s_frac, len(sb))
    assert z_frac <= s_frac / 2, (z_frac, s_frac)
    # and the layout never changes answers
    expect = df.where(F.col("y").between(lo, hi)).count()
    assert spark.read.parquet(z_path).where(
        F.col("y").between(lo, hi)
    ).count() == expect
    assert spark.read.parquet(z_path).count() == n
