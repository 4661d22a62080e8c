"""Physical-plan regression tests: the scale properties the engine
promises (predicate pushdown, column pruning, broadcast join selection,
partition pruning, no Python UDFs in relational paths) must survive
refactors. These inspect `executedPlan`, the same way a human audits
with .explain("formatted").
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_and_column_pruning(spark):
    from newsify_spark.queries import REGISTRY

    df = REGISTRY["rel_pricing_summary"].fn(spark, SF_DIR)
    full = _analyzed(df)
    # the shipdate range predicate must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in full, full[
        full.find("FileScan") : full.find("FileScan") + 400
    ]
    assert "LessThanOrEqual(l_shipdate" in full
    # scan must read only the 7 referenced columns, not all 11
    m = re.search(r"FileScan parquet \[([^\]]*)\]", full)
    assert m and len(m.group(1).split(",")) == 7, m and m.group(1)


def test_dim_joins_are_broadcast(spark):
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["rel_revenue_by_nation"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_revenue_preaggregates_before_dim_joins(spark):
    """r12: the per-order revenue rollup must sit BELOW every join — the
    dim joins probe one row per order, not one per lineitem, and the
    orderkey exchange carries (key, partial sum) with no dim strings."""
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["rel_revenue_by_nation"].fn(spark, SF_DIR))
    first_join = plan.find("Join")
    first_agg = plan.find("HashAggregate")
    assert 0 < first_join, plan
    # the plan string is printed root-first, so the lineitem pre-agg
    # (deepest operator) appears AFTER the joins in the text; the final
    # nation-level aggregate appears BEFORE them. Assert both exist and
    # that an aggregate sits below the deepest join: the last
    # HashAggregate in the text must come after the last Join.
    assert plan.rfind("HashAggregate") > plan.rfind("Join"), plan
    assert first_agg < first_join, plan


def test_interactions_spread_is_keyed(spark):
    """r12: the small-fixture events spread hashes on user_id (no
    round-robin sort; the (user,item) groupBy reuses the exchange)."""
    from newsify_spark.queries.recommend import interactions_with_ts
    from newsify_spark.tables import load

    # this asserts the UNCACHED plan shape: if an earlier test left this
    # rollup in the CacheManager, the plan would resolve to an
    # InMemoryRelation whose stored AQE plan prints its one exchange
    # twice (Initial + Final sections), breaking the string count
    spark.catalog.clearCache()
    df = interactions_with_ts(load(spark, SF_DIR, "events"))
    plan = _plan(df)
    assert "RoundRobinPartitioning" not in plan, plan
    # exactly one exchange: the keyed spread satisfies the groupBy's
    # clustering requirement, so no second hash exchange is planned
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_no_python_udf_in_relational_paths(spark):
    from newsify_spark.queries import REGISTRY

    for name in [
        "rel_pricing_summary",
        "rel_interaction_scores",
        "vec_cosine_pairs",
        "doc_minhash_signatures",
        "doc_simhash",
        "rec_hybrid_topk",
    ]:
        plan = _plan(REGISTRY[name].fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_whole_stage_codegen_present(spark):
    from newsify_spark.queries import REGISTRY

    df = REGISTRY["rel_pricing_summary"].fn(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    # WholeStageCodegenExec prints as "*(n)" prefixes in plan strings
    assert re.search(r"\*\(\d+\)", plan), plan[:500]


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Gold tables written partitionBy(day) must partition-prune reads —
    the 100 TB access pattern for event data."""
    from newsify_spark.tables import load

    ev = load(spark, SF_DIR, "events")  # ts normalized across encodings
    out = str(tmp_path / "events_by_day")
    (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("day")
        .parquet(out)
    )
    one_day = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    full = _analyzed(one_day)
    # pruned scan: partition filters present; and far fewer files than total
    assert "PartitionFilters: [isnotnull(day" in full
    assert one_day.count() > 0


def test_exchange_reuse_in_flagship(spark):
    """The interactions table is computed once for its consumers: the
    flagship reads it as a checkpointed ExistingRDD, and its executed
    plan scans no events parquet."""
    from newsify_spark.queries import REGISTRY

    df = REGISTRY["rec_hybrid_topk"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan, plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans and not any("props" in cols for cols in scans), scans
    assert not any("events" in f for f in df.inputFiles()), df.inputFiles()


def test_flagship_aggregates_label_stats_once(spark, monkeypatch):
    """The per-label popularity / freshness aggregate runs once per
    flagship call: its partial aggregate appears once across the final
    plans of the call's checkpoints and of the query itself (the global
    range aggregate reads it through a ReusedExchange), where its four
    consumers each planned their own."""
    from pyspark.sql.classic.dataframe import DataFrame

    from newsify_spark.queries import REGISTRY

    checkpointed = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        out = orig(self, *a, **k)
        checkpointed.append(self)
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    df = REGISTRY["rec_hybrid_topk"].fn(spark, SF_DIR)
    df.collect()  # finalizes df's own adaptive plan (a write would plan anew)
    final = []
    for d in checkpointed + [df]:
        plan = _plan(d)
        assert "isFinalPlan=true" in plan, plan[:300]
        final.append(plan.split("== Initial Plan ==")[0])
    # the centroid builder's HashAggregate(keys=[label, pos]) and
    # ObjectHashAggregate(keys=[label]) do not match
    label_aggs = re.findall(
        r"(?<!Object)HashAggregate\(keys=\[label#\d+\], functions=\[partial_",
        "\n".join(final),
    )
    assert len(label_aggs) == 1, final


def test_event_weights_are_non_negative():
    """run_pipeline feeds the bias report the interaction pairs with
    rating > 0 in place of rec_bias_report's distinct pairs over events
    of weight > 0. The two sets are equal only while no event weight is
    negative."""
    from newsify_spark.queries.relational import EVENT_WEIGHTS

    assert EVENT_WEIGHTS and all(w >= 0 for w in EVENT_WEIGHTS.values())


def test_flagship_is_fully_jvm_side(spark):
    """user_profiles moved from groupBy-applyInPandas to a Summarizer
    combining aggregate (round 3): the whole flagship plan must now be
    executor-JVM-side — no Arrow/pandas exec nodes anywhere."""
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["rec_hybrid_topk"].fn(spark, SF_DIR))
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} found in flagship plan"


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key lets the sort-merge join read
    pre-shuffled data: no Exchange above either scan — the co-located
    join strategy for repeated 100 TB joins."""
    import uuid

    from newsify_spark.tables import load

    ev = load(spark, SF_DIR, "events")
    left = ev.selectExpr("user_id", "value")
    right = ev.selectExpr("user_id", "event_id")
    suffix = uuid.uuid4().hex[:8]
    for name, df in [(f"bl_{suffix}", left), (f"br_{suffix}", right)]:
        df.write.bucketBy(8, "user_id").sortBy("user_id").mode("overwrite").saveAsTable(name)
    j = spark.table(f"bl_{suffix}").join(spark.table(f"br_{suffix}"), "user_id")
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:800]


def test_neardup_lsh_route_has_no_cross_product(spark):
    """The scale route of neardup_auto must be equi-join shaped — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan."""
    from newsify_spark.operators.dedup import neardup_auto
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    lsh = neardup_auto(
        emb, threshold=0.4, dim=64, allpairs_rows_max=0, n_bands=4, bits_per_band=4
    )
    plan = _plan(lsh)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the exact route below the threshold IS the cross product form
    exact = neardup_auto(emb, threshold=0.4, allpairs_rows_max=10_000)
    eplan = _plan(exact)
    assert "CartesianProduct" in eplan or "BroadcastNestedLoopJoin" in eplan


def test_knn_lsh_plan_is_equi_join(spark):
    from newsify_spark.operators.similarity import knn_join_lsh
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    items = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
    plan = _plan(knn_join_lsh(q, items, k=5, dim=64, n_bands=4, bits_per_band=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_centroid_argmax_partial_aggregates_before_shuffle(spark):
    """The k=1 kNN path must collapse point-x-centroid pairs MAP-SIDE
    (partial_min before the Exchange on point_id): only |points| partial
    rows shuffle, never |points|x|centroids| pairs."""
    from newsify_spark.operators.similarity import nearest_centroid_assign
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    pts = emb.select(F.col("vec_id").alias("point_id"), F.col("embedding").alias("point_vec"))
    cents = emb.limit(10).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    plan = _plan(nearest_centroid_assign(pts, cents))
    partial = plan.find("partial_min")
    exchange = plan.find("Exchange hashpartitioning(point_id")
    assert partial != -1, "no map-side partial aggregation in the argmax plan"
    assert exchange != -1, "no keyed exchange in the argmax plan"
    assert partial > exchange, (
        "partial_min should appear BELOW (after in text) the Exchange, "
        "i.e. on the map side of the shuffle"
    )
    assert "row_number" not in plan, "k=1 path regressed to the window form"


def test_pii_scrub_is_shuffle_free_map(spark):
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["doc_pii_scrub"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, "PII scrub must stay a narrow map"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_broadcasts_eval_set(spark):
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["doc_contamination"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "eval-set shingles must broadcast"
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_shares_source_partitioning(spark):
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["doc_pack_sequences"].fn(spark, SF_DIR))
    # window by source, then groupBy source: the agg must reuse the
    # window's hashpartitioning(source) — exactly one source shuffle
    assert plan.count("Exchange hashpartitioning(source") == 1, plan[:2000]


def test_zorder_layout_prunes_second_dimension(spark, tmp_path):
    """Row-group stats must make a filter on the SECOND dimension
    skippable under a Z-order layout where a single-column sort cannot:
    sorted-by-x files each span the full y range (every group intersects
    a y-box), while Morton-clustered files bound both dims. Measured
    directly from parquet row-group min/max via pyarrow — the same stats
    Spark's pushdown consults."""
    import glob

    import pyarrow.parquet as pq

    from newsify_spark.operators.layout import write_zordered

    df = spark.range(200_000).select(
        (F.col("id") % 1024).alias("x"),
        ((F.col("id") * 2654435761) % 1024).alias("y"),
    )
    lin, zor = str(tmp_path / "lin"), str(tmp_path / "zor")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite").parquet(lin)
    )
    write_zordered(df, zor, ["x", "y"], bits=10, n_files=16)

    def intersecting_groups(path, lo=300, hi=340):
        n = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                col = {md.row_group(g).column(i).path_in_schema: md.row_group(g).column(i)
                       for i in range(md.row_group(g).num_columns)}["y"]
                st = col.statistics
                if st.min <= hi and st.max >= lo:
                    n += 1
        return n

    lin_groups = intersecting_groups(lin)
    zor_groups = intersecting_groups(zor)
    # x-sorted layout: y is random within every group -> nothing skips
    assert zor_groups < lin_groups, (zor_groups, lin_groups)
    assert zor_groups <= lin_groups // 2
    # and the data survives the round trip
    assert spark.read.parquet(zor).count() == 200_000


def test_compact_small_files_roundtrip(spark, tmp_path):
    """20 micro-batch-style appends -> compaction bin-packs to few files,
    preserves every row, and is a no-op on an already-compact directory."""
    from newsify_spark.operators.layout import compact_small_files

    path = str(tmp_path / "sink")
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).withColumn(
            "v", F.col("id") * 2
        ).write.mode("append").parquet(path)

    before = spark.read.parquet(path)
    n_before_files = len([f for f in before.inputFiles()])
    assert n_before_files >= 20
    want = sorted((r.id, r.v) for r in before.collect())

    n_out = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert n_out == 1  # 200 tiny rows pack into one target-size file

    after = spark.read.parquet(path)
    assert len(after.inputFiles()) == 1
    assert sorted((r.id, r.v) for r in after.collect()) == want
    # second pass: already compact -> no-op
    assert compact_small_files(spark, path) == 0


def test_semantic_dedup_pair_join_is_equi(spark):
    """semantic_dedup's quadratic stage must be an equi join on the
    cluster key (AQE-splittable), never a cross product. The ONLY
    nested-loop join in the plan is the centroid assignment — a
    crossJoin against the broadcast (|k|-row) centroid table."""
    from newsify_spark.operators.dedup import semantic_dedup
    from newsify_spark.queries.vector import label_centroids
    from newsify_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    cents = label_centroids(emb).select(
        F.col("label").alias("cluster_id"), F.col("centroid")
    )
    out = semantic_dedup(emb, cents, threshold=0.4, max_cluster=None)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    # the quadratic pair stage shuffles/joins on the cluster key
    assert re.search(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[cluster_id", plan
    ) or "hashpartitioning(cluster_id" in plan, plan[:1200]


def test_pagerank_iterations_partial_aggregate_before_shuffle(spark):
    """Each power iteration's contribution sum must combine map-side:
    HashAggregate(partial) below the Exchange keyed by dst item."""
    from newsify_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (2, 3, 2), (3, 2, 2)], "src long, dst long, w long"
    )
    plan = _plan(pagerank(edges, iterations=2, persist_edges=False))
    assert "partial_sum" in plan.lower() or "Partial" in plan
    assert "BatchEvalPython" not in plan


def test_mmr_similarity_join_is_equi_not_cartesian(spark):
    """The per-user pairwise-similarity join must hash on the user key —
    a CartesianProduct would be quadratic in USERS, not pools."""
    from newsify_spark.operators.mmr import mmr_rerank

    cand = spark.createDataFrame(
        [(1, 1, 0.9, [1.0, 0.0]), (1, 2, 0.8, [0.0, 1.0]), (2, 3, 0.7, [1.0, 1.0])],
        "user_id long, item long, rel double, vec array<double>",
    )
    plan = _plan(mmr_rerank(cand, k=2))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_int8_quantize_scan_prunes_to_used_columns(spark):
    """vec_int8_quantize must read only (vec_id, embedding) — label is
    never referenced and must not reach the scan."""
    from newsify_spark.queries import REGISTRY

    full = _analyzed(REGISTRY["vec_int8_quantize"].fn(spark, SF_DIR))
    m = re.search(r"FileScan parquet \[([^\]]*)\]", full)
    assert m is not None
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert "label" not in cols, cols


def test_ppl_buckets_has_no_global_rank_window(spark):
    """doc_ppl_buckets must bucket by broadcast quantile thresholds, not
    a global ntile rank (VERDICT r7 #1): a no-partition Window moves
    every eval doc's row to ONE task at 100 TB. The whole pipeline —
    scoring joins, the scalar cut passes, and the returned bucket
    aggregate — must be window-free."""
    from newsify_spark.queries import REGISTRY

    out = REGISTRY["doc_ppl_buckets"].fn(spark, SF_DIR)
    assert "Window" not in _plan(out)
    # the scoring stage feeding the cuts is window-free too
    from newsify_spark.operators.ngram_lm import score_perplexity, train_bigram_lm
    from newsify_spark.operators.shards import shard_id
    from newsify_spark.tables import load

    docs = load(spark, SF_DIR, "documents").withColumn(
        "_side", shard_id(F.col("doc_id"), 2)
    )
    model = train_bigram_lm(docs.filter(F.col("_side") == 0), add_k=0.5)
    ppl = score_perplexity(docs.filter(F.col("_side") == 1), model)
    assert "Window" not in _plan(ppl)


def test_dsir_weights_is_jvm_side_with_broadcast_model(spark):
    """doc_dsir_weights: the (bucket, log_ratio) model must join as a
    broadcast (it is bounded by the bucket count) and no stage may drop
    to row-at-a-time Python."""
    from newsify_spark.queries import REGISTRY

    plan = _plan(REGISTRY["doc_dsir_weights"].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_blocklist_filter_is_shuffle_free_map(spark):
    """doc_blocklist_filter is a pure map over the corpus (the PII-scrub
    class): no Exchange below the final ordered output, no Python."""
    from newsify_spark.queries import REGISTRY

    # the query's orderBy exists only for oracle determinism; at scale
    # callers consume the projection unordered
    df = REGISTRY["doc_blocklist_filter"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    # exactly the one Exchange a global orderBy needs — nothing else
    assert plan.count("Exchange") <= 2  # rangepartitioning exchange only
