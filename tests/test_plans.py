"""Physical-plan contracts (SCALE.md): the plan shapes that make these
queries scale are asserted, not just observed — a regression that turns a
broadcast join into a shuffle join or un-pushes a filter fails CI, not a
100 TB run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_hadoop_flightsearch_spark.plans.registry import load_all

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = load_all()[name].fn(spark, SF)
    em = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "extended"
    )
    return df._jdf.queryExecution().explainString(em)


def test_q5_joins_broadcast(spark):
    plan = _plan(spark, "join_q5_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no dim join may degrade to SMJ


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "agg_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan


def test_flagship_partial_aggregation(spark):
    plan = _plan(spark, "flight_delay_report")
    # Partial (map-side) aggregation before the exchange — the combiner the
    # reference lacks (SURVEY.md §4).
    assert "partial_avg" in plan
    assert "Join" not in plan  # single-table pipeline, no accidental joins


def test_knn_topk_below_exchange(spark):
    plan = _plan(spark, "similarity_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan  # queries broadcast, corpus streams
    assert "WindowGroupLimit" in plan  # top-k pruned before the shuffle


def test_scan_prunes_columns(spark):
    plan = _plan(spark, "agg_q1_pricing_summary")
    # lineitem has 11 columns; q1 must read only the 7 it touches.
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema
    assert "l_suppkey" not in read_schema


@pytest.mark.parametrize(
    "name", ["dedup_ngram_jaccard", "skew_salted_token_stats"]
)
def test_no_cartesian_products(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan


def test_q2_partial_agg_then_broadcast_dims(spark):
    """Raw lineitem must partial-aggregate BEFORE its shuffle (exchange #1
    carries O(part,supplier pairs), not O(rows)); the window-MIN exchange
    then moves only aggregated pairs. Dims broadcast; top-100 is a heap,
    not a global sort. (Forcing a single l_partkey exchange would be
    WORSE: it pushes raw rows through the shuffle unaggregated.)"""
    plan = _plan(spark, "join_q2_min_cost_supplier")
    assert "partial_min" in plan
    assert plan.count("hashpartitioning(") == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_prunes_before_exchange(spark):
    plan = _plan(spark, "sample_stratified_orders")
    assert "WindowGroupLimit" in plan  # rank filter pushed below shuffle


def test_uniform_sample_avoids_global_sort(spark):
    plan = _plan(spark, "sample_uniform_topn")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan  # no full-sort exchange


def test_sessionize_single_window_sort(spark):
    """lag + running sum share one (user_id, ts) sort — exactly one
    exchange, no second sort-and-shuffle for the second window fn."""
    plan = _plan(spark, "events_sessionize_lag")
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_q21_semi_anti_join_shapes(spark):
    """EXISTS/NOT EXISTS must plan as semi/anti joins keyed on the equi
    component (orderkey), never as a cartesian with a filter."""
    plan = _plan(spark, "join_q21_sole_flagged_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_partial_agg_and_broadcast_df(spark):
    plan = _plan(spark, "text_tfidf_top_terms")
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan


def test_hll_estimates_close_to_exact(spark):
    """The sketch path must stay within HLL's documented error envelope
    (lgK=12 -> ~1.6% RSE; allow 5%) of exact distinct counts, per nation
    AND for the sketch-union global row."""
    rows = load_all()["agg_hll_sketch_union"].fn(spark, SF).collect()
    assert any(r.c_nationkey == -1 for r in rows)
    for r in rows:
        assert r.hll_within_5pct, (r.c_nationkey, r.exact_customers)


def test_lateral_decorrelates_to_window_group_limit(spark):
    """The LATERAL ORDER BY+LIMIT subquery must NOT execute per outer row;
    Catalyst must rewrite it to partial top-k below the exchange."""
    plan = _plan(spark, "sql_lateral_top_customers")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_observe_metrics_on_flagship(spark):
    """df.observe() attaches accumulator-style metrics to the plan — the
    zero-cost way to audit row volumes at 100 TB (no second pass, no
    count() job): metrics ride the action that already runs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("flagship_audit")
    df = load_all()["flight_delay_report"].fn(spark, SF)
    df.observe(obs, F.count(F.lit(1)).alias("rows"),
               F.min("carrier").alias("first_carrier")).collect()
    assert obs.get["rows"] == 18  # 18 carriers at sf0.01
    assert obs.get["first_carrier"] == "AA"


def test_weighted_sample_inclusion_tracks_weight(spark):
    """Over 15 salts, documents in the top weight quartile must be sampled
    substantially more often than the bottom quartile (A-ES inclusion
    probability is monotone in weight), and each draw must be
    deterministic for its salt."""
    from hbase_hadoop_flightsearch_spark.operators.sampling import (
        sample_weighted_aes,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    weights = {
        r.doc_id: r.n_chars
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    cut_hi = sorted(weights.values())[int(0.75 * len(weights))]
    cut_lo = sorted(weights.values())[int(0.25 * len(weights))]
    hits_hi = hits_lo = 0
    for salt in [f"s{i}" for i in range(15)]:
        ids = [
            r.doc_id for r in sample_weighted_aes(spark, SF, salt).collect()
        ]
        assert len(set(ids)) == len(ids) == 100
        hits_hi += sum(1 for d in ids if weights[d] >= cut_hi)
        hits_lo += sum(1 for d in ids if weights[d] <= cut_lo)
    assert hits_hi > 1.5 * hits_lo, (hits_hi, hits_lo)
    again = [
        r.doc_id for r in sample_weighted_aes(spark, SF, "s0").collect()
    ]
    first = [
        r.doc_id for r in sample_weighted_aes(spark, SF, "s0").collect()
    ]
    assert again == first


def test_driver_side_sketches_close_to_exact(spark):
    """df.stat's approximate profiling toolkit (Greenwald-Khanna quantiles,
    frequent-items) — the 100 TB data-profiling path — must land within
    its documented error of exact answers."""
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    orders = load_table(spark, SF, "orders")
    n = orders.count()
    # approxQuantile: relativeError=0.01 -> rank within 1% of n.
    [p50] = orders.stat.approxQuantile("o_totalprice", [0.5], 0.01)
    below = orders.filter(orders.o_totalprice <= p50).count()
    assert abs(below - 0.5 * n) <= 0.011 * n + 1, (p50, below, n)
    # freqItems with support 0.1: every priority occurs at ~20% >= support,
    # so all five must be surfaced.
    [row] = orders.stat.freqItems(["o_orderpriority"], 0.1).collect()
    assert len(set(row[0])) == 5, row


def test_multimodal_metadata_query_never_reads_payload(spark):
    """Metadata-only queries on the media table must not deserialize the
    binary payload: column pruning has to drop the payload expression and
    its source column from the scan entirely — at 100 TB this is the
    difference between reading KBs of metadata and PBs of media bytes."""
    from hbase_hadoop_flightsearch_spark.functions.multimodal import (
        media_table,
    )

    df = media_table(spark, SF).select("doc_id", "meta.lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" not in read_schema, read_schema
    assert df.count() > 0


def test_hash_split_is_append_stable(spark, tmp_path):
    """The md5 train/test split must assign each doc_id identically when
    recomputed over a physically SMALLER corpus — the property that makes
    backfills safe. (Filtering one computation's output would be
    tautological; a row_number-based split only misbehaves when the input
    set itself changes, so the subset must be a separate table.)"""
    import os

    from hbase_hadoop_flightsearch_spark.operators.sampling import (
        sample_hash_split,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    full = {
        r.doc_id: r.split for r in sample_hash_split(spark, SF).collect()
    }
    subset_dir = str(tmp_path / "subset_sf")
    os.makedirs(subset_dir)
    (
        load_table(spark, SF, "documents")
        .filter("doc_id % 2 = 0")
        .write.parquet(os.path.join(subset_dir, "documents.parquet"))
    )
    half = {
        r.doc_id: r.split
        for r in sample_hash_split(spark, subset_dir).collect()
    }
    assert half == {d: s for d, s in full.items() if d % 2 == 0}
    frac = sum(1 for s in full.values() if s == "train") / len(full)
    assert 0.7 < frac < 0.9, frac


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a Hive-partitioned fact on its partition column against a
    FILTERED dim must inject a DPP subquery: the fact scan's partition
    filter becomes dynamicpruningexpression(...), so only partitions whose
    keys survive the dim filter are read. At 100 TB this is partition
    pruning when the pruning predicate is only known at runtime (the dim
    filter), not in the query text — the other half of static
    PartitionFilters (test_ingest.py::test_partitioned_write_prunes...).
    """
    from pyspark.sql import functions as F

    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    path = str(tmp_path / "events_by_type")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    events.write.partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)

    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(["view", "click", "purchase"])],
        "etype string, rank int",
    ).filter(F.col("rank") < 1)  # runtime-only pruning predicate

    joined = fact.join(dim, fact.event_type == dim.etype)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan

    want = events.filter(F.col("event_type") == "view").count()
    assert joined.count() == want and want > 0


def test_pack_shards_prefix_sum_is_distributed(spark):
    """The shard-packing prefix sum must never collapse the full corpus
    into one task, and must read/shuffle the table exactly once:
      - the full-data window is PARTITION BY block (parallel), with the
        single-partition window only over per-block totals;
      - the offsets branch reuses the main branch's Exchange(block)
        (ReusedExchange) instead of re-scanning the table.
    """
    df = load_all()["pipeline_pack_shards"].fn(spark, SF)
    df.collect()  # materialize so AQE settles the final plan
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("FileScan") == 1, final
    assert "Reused" in final, final
    # the per-row window is block-partitioned: its spec lists [block, doc_id]
    assert "windowspecdefinition(block" in final, final


def test_runtime_bloom_filter_prefilters_fact_scan(spark):
    """Runtime row-level filtering (the 100 TB semi-join pushdown): with
    broadcast off (forcing a shuffle join, as a TB-scale dim would), the
    optimizer must inject a bloom filter built from the selective orders
    side into the lineitem scan — `might_contain(xxhash64(l_orderkey))`
    drops non-matching fact rows BEFORE the join shuffle."""
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        em = (
            j._sc._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("extended")
        )
        plan = j._jdf.queryExecution().explainString(em)
        assert "might_contain" in plan, plan
        assert "xxhash64(l_orderkey" in plan, plan
        # and the result is unaffected by the filter (bloom = no false
        # negatives): compare against the plain broadcast-join answer
        got = j.collect()[0]["n"]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = (
        load_table(spark, SF, "lineitem")
        .join(
            load_table(spark, SF, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert got == want and want > 0


def test_copurchase_pairs_plan_is_joinless(spark, sf_smoke):
    """The pair expansion must never degenerate into the self-join the
    oracle uses: zero Join nodes, exactly two exchanges (basket build +
    pair partial-agg)."""
    from hbase_hadoop_flightsearch_spark.operators.mining import copurchase_pairs
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    plan = (
        copurchase_pairs(load_table(spark, sf_smoke, "lineitem"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Join") == 0
    assert plan.count("Exchange") == 2


def test_fingerprint_plan_is_single_scan_partial_agg(spark, sf_smoke):
    """Fingerprinting must stay one scan with map-side partial aggregation
    — the shuffle carries ONE pre-aggregated row per task, so the plan
    holds at any table size."""
    from hbase_hadoop_flightsearch_spark.operators.quality import (
        table_fingerprint_orders,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    plan = (
        table_fingerprint_orders(load_table(spark, sf_smoke, "orders"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("orders.parquet") == 1
    assert "partial_bit_xor" in plan and "partial_sum" in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_embedding_cosine_is_distributed_no_collect(spark):
    """The exact all-pairs cosine must be a distributed block-nested-loop:
    the block-pair list rides a broadcast join (never a shuffle of the
    corpus against it) and the GEMM runs in applyInPandas — there is no
    driver-side collect in the plan, so driver memory stays O(1)."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "FlatMapGroupsInPandas" in plan  # the per-block-pair GEMM
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # Exactly one corpus-side exchange: the groupBy(bi, bj) repartition.
    assert plan.count("Exchange hashpartitioning") == 1


def test_per_source_quota_pushes_group_limit_below_exchange(spark):
    """The per-source quota cap must plan as partial WindowGroupLimit on
    the map side (before the Exchange) so the shuffle carries at most
    quota rows per (mapper, source), never the corpus."""
    plan = _plan(spark, "sample_per_source_quota")
    assert "WindowGroupLimit" in plan
    pre, _, post = plan.partition("Exchange")
    assert "WindowGroupLimit" in pre and "WindowGroupLimit" in post


def test_mixture_weights_single_shuffle_broadcast_total(spark):
    """Mixture planning must stay metadata-sized: ONE exchange for the
    per-source aggregation (partial agg before it) and the grand total
    joined by broadcast — never a second full-data shuffle or SMJ."""
    plan = _plan(spark, "pipeline_mixture_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_levenshtein_cap_filter_is_partial_aggregated(spark):
    """The over-cap bucket filter must aggregate bucket sizes map-side
    (partial HashAggregate before its exchange) — the cap must not cost a
    raw-corpus shuffle."""
    plan = _plan(spark, "dedup_levenshtein_blocked")
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_q9_all_dims_broadcast(spark):
    """Q9 shape: part/supplier/nation must ALL broadcast — the fact table
    may not shuffle before its final aggregate."""
    plan = _plan(spark, "join_q9_nation_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_topk_with_ties_group_limit_pushdown(spark):
    """rank()-based WITH TIES top-k must still get the WindowGroupLimit
    partial below the exchange (rank is group-limit-eligible)."""
    plan = _plan(spark, "window_topk_with_ties")
    assert "WindowGroupLimit" in plan


def test_range_search_has_no_window(spark):
    """Radius search is scan+filter only: no Window node, and the corpus
    side must meet the broadcast queries in a nested-loop broadcast."""
    plan = _plan(spark, "similarity_range_search")
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" not in plan


def test_ewma_single_exchange_no_python(spark):
    """The EWMA plan is one Exchange(user_id) + one Window of codegen
    array expressions — no Python evaluation anywhere."""
    plan = _plan(spark, "ts_ewma_cents")
    assert "Python" not in plan
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_q11_reuses_aggregate_exchange(spark):
    """The Q11 global-threshold branch must REUSE the per-part aggregate's
    shuffle, not rescan/reshuffle the fact table."""
    df = load_all()["join_q11_important_parts"].fn(spark, SF)
    df.collect()  # AQE finalizes reuse decisions at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_benford_single_scan_tiny_agg(spark):
    """One scan of one column; the only exchanges carry <=9 digit groups
    (partial agg first) and the single-row total window."""
    plan = _plan(spark, "dq_benford_first_digit")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    assert "ReadSchema: struct<o_totalprice:double>" in plan


def test_mad_anomaly_broadcasts_tiny_stats(spark):
    """The median/MAD tables are O(event types) rows — they must broadcast
    back onto the daily rollup, never shuffle it."""
    plan = _plan(spark, "events_anomaly_mad")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_compaction_plan_rides_manifest_not_rows(spark):
    """All window work happens after the manifest rollup: exactly one
    pre-aggregated exchange from the orders scan; no join anywhere."""
    plan = _plan(spark, "layout_compaction_plan")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1
    # partial aggregation before the only row-bearing exchange
    assert "partial_count" in plan


def test_bloom_semi_prune_filters_before_exchange(spark):
    """The probe side must evaluate the bloom bit-test (xxhash64 against
    the broadcast map) BEFORE its exchange, and the exact semi join must
    stay a semi join."""
    plan = _plan(spark, "join_bloom_semi_prune")
    assert "LeftSemi" in plan
    assert "xxhash64" in plan
    assert "bloom_hit" in plan
    # the 1-row filter map arrives via broadcast, not shuffle
    assert "BroadcastNestedLoopJoin" in plan


def test_gif_stats_scan_prunes_to_doc_id(spark):
    """The GIF query synthesizes payloads from doc_id alone — the scan
    must read ONLY doc_id (never text), and no KEYED shuffle exists
    (the r15 widen_if_narrow round-robin rebalance is allowed; see
    test_r6_codec_stats_scan_prunes_to_doc_id)."""
    plan = _plan(spark, "multimodal_gif_pixel_stats")
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    import re

    keyed = [
        ln
        for ln in plan.splitlines()
        if re.search(r"\bExchange (hash|range)partitioning", ln)
    ]
    assert keyed == [], keyed
    assert plan.count("RoundRobinPartitioning") <= 1


def test_rake_all_shuffles_keyed_by_doc(spark):
    """Every groupBy/window key includes doc_id, so no stage concentrates
    the corpus on one key at scale; phrase assembly stays in SQL exprs
    (no Python UDF in the plan)."""
    plan = _plan(spark, "text_keyword_rake")
    assert "PythonUDF" not in plan
    low = plan.lower()
    assert "hashpartitioning(doc_id" in low
    # no partitioning clause without doc_id as leading key
    import re

    for m in re.finditer(r"hashpartitioning\(([a-z0-9_#]+)", low):
        assert m.group(1).startswith("doc_id"), m.group(0)


def test_dataset_card_single_scan_broadcast_mode(spark):
    """Each branch's scan prunes to the columns it needs (the lang-mode
    branch must read only lang+source, never text); the per-source
    majority-lang table joins back broadcast."""
    plan = _plan(spark, "pipeline_dataset_card")
    assert plan.count("FileScan") <= 3
    assert "ReadSchema: struct<lang:string,source:string>" in plan
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan


def test_dau_wau_no_expand_distinct(spark):
    """The rolling-distinct rewrite must not fall back to the
    Expand-based COUNT DISTINCT: pairs are pre-deduped, counts are
    plain COUNT(*)."""
    plan = _plan(spark, "events_dau_wau")
    assert "Expand" not in plan
    assert "count(distinct" not in plan.lower()


def test_bitmap_distinct_word_level_shuffle(spark):
    """The shuffle must carry bit-or'd words, never raw keys: partial
    bit_or before the exchange, no Expand."""
    plan = _plan(spark, "agg_bitmap_distinct")
    assert "partial_bit_or" in plan
    assert "Expand" not in plan


def test_mmr_pool_stage_matches_knn_shape(spark):
    """Stage 1 (the distributed part) must be the knn plan: broadcast
    queries over one corpus scan with group-limit pruning before the
    rank exchange."""
    from hbase_hadoop_flightsearch_spark.operators.similarity import (
        MMR_POOL,
        MMR_QUERIES,
        _all_pairs,
        _cosine,
        _embeddings,
        _query_set,
        _top_n,
    )

    emb = _embeddings(spark, SF)
    scored = _all_pairs(emb, _query_set(emb, MMR_QUERIES)).withColumn(
        "cos", _cosine(F.col("qv"), F.col("v"))
    )
    pool = _top_n(
        scored, "query_id", [F.desc("cos"), F.asc("neighbor_id")], MMR_POOL
    )
    em = pool._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "extended"
    )
    plan = pool._jdf.queryExecution().explainString(em)
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_media_curation_single_decode_scan(spark):
    """The composite decodes once: exactly one mapInPandas/Python eval
    over the documents scan, with both branches reading the checkpoint."""
    plan = _plan(spark, "pipeline_media_curation")
    assert plan.count("FileScan") == 0  # branches read the checkpointed RDD
    assert "Scan ExistingRDD" in plan


@pytest.mark.parametrize(
    "name",
    ["multimodal_jpeg_pixel_stats", "multimodal_video_frame_stats"],
)
def test_r6_codec_stats_scan_prunes_to_doc_id(spark, name):
    """The r6 JPEG/AVI queries synthesize payloads from doc_id alone —
    the scan must read ONLY doc_id, and the decode is one Arrow-batched
    stage with no KEYED shuffle. Since r15 the plan may carry ONE
    round-robin width-normalizing Exchange (widen_if_narrow: a
    single-file corpus scans as one partition, which ran the whole
    decode single-task); hash/range exchanges stay forbidden."""
    plan = _plan(spark, name)
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    import re

    keyed = [
        ln
        for ln in plan.splitlines()
        if re.search(r"\bExchange (hash|range)partitioning", ln)
    ]
    assert keyed == [], keyed
    assert plan.count("RoundRobinPartitioning") <= 1


def test_pq_adc_single_scan_broadcast_rerank(spark):
    """PQ/ADC plan shape: the corpus is encoded+scored in ONE Python
    (Arrow) stage with the codebook and LUTs in the closure — no join,
    no cartesian, no second corpus scan before the shortlist window; the
    exact re-rank joins the tiny shortlist via BROADCAST."""
    plan = _plan(spark, "similarity_ann_pq")
    assert "CartesianProduct" not in plan
    physical = plan.split("== Physical Plan ==")[-1]
    assert physical.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in physical


def test_bpe_apply_join_not_per_row_retokenize(spark):
    """BPE apply tokenizes the DISTINCT vocabulary and joins counts back
    to documents: the plan must contain the word join and aggregate, and
    no Python stage at all (merge application is pure JVM expressions)."""
    plan = _plan(spark, "text_bpe_apply_compression")
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_r7_retrieval_and_model_joins_broadcast(spark):
    """BM25 / naive-Bayes / DSIR join bounded model artifacts (term
    list, (lang,token) log-prob table, 256-bucket LLR table) — those
    joins must be broadcast, never a corpus-wide SortMergeJoin."""
    for name in (
        "text_bm25_topk",
        "ml_naive_bayes_lang_confusion",
        "sample_importance_dsir",
    ):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_r7_topk_queries_use_window_group_limit(spark):
    """Top-k per group in the new retrieval/recommender queries must
    prune via WindowGroupLimit partials before the exchange, not sort
    whole groups."""
    for name in ("text_bm25_topk", "ml_item_cf_recommendations"):
        assert "WindowGroupLimit" in _plan(spark, name), name


def test_substring_spans_no_pair_join(spark):
    """The ExactSubstr audit must stay a span-keyed aggregate: no
    cartesian/nested-loop join anywhere (the all-pairs formulation is
    the oracle's job)."""
    plan = _plan(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scene_change_reads_doc_id_only(spark):
    """The scene-change decode fans out from doc_id alone — the scan
    must not read text/payload columns."""
    plan = _plan(spark, "multimodal_scene_change")
    import re

    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "doc_id" in m.group(1) and "text" not in m.group(1), (
        m.group(1) if m else plan
    )


def test_rendezvous_sharding_single_agg_no_join(spark):
    """HRW assignment is per-row scalar work: the whole plan must be
    scan -> project -> one partial/final aggregate, with no join."""
    plan = _plan(spark, "layout_rendezvous_sharding")
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "spatial_dbscan",
        "similarity_rrf_fusion",
        "sample_hard_negatives",
        "text_ngram_novelty_curve",
        "pipeline_pack_sequences",
        "graph_2hop_reach",
        "dedup_minhash_md5_estimate",
    ],
)
def test_r8_queries_no_cartesian(spark, name):
    """Round-8 additions: every candidate-generation path must be a
    bucketed/equi/posting-list join — the quadratic formulation belongs
    to the DuckDB oracle only."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan[:2000]


def test_pack_sequences_single_window(spark):
    """The packing manifest is ONE prefix-sum window (one global sort)
    plus bounded explode — a second Sort node would mean the window is
    being recomputed."""
    plan = _plan(spark, "pipeline_pack_sequences")
    assert plan.count("WindowExec") <= 1 or plan.count("Window") <= 2, plan[:2000]


def test_auc_distributed_rank_shape(spark):
    """r12: exact AUC = tie-collapsing groupBy + the distributed cumsum
    primitive + one aggregate. The only join allowed is the primitive's
    broadcast of the P-row offsets table — never a shuffle join of the
    corpus (the single-task-window ban itself lives in test_ranks.py)."""
    plan = _plan(spark, "ml_eval_auc_exact")
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "ShuffledHashJoin" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]


@pytest.mark.parametrize(
    "name",
    [
        "sample_neyman_allocation",
        "events_did_lift",
        "ml_decision_stump_gini",
        "text_textrank_keywords",
    ],
)
def test_r8_batch3_no_cartesian(spark, name):
    """Round-8 third batch: totals joins must be broadcast singletons
    and candidate generation equi-joins — never a cartesian plan."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan[:2000]


def test_decision_stump_single_sort_no_join(spark):
    """The stump's sort-and-scan plan is one grouped aggregate plus the
    distributed prefix sum (operators/ranks.py); the per-threshold cost
    is arithmetic, not a join — a fact-to-fact Join node would mean the
    O(thresholds x rows) formulation leaked in from the oracle. The
    primitive's own BroadcastHashJoin is allowed ONLY on its __gr_pid
    offsets key (an O(shuffle.partitions)-row broadcast)."""
    plan = _plan(spark, "ml_decision_stump_gini")
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "ShuffledHashJoin" not in plan, plan[:1500]
    assert "NestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "__gr_pid" in line, line


def test_did_lift_single_aggregate_no_shuffle_fanout(spark):
    """DiD is ONE conditional aggregate over one filtered scan: no
    joins, no windows, exactly one scan of events."""
    plan = _plan(spark, "events_did_lift")
    assert "Join" not in plan, plan[:1500]
    # extended explain prints logical sections too — count the physical
    # scan node only: exactly one pass over events
    assert plan.count("FileScan parquet") == 1, plan[-1500:]


def test_connection_search_smj_on_band_key_no_nested_loop(spark):
    """The namesake connection search must plan the day-banded self-join
    as a SortMergeJoin on (airport, day) — both sides are fact-sized so
    a broadcast build is wrong at every scale (locally measured 4x
    slower; at 100 TB impossible) and a BroadcastNestedLoopJoin would
    mean the range predicate leaked out of the band rewrite."""
    plan = _plan(spark, "flight_connection_search")
    assert "SortMergeJoin" in plan, plan[-2000:]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_connection_hourband_same_smj_contract(spark):
    """The r10 hour-band regime must inherit the day seat's physical
    contract exactly — SortMergeJoin on the (airport, bucket) key, no
    nested loop, no cartesian — since the band width only changes the
    key granularity, never the join strategy (both sides stay
    fact-sized at every band width)."""
    plan = _plan(spark, "flight_connection_search_hourband")
    assert "SortMergeJoin" in plan, plan[-2000:]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mixture_entropy_uniform_and_collapsed_fixtures(spark):
    """A 4-way uniform token mix must read diversity ~1e6 ppm and
    effective_sources ~4; a mix collapsing onto one dominant source
    must read far lower on both."""
    import math

    import hbase_hadoop_flightsearch_spark.plans.pipelines as P

    def run(rows):
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        orig = P.load_table
        try:
            P.load_table = lambda _s, _d, _t: docs
            return P.pipeline_mixture_entropy(spark, "ignored").collect()
        finally:
            P.load_table = orig

    uniform = run(
        [(i, f"s{i % 4}", "a b c d e f g h i j") for i in range(16)]
    )
    row = uniform[0]
    assert row["entropy_nano"] <= math.log(4) * 1e9 < row["entropy_nano"] + 8
    assert row["diversity_ppm"] in (999999, 1000000)
    assert abs(row["effective_sources_r6"] - 4.0) < 1e-4
    assert all(r["share_ppm"] == 250000 for r in uniform)

    skewed = run(
        [(i, "big", "a b c d e f g h i j " * 20) for i in range(30)]
        + [(100, "tiny", "a b"), (101, "tiny2", "a b")]
    )
    srow = skewed[0]
    assert srow["diversity_ppm"] < 100000
    assert srow["effective_sources_r6"] < 1.2


def test_source_kl_identical_sources_is_zero(spark):
    """Two sources with identical token distributions: every grid term is
    p*ln(1) = 0 exactly, so kl_nano must be exactly 0 for both; a third
    skewed source must read strictly positive KL."""
    import hbase_hadoop_flightsearch_spark.functions.text as T

    docs = spark.createDataFrame(
        [
            (0, "a", "x y z x y z"),
            (1, "b", "x y z x y z"),
            (2, "c", "x x x x x x"),
        ],
        "doc_id long, source string, text string",
    )
    orig = T.load_table
    try:
        T.load_table = lambda _s, _d, _t: docs
        out = {
            r["source"]: r
            for r in T.text_source_kl_divergence(spark, "x").collect()
        }
    finally:
        T.load_table = orig
    # a and b are each HALF the corpus with the corpus's own shape only
    # if c is excluded — with c present, a/b differ from the pooled
    # distribution, so just assert the skewed source dominates and the
    # two identical sources agree exactly.
    assert out["a"]["kl_nano"] == out["b"]["kl_nano"]
    assert out["c"]["kl_nano"] > out["a"]["kl_nano"]
    assert out["a"]["vocab_size"] == 3


def test_delta_method_degenerate_ratio_has_zero_se(spark):
    """Every user has exactly 2 views and 1 purchase: ratio = 0.5 with
    zero variance -> se 0 and a collapsed CI."""
    import datetime

    import hbase_hadoop_flightsearch_spark.operators.aggregates as A

    rows = []
    eid = 0
    for uid in range(12):
        for et in ("view", "view", "purchase"):
            rows.append(
                (eid, datetime.datetime(2024, 1, 5), uid, et, 1.0, "{}")
            )
            eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = A.load_table
    try:
        A.load_table = lambda _s, _d, _t: events
        r = A.agg_delta_method_ratio_ci(spark, "x").collect()[0]
    finally:
        A.load_table = orig
    assert r["ratio_r6"] == 0.5
    assert r["se_r6"] == 0.0
    assert r["ci_lo_r6"] == r["ci_hi_r6"] == 0.5


def test_ess_uniform_weights_is_full_efficiency(spark):
    """Identical docs in every raw source -> identical DSIR weights ->
    ESS == n exactly (efficiency 1.0)."""
    import hbase_hadoop_flightsearch_spark.operators.sampling as S

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "alpha beta gamma delta") for i in range(12)],
        "doc_id long, source string, text string",
    )
    orig = S.load_table
    try:
        S.load_table = lambda _s, _d, _t: docs
        out = S.sample_ess_importance_weights(spark, "x").collect()
    finally:
        S.load_table = orig
    assert out, "no non-target sources"
    for r in out:
        assert r["efficiency_r6"] == 1.0
        assert abs(r["ess_r6"] - r["n_docs"]) < 1e-6


def test_llr_planted_collocation_dominates(spark):
    """A bigram that ALWAYS co-occurs ('new york' in every doc) must
    out-score independent fillers at rank 1."""
    import hbase_hadoop_flightsearch_spark.functions.text as T

    docs = spark.createDataFrame(
        [
            (i, "s", f"new york w{i % 7} w{(i * 3) % 5} new york w{i % 4}")
            for i in range(30)
        ],
        "doc_id long, source string, text string",
    )
    orig = T.load_table
    try:
        T.load_table = lambda _s, _d, _t: docs
        rows = T.text_collocations_llr(spark, "x").collect()
    finally:
        T.load_table = orig
    top = next(r for r in rows if r["rnk"] == 1)
    assert (top["w1"], top["w2"]) == ("new", "york")
    assert top["pair_count"] == 60


def test_horvitz_thompson_whales_always_kept(spark):
    """Orders above the PPS cap (pi = 1) must ALWAYS be in the sample,
    and the HT estimate of a tiny population is within the 3-sigma
    design bound of the exact total."""
    import math

    import hbase_hadoop_flightsearch_spark.operators.sampling as S

    orders = spark.createDataFrame(
        [(i, 600000.0 if i % 10 == 0 else 150.0 + i) for i in range(200)],
        "o_orderkey long, o_totalprice double",
    )
    orig = S.load_table
    try:
        S.load_table = lambda _s, _d, _t: orders
        r = S.sample_horvitz_thompson(spark, "x").collect()[0]
    finally:
        S.load_table = orig
    assert r["n_sampled"] >= 20  # the 20 whales have pi = 1
    # Bound with the DESIGN variance sum(y^2 (1-pi)/pi) computed from the
    # fixture (the in-sample variance ESTIMATOR is rightly 0 here: only
    # pi=1 whales were drawn, and they contribute no variance).
    design_var = 0.0
    for i in range(200):
        cents = round((600000.0 if i % 10 == 0 else 150.0 + i) * 100)
        pi = min(1.0, cents / S.HT_SCALE_CENTS)
        design_var += cents * cents * (1.0 - pi) / pi
    sigma = math.sqrt(design_var)
    assert abs(r["ht_total_cents"] - r["exact_total_cents"]) <= 3 * sigma


def test_r8_session3_plan_contracts(spark):
    """Plan shapes the round-8 third-session docstrings promise:
    - text_c4_line_filters: pure scan-fused array work — ZERO joins;
    - events_peak_concurrency: delta-sweep, no interval self-join (the
      only join is the broadcast 1-row peak);
    - text_source_kl_divergence: the sources x vocab grid must build
      from broadcasts, never a SortMergeJoin;
    - graph_hits_authorities is covered by its unrolled-oracle equality
      (plan is the shared pagerank shape).
    """
    c4 = _plan(spark, "text_c4_line_filters")
    assert "Join" not in c4

    pc = _plan(spark, "events_peak_concurrency")
    assert "SortMergeJoin" not in pc and "CartesianProduct" not in pc

    kl = _plan(spark, "text_source_kl_divergence")
    assert "SortMergeJoin" not in kl

    dd = _plan(spark, "window_max_drawdown")
    assert "Join" not in dd or "BroadcastNestedLoopJoin" in dd
    assert "SortMergeJoin" not in dd


def test_mattr_extremes(spark):
    """A one-word document reads MATTR = 1/W exactly; an all-distinct
    document reads exactly 1.0 (1e6 ppm)."""
    import hbase_hadoop_flightsearch_spark.functions.text as T

    docs = spark.createDataFrame(
        [
            (0, "s", " ".join(["same"] * 60)),
            (1, "s", " ".join(f"w{i}" for i in range(60))),
            (2, "s", "too short"),
        ],
        "doc_id long, source string, text string",
    )
    orig = T.load_table
    try:
        T.load_table = lambda _s, _d, _t: docs
        out = {r["doc_id"]: r for r in
               T.text_mattr_diversity(spark, "x").collect()}
    finally:
        T.load_table = orig
    assert 2 not in out  # below the window size
    assert out[0]["mattr_ppm"] == 1_000_000 // T.MATTR_W
    assert out[1]["mattr_ppm"] == 1_000_000


def test_hhi_monopoly_reads_1e8(spark):
    """One customer owning the whole market -> HHI = 10000^2 exactly;
    two equal customers -> 2 * 5000^2."""
    import hbase_hadoop_flightsearch_spark.operators.aggregates as A

    orders = spark.createDataFrame(
        [(1, 10, 100.0), (2, 20, 50.0), (3, 21, 50.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(10, 1), (20, 2), (21, 2)],
        "c_custkey long, c_nationkey long",
    )
    nation = spark.createDataFrame(
        [(1, "MONO"), (2, "DUO")], "n_nationkey long, n_name string"
    )
    tables = {"orders": orders, "customer": customer, "nation": nation}
    orig = A.load_table
    try:
        A.load_table = lambda _s, _d, t: tables[t]
        out = {r["nation"]: r for r in
               A.agg_hhi_market_concentration(spark, "x").collect()}
    finally:
        A.load_table = orig
    assert out["MONO"]["hhi_bp2"] == 10000 * 10000
    assert out["MONO"]["highly_concentrated"]
    assert out["DUO"]["hhi_bp2"] == 2 * 5000 * 5000


def test_hill_alpha_recovers_pareto_exponent(spark):
    """Orders drawn from an exact Pareto(alpha=2) quantile grid: the Hill
    estimate over the top 100 must land near 2."""
    import hbase_hadoop_flightsearch_spark.operators.aggregates as A

    # x_i = (n/i)^(1/alpha): the i-th largest of n Pareto(alpha) points.
    n, alpha = 2000, 2.0
    orders = spark.createDataFrame(
        [(i, 100.0 * (n / i) ** (1.0 / alpha)) for i in range(1, n + 1)],
        "o_orderkey long, o_totalprice double",
    )
    orig = A.load_table
    try:
        A.load_table = lambda _s, _d, _t: orders
        r = A.agg_tail_index_hill(spark, "x").collect()[0]
    finally:
        A.load_table = orig
    alpha_hat = r["alpha_micro"] / 1e6
    assert 1.7 < alpha_hat < 2.3, alpha_hat


def test_pps_systematic_grid_and_whale_multiplicity(spark):
    """The systematic grid always lands exactly PPS_N hits; equal-size
    rows can each straddle at most one grid point, while a whale wider
    than several strides collects several hits (its multiplicity)."""
    import hbase_hadoop_flightsearch_spark.operators.sampling as S

    equal = spark.createDataFrame(
        [(i, 100.0) for i in range(1, 1001)],
        "o_orderkey long, o_totalprice double",
    )
    whale = spark.createDataFrame(
        [(i, 100.0) for i in range(1, 1001)] + [(1001, 50000.0)],
        "o_orderkey long, o_totalprice double",
    )
    orig = S.load_table
    try:
        S.load_table = lambda _s, _d, _t: equal
        eq = S.sample_pps_systematic(spark, "x").collect()[0]
        S.load_table = lambda _s, _d, _t: whale
        wh = S.sample_pps_systematic(spark, "x").collect()[0]
    finally:
        S.load_table = orig
    assert eq["n_grid_hits"] == S.PPS_N
    assert eq["n_sampled"] == S.PPS_N  # no row straddles two grid points
    assert wh["n_grid_hits"] == S.PPS_N
    # whale is 50000/150000 = 1/3 of the mass -> ~N/3 hits on one row
    assert wh["n_sampled"] < S.PPS_N
    # HT estimate of the total is within 2% for the equal-size case
    assert abs(eq["ht_total_est_cents"] - eq["total_cents"]) <= (
        0.02 * eq["total_cents"]
    )


def test_lorenz_curve_monotone_convex_and_closed(spark, sf_correctness):
    """Lorenz invariants: cumulative shares are monotone, end at exactly
    1e6 ppm, and the curve sits below the diagonal (poorest deciles own
    less than their population share)."""
    from hbase_hadoop_flightsearch_spark.operators.aggregates import (
        agg_lorenz_curve_deciles,
    )

    rows = sorted(
        agg_lorenz_curve_deciles(spark, sf_correctness).collect(),
        key=lambda r: r["decile"],
    )
    shares = [r["cum_share_ppm"] for r in rows]
    assert shares == sorted(shares)
    assert rows[-1]["cum_share_ppm"] == 1_000_000
    assert rows[-1]["cum_pop_ppm"] == 1_000_000
    assert all(
        r["cum_share_ppm"] <= r["cum_pop_ppm"] + 1 for r in rows
    )


def test_topk_others_mass_balance(spark, sf_correctness):
    """Every nation's named-top-3 + OTHERS rows must sum to the nation's
    exact revenue total, and each nation shows at most K named rows."""
    from hbase_hadoop_flightsearch_spark.operators.aggregates import (
        TOPK_OTHERS_K,
        agg_topk_with_others,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    rows = agg_topk_with_others(spark, sf_correctness).collect()
    per_nation = {}
    for r in rows:
        per_nation.setdefault(r["nation"], []).append(r)
    orders = load_table(spark, sf_correctness, "orders")
    customer = load_table(spark, sf_correctness, "customer")
    nation = load_table(spark, sf_correctness, "nation")
    totals = {
        r["nation"]: r["t"]
        for r in orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("t")
        )
        .collect()
    }
    for nat, group in per_nation.items():
        assert sum(r["revenue_cents"] for r in group) == totals[nat]
        named = [r for r in group if r["member"] != "OTHERS"]
        assert len(named) <= TOPK_OTHERS_K
        assert all(r["n_customers"] == 1 for r in named)


def test_quantile_normalization_matches_target_distribution(
    spark, sf_correctness
):
    """After mapping, src1's normalized values must be a subset drawn
    from src0's values, and the normalized distribution's quantiles must
    track src0's (equal multisets when the two sources have equal
    counts)."""
    from hbase_hadoop_flightsearch_spark.operators.aggregates import (
        agg_quantile_normalization,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    rows = agg_quantile_normalization(spark, sf_correctness).collect()
    a_vals = sorted(
        r["n_chars"]
        for r in load_table(spark, sf_correctness, "documents")
        .filter(F.col("source") == "src0")
        .select("n_chars")
        .collect()
    )
    normalized = sorted(r["normalized_value"] for r in rows)
    assert set(normalized) <= set(a_vals)
    if len(normalized) == len(a_vals):  # equal counts -> exact multiset
        assert normalized == a_vals
    # order preservation: higher source rank never maps lower
    by_rank = sorted(rows, key=lambda r: r["source_rank"])
    vals = [r["normalized_value"] for r in by_rank]
    assert vals == sorted(vals)


def test_ks_uniformity_rejects_planted_skew(spark):
    """md5 buckets must NOT reject uniformity on real user ids; a
    synthetic id pool engineered to pile into few buckets MUST reject."""
    import hashlib

    import hbase_hadoop_flightsearch_spark.operators.aggregates as A

    # find user ids whose md5 bucket is < 10 (a 10x concentration)
    skewed_ids = []
    uid = 0
    while len(skewed_ids) < 400:
        if int(hashlib.md5(str(uid).encode()).hexdigest()[:4], 16) % 100 < 10:
            skewed_ids.append(uid)
        uid += 1
    import datetime

    events = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 5), u, "view", 1.0, "{}")
         for i, u in enumerate(skewed_ids)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = A.load_table
    try:
        A.load_table = lambda _s, _d, _t: events
        r = A.agg_ks_uniformity_gof(spark, "x").collect()[0]
    finally:
        A.load_table = orig
    assert r["reject_uniform_05"]
    assert r["ks_d_r6"] > 0.5


def test_median_bisection_equals_sorted_selection(spark, sf_correctness):
    """The bisection median must equal the sort-based lower median, and
    converge in <= log2(domain) rounds."""
    from hbase_hadoop_flightsearch_spark.operators.aggregates import (
        MEDIAN_BISECT_MAX_ROUNDS,
        exact_median_bisect,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    v = load_table(spark, sf_correctness, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    median, n, rounds = exact_median_bisect(v, "cents")
    vals = sorted(r["cents"] for r in v.collect())
    assert median == vals[(n + 1) // 2 - 1]
    assert rounds < MEDIAN_BISECT_MAX_ROUNDS
    # even-n determinism: lower median on a hand fixture
    df = spark.createDataFrame([(10,), (20,), (30,), (40,)], "cents long")
    m, n4, _ = exact_median_bisect(df, "cents")
    assert (m, n4) == (20, 4)


def test_wasserstein_identical_halves_zero_and_shift_exact(spark):
    """Identical half-distributions -> W1 = 0 exactly; shifting one half
    by a constant delta -> W1 = delta exactly (the transport metric's
    signature property, which PSI and KS both lack)."""
    import datetime

    import hbase_hadoop_flightsearch_spark.operators.quality as Q

    def mk(shift_cents: int):
        rows = []
        for i in range(200):
            # first half: Jan; second half: Mar (split lands between)
            rows.append((2 * i, 1, datetime.date(1995, 1, 1 + i % 20),
                         100.0 + (i % 50)))
            rows.append((2 * i + 1, 1, datetime.date(1995, 3, 1 + i % 20),
                         100.0 + (i % 50) + shift_cents / 100.0))
        return spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderdate date,"
            " o_totalprice double",
        )

    orig = Q.load_table
    try:
        Q.load_table = lambda _s, _d, _t: mk(0)
        zero = Q.dq_drift_wasserstein(spark, "x").collect()[0]
        Q.load_table = lambda _s, _d, _t: mk(700)
        shifted = Q.dq_drift_wasserstein(spark, "x").collect()[0]
    finally:
        Q.load_table = orig
    assert zero["w1_num"] == 0
    assert shifted["w1_dollars_r6"] == 7.0


def test_eb_shrinkage_small_carriers_move_most(spark):
    """Shrinkage signature: a 10-flight carrier at rate 0.5 moves far
    toward the league mean; a 10000-flight carrier at the same raw rate
    barely moves."""
    import hbase_hadoop_flightsearch_spark.plans.delay_report as DR
    import hbase_hadoop_flightsearch_spark.sources.flights as FL

    import pandas as pd

    rows = []
    # 8 'league' carriers: 1000 flights, ~10% cancelled
    for c in range(8):
        rows += [(f"L{c}", 1000, 100)]
    rows += [("SMALL", 10, 5), ("BIG", 10000, 5000)]
    pdf = pd.DataFrame(
        [(c, i, 1.0 if i < x else 0.0)
         for c, n, x in rows for i in range(n)],
        columns=["carrier", "i", "cancelled"],
    )
    fl = spark.createDataFrame(pdf).select("carrier", "cancelled")

    orig = DR.flights
    try:
        DR.flights = lambda _s, _d: fl
        out = {r["carrier"]: r for r in
               DR.flight_eb_cancellation_shrinkage(spark, "x").collect()}
    finally:
        DR.flights = orig
    small_move = abs(out["SMALL"]["shrunk_rate_r6"]
                     - out["SMALL"]["raw_rate_r6"])
    big_move = abs(out["BIG"]["shrunk_rate_r6"]
                   - out["BIG"]["raw_rate_r6"])
    assert small_move > 10 * big_move
    assert out["SMALL"]["shrunk_down"]  # 0.5 raw pulls DOWN toward league


def test_theil_decomposition_identity_within_quantization(
    spark, sf_correctness
):
    """Theil's defining property: T_total = T_between + sum of
    income-share-weighted within-group terms — recompute T_total from
    raw revenues in Python and check the decomposition identity holds
    within nano-quantization tolerance."""
    import math

    from hbase_hadoop_flightsearch_spark.operators.aggregates import (
        agg_theil_decomposition,
    )
    from hbase_hadoop_flightsearch_spark.sources.catalog import load_table

    rows = agg_theil_decomposition(spark, sf_correctness).collect()
    orders = load_table(spark, sf_correctness, "orders")
    customer = load_table(spark, sf_correctness, "customer")
    nation = load_table(spark, sf_correctness, "nation")
    rev = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
             .alias("cents"))
        .filter(F.col("cents") > 0)
        .collect()
    )
    total = sum(r["cents"] for r in rev)
    n = len(rev)
    mu = total / n
    t_total = sum(
        (r["cents"] / total) * math.log(r["cents"] / mu) for r in rev
    )
    # decomposition from the query output: share-weight the raw
    # within sums (they are sums of (x/X_g) ln(x n_g / X_g) terms)
    t_decomp = rows[0]["t_between_nano"] / 1e9 + sum(
        (r["income_share_ppm"] / 1e6) * (r["t_within_raw_nano"] / 1e9)
        for r in rows
    )
    # tolerance: nano floors over ~1500 terms + ppm share rounding
    assert abs(t_total - t_decomp) < 5e-4, (t_total, t_decomp)


def test_holt_winters_plan_contract(spark):
    """The r9 bench seat's scale posture: the events scan must prune to
    the two needed columns, daily counts must partial-aggregate before
    their exchange, the spine/bounds sides must broadcast, and exactly
    ONE FlatMapGroupsInPandas runs the per-series recursion (the
    applyInPandas-per-series-key class the seat exists to watch)."""
    plan = _plan(spark, "ts_holt_winters_additive")
    physical = plan.split("== Physical Plan ==")[-1]
    assert physical.count("FlatMapGroupsInPandas") == 1
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "BroadcastExchange" in plan  # bounds + daily counts broadcast
    # column pruning: no events scan may read beyond ts/event_type
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"ts", "event_type"}, cols


def test_otp_ranking_plan_contract(spark):
    """The second flights seat must stay the cheap-scan class: one
    partial-aggregated Exchange on carrier feeding the rank window —
    no join, no Python stage."""
    plan = _plan(spark, "flight_otp_ranking")
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_shingle_expression_evaluated_once_in_jaccard_plan(spark):
    """ADVICE r15: the r15 shingle double-eval fix (explode_outer +
    explicit isNotNull in explode_shingles) blocks Catalyst from pushing
    an inferred size(shingles)>0 constraint below the width repartition,
    which re-evaluated the full array_distinct(transform(...)) shingling
    pre-Exchange (the round's biggest win, 2.4x). Pin the property: the
    FORMATTED physical plan must evaluate the shingle expression exactly
    once, and never below the RoundRobin exchange. A Spark version bump
    that reintroduces the duplication fails here, not in the bench."""
    df = load_all()["dedup_ngram_jaccard"].fn(spark, SF)
    em = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(em)
    assert plan.count("array_distinct(transform") == 1, plan
    # the shingling must sit ABOVE the width-normalizing exchange: no
    # occurrence in any operator numbered at or below the RoundRobin
    # exchange's subtree (the scan-side Filter is where the duplicate
    # landed pre-fix)
    head = plan.split("RoundRobinPartitioning", 1)[0]
    # `head` is the operator tree + details up to the exchange argument
    # line; the pre-exchange Filter detail block precedes it only if the
    # filter carries the expression — assert it does not.
    for block in head.split("\n\n"):
        if block.strip().startswith("(") and "Filter" in block.splitlines()[0]:
            assert "array_distinct(transform" not in block, block
