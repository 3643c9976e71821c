"""Plan-shape regression tests: the optimizer properties we designed for
(SURVEY.md §4: everything the reference lacks must actually fire here).
These run against sf0.001 — plan shape is scale-independent."""

from __future__ import annotations

import pytest

from chapterhousedb_spark.plans import (
    physical_plan,
    pushed_filters,
    read_schema_columns,
)
from chapterhousedb_spark.workload import QUERIES

from tests.conftest import SF_SMOKE


def q(name, spark):
    return QUERIES[name](spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    df = q("scan_filter_project", spark)
    pf = pushed_filters(df)
    assert any("LessThan(l_quantity" in f for f in pf), pf


def test_column_pruning(spark):
    df = q("scan_filter_project", spark)
    [cols] = read_schema_columns(df)
    # lineitem has 11 columns; the query needs exactly 4
    assert sorted(cols) == [
        "l_discount",
        "l_extendedprice",
        "l_orderkey",
        "l_quantity",
    ]


def test_timestamp_pushdown(spark):
    pf = pushed_filters(q("agg_pricing_summary", spark))
    assert any("l_shipdate" in f for f in pf), pf


def test_partial_aggregation_before_shuffle(spark):
    plan = physical_plan(q("agg_pricing_summary", spark))
    assert "partial_sum" in plan, "map-side combine missing"


def test_dim_joins_broadcast(spark):
    plan = physical_plan(q("join_broadcast_dims", spark))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_broadcast_nl(spark):
    plan = physical_plan(q("join_range_bands", spark))
    assert "BroadcastNestedLoopJoin" in plan


def test_order_by_limit_is_take_ordered(spark):
    plan = physical_plan(q("order_by_multi", spark))
    assert "TakeOrderedAndProject" in plan, "LIMIT over ORDER BY must not full-sort"


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in physical_plan(q("join_semi", spark))
    assert "LeftAnti" in physical_plan(q("join_anti", spark))


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash", "dedup_simhash", "ngram_jaccard_pairs", "embedding_near_dup"],
)
def test_no_cartesian_in_lsh_operators(spark, name):
    plan = physical_plan(q(name, spark))
    assert "CartesianProduct" not in plan, f"{name} degenerated to a cross join"


def test_exists_decorrelates_to_semi_join(spark):
    """Correlated EXISTS must become a semi join, not per-row subqueries."""
    plan = physical_plan(q("exists_subquery", spark))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_cube_is_single_pass_expand(spark):
    """ROLLUP/CUBE = one Expand + one aggregate pipeline per branch,
    not N scans per grouping set (agg_rollup_cube unions both)."""
    plan = physical_plan(q("agg_rollup_cube", spark))
    assert "Expand" in plan
    assert plan.count("FileScan") == 2


def test_pivot_stays_single_aggregate(spark):
    """Explicit pivot values: no extra distinct-scan; one agg pipeline."""
    plan = physical_plan(q("pivot_mktsegment", spark))
    assert plan.count("FileScan") == 1


def test_no_python_udfs_in_relational_and_text_paths(spark):
    """Hot paths must stay JVM-side (BatchEvalPython = row-at-a-time udf)."""
    for name in ["scan_filter_project", "text_stats", "dedup_minhash", "lang_id"]:
        plan = physical_plan(q(name, spark))
        assert "BatchEvalPython" not in plan, f"{name} fell back to a Python UDF"


def test_sampling_is_scanside_filter_no_shuffle(spark, sf_dir):
    """Deterministic sampling must stay a pure map-side filter — no
    Exchange, no Python eval; the md5 threshold runs in codegen."""
    from chapterhousedb_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = deterministic_sample(docs, 0.25, salt="s")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_single_shuffle_jvm_only(spark):
    """Sequence packing = exactly one Exchange (hash on shard) feeding
    the per-shard sort window; md5/conv/window all stay in codegen."""
    plan = physical_plan(q("pack_sequences", spark))
    assert plan.count("Exchange") == 1
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_round5_operators_stay_jvm_and_join_safe(spark):
    """pack_materialize and duplicate_spans: no Python eval, no
    cartesian — the explode/groupBy/join shapes must stay equi-keyed
    whole-stage-codegen pipelines."""
    for name in ["pack_materialize", "duplicate_spans"]:
        plan = physical_plan(q(name, spark))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_round5_scans_prune_columns(spark):
    """duplicate_spans and pii_redaction must read only the columns
    they use from the 5-column documents table (doc_id + text)."""
    for name in ["duplicate_spans", "pii_redaction"]:
        schemas = read_schema_columns(q(name, spark))
        assert schemas, name
        for cols in schemas:
            assert set(cols) == {"doc_id", "text"}, (name, cols)


def test_tpch_q3_take_ordered_and_pushdown(spark):
    """Q3's top-10 must collapse to TakeOrderedAndProject (no global
    sort) and all three single-table filters must reach their scans."""
    df = q("tpch_q3_shipping", spark)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    pf = pushed_filters(df)
    assert any("o_orderdate" in f for f in pf), pf
    assert any("l_shipdate" in f for f in pf), pf
    assert any("c_mktsegment" in f for f in pf), pf


def test_tpch_q5_broadcasts_dims(spark):
    """Q5's supplier/nation/region joins must be broadcast (no shuffle
    for the dim lattice); the only shuffle joins are the fact chain."""
    plan = physical_plan(q("tpch_q5_region_revenue", spark))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_decorrelates_no_nested_loop(spark):
    """Q17's correlated scalar-aggregate subquery must decorrelate into
    an aggregate + equi-join — never a per-row nested-loop replay. The
    brand filter must still push into the part scan."""
    df = q("tpch_q17_small_qty", spark)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    # the decorrelated per-part average is a real aggregate in the plan
    assert "avg(" in plan or "partial_avg" in plan, plan
    pf = pushed_filters(df)
    assert any("p_brand" in f for f in pf), pf


def test_tpch_q4_forces_sort_merge_semi(spark):
    """Q4's EXISTS under the merge hint must run as a sort-merge
    LEFT-SEMI join (the 100 TB orders><lineitem strategy) — no
    broadcast, no nested loop — with both scan filters pushed."""
    df = q("tpch_q4_order_priority", spark)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    pf = pushed_filters(df)
    assert any("l_returnflag" in f for f in pf), pf
    assert any("o_orderdate" in f for f in pf), pf


def test_incremental_merge_single_shuffle_no_join(spark):
    """Declared merge query: one hash shuffle on doc_id + window, no
    join operator anywhere (merge.py's 100 TB cost claim)."""
    plan = physical_plan(q("incremental_merge", spark))
    assert "Join" not in plan, plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q13_outer_join_preserved_and_two_aggs(spark):
    """Q13: the priority predicate must stay attached to the LEFT OUTER
    join (not collapse it to inner), and the histogram-of-group-sizes
    re-aggregation is two real aggregates, no nested loop."""
    plan = physical_plan(q("tpch_q13_cust_distribution", spark))
    assert "LeftOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_tpch_q18_semi_join_and_topk(spark):
    """Q18: the IN-subquery must plan as a semi join against the
    HAVING aggregate, and the final LIMIT as TakeOrderedAndProject —
    never a global sort of the joined fact."""
    plan = physical_plan(q("tpch_q18_large_orders", spark))
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_semi_and_anti_no_nested_loop(spark):
    """Q21: EXISTS -> left-semi, NOT EXISTS -> left-anti, both as
    equi-joins on l_orderkey with the suppkey inequality as a residual
    condition — the non-equi part must NOT force a nested-loop join."""
    df = q("tpch_q21_lone_blame", spark)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    pf = pushed_filters(df)
    assert any("l_returnflag" in f for f in pf), pf
    assert any("o_orderstatus" in f for f in pf), pf


def test_tpch_q22_scalar_broadcast_and_anti(spark):
    """Q22: the above-average threshold is a one-row broadcast (the
    only acceptable nested-loop: build side is exactly 1 row) and the
    no-urgent-orders predicate a left-anti equi-join; the priority
    filter pushes into the orders scan."""
    df = q("tpch_q22_idle_balances", spark)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan
    pf = pushed_filters(df)
    assert any("o_orderpriority" in f for f in pf), pf


def test_rollup_and_llm_queries_stay_jvm(spark):
    """New round-6 queries: no Python evaluation anywhere — vocab,
    tf-idf, training order and both rollups are pure JVM plans."""
    for name in [
        "vocab_topk",
        "tfidf_top_terms",
        "training_order",
        "events_rollup_daily",
        "events_distinct_rollup",
    ]:
        plan = physical_plan(q(name, spark))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_vocab_topk_is_take_ordered(spark):
    """vocabulary(top_k): the limit must be TakeOrderedAndProject over
    the aggregated vocab — no global sort of token counts."""
    plan = physical_plan(q("vocab_topk", spark))
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q20_reuses_partkey_exchange_no_nested_loop(spark):
    """Q20: the correlated-agg-inside-IN decorrelates into two
    aggregations over lineitem on l_partkey + an equi-join + a
    left-semi — no nested loop; Spark reuses the partkey exchange for
    both aggregations (ReusedExchange in the plan)."""
    df = q("tpch_q20_dominant_supplier", spark)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ReusedExchange" in plan or plan.count("Exchange") >= 2, plan


def test_tpch_q2_single_lineitem_scan_window_min(spark):
    """Q2: the correlated multi-join scalar MIN decorrelates as a
    window min over the region-restricted costs — ONE lineitem scan,
    one partkey shuffle, no join-back of the relation against itself
    (VERDICT r7 #5: the agg+join-back form scanned lineitem twice
    with no ReusedExchange because the broadcast dims leave no
    exchange to reuse)."""
    plan = physical_plan(q("tpch_q2_min_cost_supplier", spark))
    li_scans = sum(
        1
        for line in plan.splitlines()
        if "FileScan parquet" in line and "l_partkey" in line
    )
    assert li_scans == 1, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q9_broadcasts_dims_single_agg_exchange(spark):
    """Q9: supplier and nation broadcast — the fact table reaches the
    aggregation without a join shuffle; the only exchange is the tiny
    (nation, year) group-by."""
    plan = physical_plan(q("tpch_q9_nation_profit", spark))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q11_q15_scalar_broadcast_no_selfjoin_explosion(spark):
    """Q11/Q15: the global-aggregate side collapses to one broadcast
    row — never a shuffled join of the fact against itself on the
    aggregate; no nested loop beyond the single-row broadcast."""
    for name in ("tpch_q11_important_parts", "tpch_q15_top_supplier"):
        plan = physical_plan(q(name, spark))
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_tpch_q7_no_forced_customer_broadcast(spark):
    """Q7: supplier and both nation roles carry explicit broadcast
    hints, but CUSTOMER must not — it grows with SF (~1.5 B rows at a
    100 TB lineitem), so a forced hint there is a guaranteed OOM at
    scale (VERDICT r6 "what's wrong" #1). At small SF the size-based
    threshold/AQE may still broadcast it — that's the desired
    behavior: the decision belongs to the planner, not a hint."""
    df = q("tpch_q7_nation_volume", spark)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 3, analyzed
    plan = physical_plan(df)
    # the three hinted dims at minimum resolve to broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_tpch_q6_full_predicate_pushdown(spark):
    """Q6: the canonical pushdown shape — all three filter families
    (date range, discount band, quantity cap) must reach the parquet
    scan."""
    pf = " ".join(pushed_filters(q("tpch_q6_forecast_revenue", spark)))
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf, pf


def test_tpch_q16_null_aware_anti_join(spark):
    """Q16: NOT IN compiles to a broadcast NULL-AWARE anti join — the
    BroadcastHashJoinExec line ends with the isNullAwareAntiJoin=true
    flag; never a nested loop."""
    plan = physical_plan(q("tpch_q16_supplier_cnt", spark))
    assert "LeftAnti, BuildRight, true" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_disjunction_pushes_and_joins_hash(spark):
    """Q19: the OR-of-ANDs spanning both join sides must (a) keep the
    partkey equi-join a hash join (no nested loop), and (b) push the
    derivable per-side disjunct unions into EACH scan — the lineitem
    scan gets the quantity-band Or, the part scan the brand/size Or."""
    df = q("tpch_q19_disjunctive_revenue", spark)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    pf = pushed_filters(df)
    joined = " ".join(pf)
    assert "Or(" in joined and "l_quantity" in joined, pf
    assert "p_brand" in joined and "p_size" in joined, pf


def test_tpch_q8_q14_no_forced_part_broadcast(spark):
    """Q8/Q14: part scales with SF (like customer in q7) — no forced
    broadcast hint on it; q8's four hints are supplier + both nations
    + region, q14 has none at all."""
    an8 = q("tpch_q8_market_share", spark)._jdf.queryExecution().analyzed().toString()
    assert an8.count("ResolvedHint") == 4, an8
    an14 = q("tpch_q14_promo_effect", spark)._jdf.queryExecution().analyzed().toString()
    assert an14.count("ResolvedHint") == 0, an14


def test_tpch_q10_take_ordered_wide_group(spark):
    plan = physical_plan(q("tpch_q10_returned_items", spark))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_fires_at_scale_conditions(spark):
    """Spark's runtime bloom-filter join pruning (enabled by default in
    our sessions) injects a bloom filter from a SELECTIVE join side
    into the big fact scan — at 100 TB this skips most row groups of a
    shuffle join's probe side before the exchange. It only activates
    when the application side is large (10 GB default threshold), so
    this test simulates at-scale conditions: threshold lowered to 1
    byte and broadcast disabled (a broadcast join needs no bloom —
    the hash set itself prunes)."""
    from chapterhousedb_spark.workload.registry import load

    import pyspark.sql.functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = (
            load(spark, SF_SMOKE, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = load(spark, SF_SMOKE, "lineitem")
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        # and the result is still correct with the filter injected
        assert df.count() > 0
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_tpch_q2_decorrelated_min_no_nested_loop(spark):
    """Q2: the correlated region-restricted MIN decorrelates into one
    shared relation + aggregate + equi-join-back — no nested loop, no
    cartesian; dims broadcast."""
    plan = physical_plan(q("tpch_q2_min_cost_supplier", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_two_stage_dedup_plan_no_cartesian(spark):
    """The two-stage pipeline's candidate stage is a banded equi-join
    and the rerank joins the pair relation by id — never an all-pairs
    comparison anywhere in the plan."""
    plan = physical_plan(q("pipeline_two_stage_dedup", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dedup_plan_shape(spark):
    """Semantic dedup stays equi-keyed end-to-end: the SRP candidate
    stage joins on (pass_id, bucket), the survivor stage is a LeftAnti
    on the id — never a cartesian / nested-loop product."""
    plan = physical_plan(q("embedding_dedup", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_bigram_coverage_plan_shape(spark):
    """Bigram LM features: the corpus bigram counts collapse map-side
    (partial_count before the bg-keyed exchange) and the instance
    scoring joins on the bigram key — no cartesian anywhere."""
    plan = physical_plan(q("bigram_coverage", spark))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_dedup_span_rewrite_plan_shape(spark):
    """The span rewrite stays equi-keyed: window df counts collapse
    map-side, the keeper join is whash-keyed, the drop filter is a
    (doc, pos) LeftAnti — no cartesian anywhere."""
    plan = physical_plan(q("dedup_span_rewrite", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    assert "partial_count" in plan


def test_embedding_sq8_plan_stays_jvm(spark):
    """The whole SQ8 path (quantize + dequantized-cosine fold + top-k)
    is JVM expressions: no Python eval anywhere, and the final top-100
    is TakeOrdered, never a global sort."""
    plan = physical_plan(q("embedding_sq8", spark))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_adc_scan_is_code_only_and_pruned(spark, tmp_path, sf_dir):
    """A persisted IVF-PQ index probed ADC-only must (a) partition-
    prune to the probed cells and (b) column-prune the float vectors
    away — the scan reads id + code, nothing else. That pairing is the
    entire 100 TB story: nprobe/n_cells of the files, ~1/32 of the
    bytes within them."""
    from chapterhousedb_spark.operators.similarity import (
        pq_probe_topk,
        pq_write_index,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
    path = str(tmp_path / "pqplan")
    pq_write_index(embs, path, n_cells=4, m=8, nbits=4, max_iter=2)
    adc = pq_probe_topk(spark, path, [1.0] * 64, k=5, nprobe=2, refine=0)
    plan = physical_plan(adc)
    assert "PartitionFilters: [ivf_cell" in plan or "ivf_cell IN" in plan, plan
    [cols] = read_schema_columns(adc)
    assert "embedding" not in cols, cols
    assert "pq_code" in cols and "vec_id" in cols


def test_ngram_repetition_plan_shape(spark):
    """Repetition coverage is MAP-ONLY (r15): every statistic is a
    function of one document's own text, computed by sorted-run
    folds in JVM higher-order functions — no aggregation exchange, no
    join, no Python eval. The only allowed Exchange is the adaptive
    input fan-out (a single RoundRobin/hash repartition of the raw
    docs); there must be no aggregate anywhere."""
    plan = physical_plan(q("ngram_repetition", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # at most the fan-out exchange — never a shuffle of gram postings
    assert plan.count("Exchange") <= 1


def test_c4_clean_plan_is_single_scan(spark):
    """C4 cleanup is a pure per-row projection: no exchange, no join,
    no Python eval — one scan at full codegen speed."""
    plan = physical_plan(q("c4_clean", spark))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_knn_graph_plan_shape(spark):
    """kNN graph: the candidate stage is the SRP equi-keyed self-join
    (never cartesian/nested-loop) and the ranking is a window over the
    directed union — one hash-partitioned window, no global sort."""
    plan = physical_plan(q("knn_graph", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_embedding_clusters_plan_shape(spark):
    """embedding_clusters solves its small graph on the driver, so its
    result plan is a local scan; the shape to pin is the SRP-blocked
    edge plan it hands the solver."""
    from chapterhousedb_spark.operators import embedding_near_dup_pairs
    from chapterhousedb_spark.workload.registry import fan_out, load

    embs = fan_out(load(spark, SF_SMOKE, "embeddings"), key="vec_id")
    plan = physical_plan(embedding_near_dup_pairs(embs, threshold=0.45, planes=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pinned_twin_plans_stay_jvm(spark):
    """The round-10 pinned-state twins run the production expressions:
    pq encode is the one sanctioned Arrow-batched pandas stage (no
    row-at-a-time Python), ivf assignment and both ADC folds are pure
    JVM — no BatchEvalPython anywhere, no shuffle beyond the final
    orderBy exchange."""
    for name in ("pq_fixed_codebook", "pq_residual_fixed"):
        plan = physical_plan(q(name, spark))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" in plan, name  # pq_encode, by design
    plan = physical_plan(q("ivf_fixed_centroids", spark))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # assignment is pure JVM


def test_embedding_mrl_plan_shape(spark):
    """MRL funnel: the coarse cut feeds the exact rerank through a
    BROADCAST id join (the floats never shuffle), and the final top-k
    is TakeOrdered — no global sort of the corpus."""
    plan = physical_plan(q("embedding_mrl", spark))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_cluster_balance_plan_shape(spark):
    """Cluster-balanced subsampling: pure-JVM cell assignment + ONE
    hash shuffle on the cell key for the rank window; no Python, no
    cartesian, no global sort before the window."""
    df = q("pipeline_cluster_balance", spark)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # exchanges: the cell-keyed window partitioning plus the adaptive
    # input fan-out (r15 — a no-op at real scan parallelism); never a
    # join shuffle
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan


def test_pack_best_fit_plan_shape(spark):
    """Document-integrity packing: exactly one hash shuffle (the shard
    key) feeding ONE Arrow-batched pandas stage; the text column never
    reaches the pandas group (only id/len/shard do)."""
    df = q("pack_best_fit", spark)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    [cols] = read_schema_columns(df)
    assert "doc_id" in cols and "text" in cols  # token_count needs text
