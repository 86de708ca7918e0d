"""Physical-plan contracts: the scale promises every declared query
makes (pushdown, pruning, broadcast, partial agg, top-k) are asserted
against the actual Catalyst output — a plan regression fails CI."""

from __future__ import annotations

import pytest

from kaflow_spark.plans import (
    has_broadcast_join,
    has_partial_aggregate,
    has_top_k,
    pushed_filters,
    scan_read_schema,
)
from kaflow_spark.queries import REGISTRY


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = REGISTRY["q02_filter_project"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed


def test_in_between_pushdown(spark, sf_dir):
    df = REGISTRY["q03_in_between_like"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_returnflag" in pushed and "l_quantity" in pushed


def test_column_pruning(spark, sf_dir):
    df = REGISTRY["q01_scan_project"].spark(spark, sf_dir)
    assert set(scan_read_schema(df)) == {"r_regionkey", "r_name"}
    # q21 projects 2 of 6 orders columns; scan must not read the rest
    df21 = REGISTRY["q21_topk"].spark(spark, sf_dir)
    assert set(scan_read_schema(df21, "orders")) == {"o_orderkey", "o_totalprice"}


def test_dim_chain_broadcasts(spark, sf_dir):
    df = REGISTRY["q05_join_dim_chain"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=2)  # nation AND region broadcast


def test_range_join_broadcasts_small_side(spark, sf_dir):
    df = REGISTRY["q10_range_theta_join"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=1)  # BNLJ over broadcast supplier


def test_agg_is_two_phase(spark, sf_dir):
    df = REGISTRY["q12_tpch_q1_agg"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)  # map-side combine before shuffle


def test_topk_avoids_global_sort(spark, sf_dir):
    df = REGISTRY["q21_topk"].spark(spark, sf_dir)
    assert has_top_k(df)


def test_binned_range_join_is_equi_join(spark, sf_dir):
    """q64 must plan as a hash/sort-merge EQUI-join on the bin id —
    if it regresses to BroadcastNestedLoopJoin the large-x-large
    guarantee is gone."""
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(REGISTRY["q64_binned_range_join"].spark(spark, sf_dir))
    assert "NestedLoop" not in txt
    assert "SortMergeJoin" in txt or "ShuffledHashJoin" in txt or "BroadcastHashJoin" in txt


def test_asof_join_single_key_shuffle(spark, sf_dir):
    """The as-of join (q40) is union+window: exactly ONE shuffle on
    the join key feeds the window sort — no range fan-out joins."""
    from kaflow_spark.plans.explain import count_exchanges, explain_str

    df = REGISTRY["q40_asof_join"].spark(spark, sf_dir)
    txt = explain_str(df)
    # window machinery present, no join operator at all
    assert "Window" in txt
    assert "SortMergeJoin" not in txt and "NestedLoop" not in txt


def test_exists_rewrites_to_semi_and_anti(spark, sf_dir):
    """q75's EXISTS / NOT EXISTS must decorrelate into a left-semi and
    a left-anti join — never a per-row subquery or nested loop."""
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(REGISTRY["q75_exists_not_exists"].spark(spark, sf_dir))
    assert "LeftSemi" in txt
    assert "LeftAnti" in txt
    assert "NestedLoop" not in txt


def test_wordgram_contamination_broadcasts_bench(spark, sf_dir):
    """q95: the benchmark gram side broadcasts; the corpus side must
    reach the join via explode with no Exchange before it."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q95_contamination_wordgrams"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in txt
    assert has_partial_aggregate(df)  # overlap count partial-aggs


def test_duplicated_spans_shuffles_hashes_not_text(spark, sf_dir):
    """q96: the corpus-wide occurrence count partitions by the window
    HASH — the exchanged row carries (id, pos, xxhash64), never the
    window text."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q96_duplicated_spans"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "xxhash64" in txt
    # every Exchange partitions by id/pos/hash/island columns only —
    # the text column never appears in an exchange's partitioning
    import re

    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt):
        assert "text" not in part


def test_langid_confusion_aggregates_before_window(spark, sf_dir):
    """q97: the per-language recall window runs on the aggregated
    confusion cells, so a partial aggregate must sit below it."""
    df = REGISTRY["q97_langid_confusion"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)


def test_tpch_q3_topk_and_exchange_reuse(spark, sf_dir):
    """q101: top-10 must be TakeOrderedAndProject (no global sort) and
    the final aggregate must reuse the lineitem-join exchange — at most
    one hash exchange above the scans beyond AQE's coalescing."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q101_tpch_q3_shipping"].spark(spark, sf_dir)
    assert has_top_k(df)
    assert has_partial_aggregate(df)


def test_tpch_q5_broadcasts_region_dims(spark, sf_dir):
    """q102: nation x region broadcast into supplier before any fact
    shuffle — at least two broadcast joins in the plan."""
    df = REGISTRY["q102_tpch_q5_local_supplier"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=2)


def test_tpch_q4_exists_is_left_semi(spark, sf_dir):
    """q107: the EXISTS must plan as a LEFT SEMI join carrying the
    non-equi ship-lag predicate — never a nested-loop."""
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(REGISTRY["q107_tpch_q4_order_priority"].spark(spark, sf_dir))
    assert "LeftSemi" in txt
    assert "NestedLoop" not in txt


def test_tpch_q18_single_lineitem_pass(spark, sf_dir):
    """q106: the HAVING-aggregate rewrite must scan lineitem exactly
    once (the literal IN-subquery plan scans it twice)."""
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(REGISTRY["q106_tpch_q18_big_orders"].spark(spark, sf_dir))
    assert txt.count("lineitem.parquet") <= 1 or txt.count("lineitem") <= 2
    assert has_top_k(REGISTRY["q106_tpch_q18_big_orders"].spark(spark, sf_dir))


def test_tpch_q22_not_exists_is_left_anti(spark, sf_dir):
    """q112: NOT EXISTS must plan as LEFT ANTI (never nested-loop),
    with the o_orderstatus predicate pushed into the orders scan."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q112_tpch_q22_global_sales_opportunity"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "LeftAnti" in txt
    assert "NestedLoop" not in txt or "BroadcastNestedLoop" in txt  # scalar bcast ok
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed


def test_tpch_q19_common_ranges_push_below_join(spark, sf_dir):
    """q111: CNF extraction must push the common l_quantity range into
    the lineitem scan (the disjunction itself can't push whole)."""
    df = REGISTRY["q111_tpch_q19_disjunctive"].spark(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed


def test_tpch_q6_is_pure_scan_agg(spark, sf_dir):
    """q113: no join, no exchange beyond the 1-row final agg; all
    three predicates reach the parquet scan."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q113_tpch_q6_forecast_revenue"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "Join" not in txt
    pushed = " ".join(pushed_filters(df))
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_q21_no_nested_loop(spark, sf_dir):
    """q116: the r14 supplier-count window rewrite replaced the
    LeftSemi/LeftAnti decorrelation pair outright — no nested-loop
    (and no semi/anti chain) anywhere in the plan. The full shape
    contract lives in test_r14_q116_single_lineitem_pass."""
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(REGISTRY["q116_tpch_q21_waiting_supplier"].spark(spark, sf_dir))
    assert "NestedLoop" not in txt


def test_q100_reuses_scoring_exchange(spark, sf_dir):
    """q100's contract: the regexp scoring scan materializes through
    ONE exchange that both the threshold branch and the filter branch
    consume. With AQE the reuse happens at stage materialization, so
    assert on the static planner (AQE off): exactly one ReusedExchange
    and exactly one 'documents' scan-with-scoring subtree."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q100_quality_threshold"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        # the expensive scoring scan must appear in ONE subtree
        assert plan.count("Scan parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q119_broadcasts_anchors_and_shuffles_scores_only(spark, sf_dir):
    """Hard negatives: anchors must go broadcast (NLJ on the label
    inequality) and the window shuffle must not carry embeddings."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q119_hard_negatives"].spark(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    # the hash exchange feeding the rank window carries id+score only
    # (simple mode prints exchange args inline; formatted mode puts
    # them on a separate Arguments: line and the pattern never fires)
    import re

    matches = re.findall(r"Exchange hashpartitioning\(query_id[^\n]*", plan)
    assert matches, "expected a query_id-keyed exchange in the plan"
    for m in matches:
        assert "embedding" not in m


def test_q120_single_shuffle_no_global_sort(spark, sf_dir):
    """Shuffle-shards: shard assignment is scan-side; the only
    hash exchange partitions by shard (for the per-shard window) and
    there is no single-partition exchange anywhere (the global-sort /
    global-row_number anti-pattern)."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q120_shuffle_shards"].spark(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "SinglePartition" not in plan
    assert "Exchange hashpartitioning(shard" in plan


def test_q121_partial_aggregates_before_exchange(spark, sf_dir):
    """OHLC: two-phase aggregate (partial min_by/max_by map-side) —
    the exchange carries aggregate rows, not events."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q121_ohlc_bars"].spark(spark, sf_dir)
    plan = explain_str(df, "formatted")
    assert "partial_min_by" in plan or "partial_min" in plan


def test_q122_no_single_partition_iterations(spark, sf_dir):
    """PageRank: per-round joins/aggs must hash-partition on node ids —
    no SinglePartition exchange anywhere in the final rank frame."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q122_trade_graph_pagerank"].spark(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "SinglePartition" not in plan


def test_q123_broadcasts_dims_and_partial_aggs(spark, sf_dir):
    """Q16 shape: part and the excluded-supplier side broadcast; the
    distinct pair derivation and count-distinct partial-agg before
    their exchanges."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q123_tpch_q16_supplier_cnt"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=2)
    assert has_partial_aggregate(df)


def test_q114_single_lineitem_scan_via_exchange_reuse(spark, sf_dir):
    """Q15: the revenue CTE's aggregate exchange must be shared by the
    max branch — exactly one lineitem scan (plus supplier). Guards the
    InferFiltersFromConstraints de-canonicalization regression (the
    supplier join infers isnotnull(l_suppkey) onto one branch; the
    shared subtree carries it explicitly)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q114_tpch_q15_top_supplier"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("Scan parquet") == 2  # lineitem once + supplier
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q128_single_lineitem_scan_diamond_reuse(spark, sf_dir):
    """Q20 shape: the per-(part,supp) aggregate feeds both the total
    and the dominance join — one lineitem scan via ReusedExchange."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q128_tpch_q20_dominant_supplier"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("lineitem") <= plan.count("ReusedExchange") + 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q129_single_lineitem_scan_min_cost_diamond(spark, sf_dir):
    """Q2 shape: the per-(part,supp) cost aggregate feeds both the
    per-part MIN and the row branch — one lineitem scan, dims broadcast
    into the shared subtree, top-100 without a global sort."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q129_tpch_q2_min_cost_supplier"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("lineitem") == 1
        assert has_top_k(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q130_single_lineitem_scan_scalar_diamond(spark, sf_dir):
    """Q11 shape: the per-part value aggregate feeds both the scalar
    (cnt,total) reduction and the filtered rows — one lineitem scan via
    ReusedExchange, supplier dim broadcast (lineitem shuffles once, on
    l_partkey only)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q130_tpch_q11_important_stock"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("lineitem") == 1
        assert has_broadcast_join(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q132_single_events_scan_stats_diamond(spark, sf_dir):
    """z-score outliers: the narrow (id, type, cents) projection is
    shared by the stats branch and the row branch — one events scan
    via ReusedExchange, |types|-row stats broadcast back."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q132_zscore_anomalies"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("events") == 1
        assert has_broadcast_join(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q135_single_corpus_explode_postings_diamond(spark, sf_dir):
    """Lexical retrieval: the corpus postings aggregate feeds both the
    document-frequency rollup and the scoring join — ONE full-corpus
    explode via ReusedExchange (the dfreq count is expressed as
    sum(least(tf,1)) so the shared aggregate cannot be pruned apart;
    the other Generates are the small query side: qpost + the r15
    semi-join build side that prunes corpus postings to query terms
    BELOW the postings exchange)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q135_lexical_retrieval_topk"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        # corpus explode once + qpost explode + semi build-side explode
        assert plan.count("Generate") == 3
        # the query-term prune must reach below the postings aggregate
        assert "LeftSemi" in plan
        assert has_broadcast_join(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q136_single_scan_decile_diamond(spark, sf_dir):
    """Exact decile bucketing: the scored frame feeds both the count
    table (window over <= 10001 rows) and the bucket-map join — one
    documents scan via ReusedExchange; both join keys are coalesce
    expressions so constraint inference folds away on BOTH branches."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q136_quality_deciles"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("documents") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q141_single_user_shuffle(spark, sf_dir):
    """SCD2 intervals: the change-flag window, island sum, run groupBy
    (key (user, island) is co-located under hash(user)), and the
    closing lead window all share ONE user_id hash exchange; the only
    other exchange is the output ORDER BY's range partitioning."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q141_scd2_intervals"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        hashes = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l
        ]
        assert len(hashes) == 1, hashes
        assert plan.count("Scan parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q144_shifted_self_join_reuses_aggregate(spark, sf_dir):
    """YoY growth: the (nation, year) revenue aggregate self-joins on
    (nation, year-1) — ONE orders scan via ReusedExchange. Guards the
    asymmetric isnotnull(yr) / isnotnull(yr+1) inference that split
    the diamond before the null-safe keys."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q144_yoy_revenue_growth"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "ReusedExchange" in plan
        assert plan.count("orders.parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q133_partial_aggs_and_broadcast_grand_total(spark, sf_dir):
    """Bigram surprisal: every aggregate partial-aggs map-side and the
    1-row grand total reaches the scoring join as a broadcast."""
    df = REGISTRY["q133_bigram_surprisal"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_q148_weighted_median_partial_aggs_no_nlj(spark, sf_dir):
    """Weighted median: weights partial-agg BEFORE the cumulative
    window; no nested-loop anywhere."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q148_weighted_median_price"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)
    assert "NestedLoop" not in explain_str(df)


def test_q150_cohort_ltv_single_custkey_diamond(spark, sf_dir):
    """Cohort LTV: the per-customer first-month aggregate and the
    revenue join share the custkey partitioning — orders scans once
    per branch at most, sizes broadcast."""
    df = REGISTRY["q150_cohort_ltv_curve"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_q145_basket_pairs_equi_join_no_nlj(spark, sf_dir):
    """Basket affinity: the pair enumeration is an equi-join on the
    order key — a nested-loop regression would break the
    large-by-large guarantee."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q145_basket_affinity"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "NestedLoop" not in txt or "BroadcastNestedLoop" in txt  # 1-row tot ok
    assert has_partial_aggregate(df)
    assert has_top_k(df)


def test_q147_bitmap_masks_partial_agg(spark, sf_dir):
    """Bitmap distinct: both aggregation levels partial-agg — the
    shuffle carries (group, bucket, mask) rows, never raw ids."""
    df = REGISTRY["q147_bitmap_distinct_users"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)


def test_q149_referential_check_is_left_anti(spark, sf_dir):
    """Data quality: the referential rule must plan as LEFT ANTI
    against the parent keys, never a nested-loop scan."""
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(REGISTRY["q149_data_quality_report"].spark(spark, sf_dir))
    assert "LeftAnti" in txt


def test_q146_two_level_blocking_equi_join_no_nlj(spark, sf_dir):
    """Fuzzy key matching: the candidate stage must stay an EQUI join
    on the (chunk, length, projection) blocking keys — a cartesian or
    nested-loop regression (e.g. someone 'simplifying' the projection
    keys into a non-equi condition) turns recall-exact blocking into
    an O(n^2) scan. Also locks the two-level key count: d=1 explodes
    each key into (d+1)^2 = 4 blocking rows, visible as the explode's
    4-element array constructor."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q146_fuzzy_key_match"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" not in txt
    assert has_partial_aggregate(df)  # pair dedup partial-aggs

    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # four two-level projections feed the explode (chunk ids 0..3)
    assert all(f"chunk, {i}" in opt or f"{i} AS chunk" in opt for i in (0, 1, 2, 3))


def test_q154_deletion_blocking_equi_join_no_nlj(spark, sf_dir):
    """Edit-distance join: the candidate stage must stay an EQUI join
    on the deletion-variant key — a non-equi regression (e.g. joining
    on a levenshtein condition directly) is the O(n²) scan the
    blocking exists to avoid."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q154_edit_distance_join"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" not in txt
    assert has_partial_aggregate(df)  # pair dedup partial-aggs


def test_q155_no_shuffle_no_python(spark, sf_dir):
    """Quantization audit is a pure per-row projection: any Exchange
    beyond the output sort, or any Python/Arrow eval node, is a
    regression."""
    from kaflow_spark.plans.explain import count_exchanges, explain_str

    df = REGISTRY["q155_int8_quantization"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "ArrowEvalPython" not in txt and "BatchEvalPython" not in txt
    # one range exchange for the ORDER BY, nothing else
    assert count_exchanges(df) <= 1


def test_q156_bounded_interval_join_is_broadcast(spark, sf_dir):
    """Quantile normalization: the global order-statistic lookup is a
    non-equi join BY DESIGN, legal only because the global count table
    is bounded — it must plan as BroadcastNestedLoop over that tiny
    table, never a cartesian over doc-level rows."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q156_quantile_normalization"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" in txt  # the bounded lookup
    assert has_partial_aggregate(df)  # (source, value) count table


def test_q157_overlap_hash_equi_join(spark, sf_dir):
    """Source-overlap matrix: the shingle join must be an equi join on
    the hash with partial aggregation on both sides of the shuffle."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q157_source_overlap_matrix"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" not in txt
    assert has_partial_aggregate(df)


def test_q158_drift_grid_broadcasts(spark, sf_dir):
    """Drift audit: the source x bucket grid is built by broadcast
    joins over the two bounded histogram tables — a shuffled join for
    the grid would imply the histogram escaped its bound."""
    df = REGISTRY["q158_source_drift_l1"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=2)
    assert has_partial_aggregate(df)


def test_q159_prefix_filter_equi_join_no_nlj(spark, sf_dir):
    """Prefix-filter set join: candidates come from an EQUI join on
    the gram hash (rare-first prefixes); a cartesian/NLJ regression
    would mean the size-filter conditions leaked into the join keys'
    place. The verify stage joins by id — also equi."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q159_prefix_filter_setjoin"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" not in txt


def test_q160_nearest_single_exchange_two_windows(spark, sf_dir):
    """Nearest as-of: ONE hash exchange on the join key must feed both
    direction windows — a second exchange means the backward/forward
    passes stopped sharing the union's partitioning."""
    from kaflow_spark.plans.explain import explain_str

    import re

    df = REGISTRY["q160_asof_nearest"].spark(spark, sf_dir)
    txt = explain_str(df)
    # key-only partitioning (the union window exchange) appears once;
    # the cutoffs-distinct exchange hashes (user_id, cutoff) and the
    # final ORDER BY is a range exchange — neither matches
    assert len(re.findall(r"hashpartitioning\(user_id#\d+L?, \d+\)", txt)) == 1
    assert "CartesianProduct" not in txt


def test_q161_bfs_rounds_stay_equi_join(spark, sf_dir):
    """BFS: every frontier expansion is an equi join on the edge
    source and every visited check a LeftAnti — a cartesian or
    non-anti regression breaks the frontier contract."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q161_bfs_hops"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "LeftAnti" in txt


def _release_memo_frames() -> None:
    from kaflow_spark.operators.dedup import (
        release_shingle_frames,
        release_verified_pair_frames,
    )
    from kaflow_spark.operators.similarity import release_semantic_pair_frames
    from kaflow_spark.operators.skew import release_probe_caches

    release_shingle_frames()
    release_verified_pair_frames()
    release_semantic_pair_frames()
    release_probe_caches()


@pytest.mark.parametrize(
    "query",
    [
        "q41_minhash_near_dup",
        "q42_simhash_near_dup",
        "q140_fuzzy_decontamination",
        "q253_semantic_near_dup",
        "q161_bfs_hops",
    ],
)
def test_query_persists_only_memo_frames(spark, sf_dir, query):
    """A query persists nothing but the shared frames of the memo
    registry (q161: nothing at all), and releasing the registry empties
    the CacheManager: a query that caches a frame nothing can release
    holds executor memory for the rest of the session."""
    from pyspark.sql import DataFrame

    from kaflow_spark.operators import memo

    _release_memo_frames()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    df = REGISTRY[query].spark(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    frames = [
        v
        for values in memo._MEMO.values()
        for v in values.values()
        if isinstance(v, DataFrame)
    ]
    assert all(f.storageLevel.useMemory for f in frames)
    assert jsc.getPersistentRDDs().size() == len(frames)
    if query == "q161_bfs_hops":
        assert not frames
    _release_memo_frames()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert jsc.getPersistentRDDs().size() == 0


def test_q162_per_doc_count_partition(spark, sf_dir):
    """Intra-doc repetition: the occurrence-count window must
    partition by (_id, hash) — per-doc-bounded — not by hash alone
    (which would silently revert to the corpus-level semantics AND
    reintroduce boilerplate-key skew)."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q162_intra_doc_repetition"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "partitionspec=[_id" in txt.lower().replace(" ", "") or (
        "_id" in txt and "_h1" in txt
    )
    assert has_partial_aggregate(df)


def test_q163_winsorized_touches_rows_once(spark, sf_dir):
    """Winsorized stats: raw rows feed exactly one partial-agg'd
    groupBy; the selector windows and the clamp join run over the
    bounded count table (broadcast)."""
    df = REGISTRY["q163_winsorized_stats"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df, count=1)


def test_q164_winnow_equi_join_no_nlj(spark, sf_dir):
    """Winnowing screen: candidates from an equi join on the
    fingerprint gram; verify joins by id — no cartesian anywhere."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q164_winnow_near_dup"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoop" not in txt


def test_q165_pair_join_over_bounded_centroids(spark, sf_dir):
    """Source semantic distances: the pair join must consume the
    AGGREGATED centroid table (partial-agg'd), never raw vectors, and
    the doc->source attach stays a broadcast-able equi join."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q165_source_embedding_distance"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert has_partial_aggregate(df)


def test_q166_four_windows_one_exchange(spark, sf_dir):
    """Interpolating gap-fill: all four ignore-nulls windows share one
    (event_type) exchange and one ASC order — a second event_type
    hash exchange means the frames stopped sharing the sort."""
    import re

    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q166_gapfill_interpolate"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert len(re.findall(r"hashpartitioning\(event_type#\d+, \d+\)", txt)) <= 2
    assert "CartesianProduct" not in txt


def test_q168_topk_heap_not_global_sort(spark, sf_dir):
    """Skew report: the top-25 must come from TakeOrderedAndProject
    over the aggregated key-count table — a global Sort of all keys
    defeats the point of a diagnosis meant to run before every big
    join."""
    df = REGISTRY["q168_join_key_skew_report"].spark(spark, sf_dir)
    assert has_top_k(df)
    assert has_partial_aggregate(df)


def test_q170_snapshots_share_user_partitioning(spark, sf_dir):
    """State diff: both argmax windows and the diff join ride user_id
    hash partitioning; no cartesian anywhere."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q170_snapshot_state_diff"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "CartesianProduct" not in txt
    assert "Window" in txt


def test_q171_attribution_is_union_window_not_range_join(spark, sf_dir):
    """Last-touch attribution must plan as the union-and-window as-of
    (one key shuffle) — a SortMergeJoin on a range condition would be
    the unbounded fan-out the operator exists to avoid."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q171_last_touch_attribution"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "Window" in txt
    assert "NestedLoop" not in txt
    assert has_partial_aggregate(df)  # the per-(user, ts) click collapse


def test_q190_single_scan_diamond(spark, sf_dir):
    """Kendall concordance: THREE consumers (a-side, x-side, totals)
    of one cells aggregate must share ONE corpus scan — both the
    load-bearing-column idiom (totals keep b1/b2 0-weighted in their
    sum) and the two null-safe joins (inner self-join AND the outer
    totals attach — a plain == on either infers isnotnull(source)
    into a subset of branches and de-canonicalizes) are required.
    Static planner per the AQE-reuse pitfall."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q190_kendall_concordance"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
        assert plan.count("ReusedExchange") == 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q189_windows_over_bounded_cells_only(spark, sf_dir):
    """Chi-square: one corpus aggregation to the |sources| x |langs|
    cell table; every window (row/col/grand totals) runs OVER that
    bounded table — one scan, no second corpus pass, no cartesian."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q189_chi_square_independence"].spark(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_q191_decile_assignment_avoids_global_sort(spark, sf_dir):
    """Calibration deciles: NTILE semantics WITHOUT a corpus-wide
    single-partition sort — positions come from a window over the
    bounded distinct-value table plus per-value row_numbers. The only
    SinglePartition subtrees allowed are over post-aggregation
    bounded tables (the cum table and the 1-row total), never the
    document scan."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q191_length_duplication_calibration"].spark(spark, sf_dir)
    plan = explain_str(df, "formatted")
    # the doc-level windows partition by text / n_chars (never empty)
    for line in plan.splitlines():
        if "Arguments:" in line and "SinglePartition" in line:
            assert "row_number" not in line


def test_q192_pmi_topk_heap_and_shared_bigram_agg(spark, sf_dir):
    """PMI collocations: the LIMIT must plan as TakeOrdered (size-k
    heaps, no global sort) and the bigram count aggregate must be
    shared between the support-filtered pair table and the grand
    total M (static planner per the AQE-reuse pitfall)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q192_pmi_collocations"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert "TakeOrderedAndProject" in plan
        assert "ReusedExchange" in plan
        # r14: ONE token-with-successor explode feeds ONE (t1, t2,
        # count) cell aggregate; unigram counts, N and M all derive
        # from that bounded table (least() guards, null-safe joins),
        # so the corpus is scanned and exploded exactly once
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Generate") == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q191_dup_flag_shuffles_hash_not_text(spark, sf_dir):
    """Round 9: the dup-flag count window partitions by the 128-bit
    two-seed xxhash64 identity — the exchange under it carries
    16-byte hash keys, never document bytes. At 100x scale the
    raw-text shuffle key was this query's entire cost."""
    import re

    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q191_length_duplication_calibration"].spark(spark, sf_dir)
    txt = explain_str(df)
    assert "xxhash64" in txt
    for part in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", txt):
        assert "text" not in part


def test_q194_single_scan_basket_diamond(spark, sf_dir):
    """q194: basket count, marginals and pair counts all branch off
    ONE (user, day) type-set aggregate — a single events scan with the
    other consumers reusing its exchange (static planner; the
    self-join formulation measured 3 scans)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q194_cooccurrence_lift"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
        assert plan.count("ReusedExchange") >= 3
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q195_theil_sen_pairs_over_bounded_series(spark, sf_dir):
    """q195: the O(d^2) slope enumeration joins the contracted
    (type, day) series with itself and the day-count branch rides the
    same aggregate — ONE events scan, both other consumers
    ReusedExchange (null-safe keys + the q135 load-bearing-sum count
    keep the diamond canonical)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q195_theil_sen_trend"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
        assert plan.count("ReusedExchange") >= 2
        assert has_partial_aggregate(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q198_autocorrelation_single_scan_lag_join(spark, sf_dir):
    """q198: the 7-way lag join runs over the contracted series with
    the second side reusing the series exchange (null-safe keys —
    plain equi-keys de-canonicalized the branches; measured 2
    scans)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q198_volume_autocorrelation"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
        assert "ReusedExchange" in plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q193_rolling_median_single_series_shuffle(spark, sf_dir):
    """q193: the corpus contracts to the (type, day) series in one
    partial-agg'd aggregation; the rolling frame never sees raw
    events and no single-partition exchange touches the corpus."""
    from kaflow_spark.plans.explain import explain_str

    df = REGISTRY["q193_rolling_median_7d"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)
    plan = explain_str(df, "formatted")
    for line in plan.splitlines():
        if "Arguments:" in line and "SinglePartition" in line:
            raise AssertionError(f"corpus-wide single partition: {line}")


def test_q203_rolling_wau_single_scan(spark, sf_dir):
    """q203: the observed-day flag rides the SAME aggregation as the
    distinct count — one events scan, no calendar re-scan branch
    (the two-branch form measured 2 scans)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q203_rolling_wau"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q208_star_broadcasts_dims_no_fact_shuffle_for_join(spark, sf_dir):
    """q208: both CRM dims broadcast; the event fact's only exchange
    is the partial-agg'd rollup (no shuffle to satisfy the joins)."""
    df = REGISTRY["q208_behavior_demographics"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=2)
    assert has_partial_aggregate(df)
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(df)
    assert "SortMergeJoin" not in txt


def test_q209_growth_accounting_single_scan(spark, sf_dir):
    """q209: first-seen day rides the contracted activity table as a
    window on ONE lineage — no separate first-day aggregation branch
    re-scanning events (static planner, the trap-9 idiom)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q209_growth_accounting"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q210_stickiness_single_scan_single_distinct_pass(spark, sf_dir):
    """q210: DAU and MAU come from ONE aggregation over the explode
    (the conditional distinct count) — one events scan, no per-window
    diamond."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q210_dau_mau_stickiness"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q214_vector_star_broadcasts_dim(spark, sf_dir):
    """q214: the document dimension projection broadcasts; the vector
    table never shuffles to satisfy the join."""
    df = REGISTRY["q214_vector_provenance_audit"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=1)
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(df)
    assert "SortMergeJoin" not in txt


def test_q222_rfm_one_scan_reused_customer_agg(spark, sf_dir):
    """q222: the quintile boundaries and the band assignment both
    consume ONE customer aggregate (identical projections, reused
    exchange) — one orders scan, no per-metric diamond (static
    planner, trap-9 idiom)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q222_rfm_segments"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1, plan
        assert "ReusedExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q224_mad_single_scan_derived_deviations(spark, sf_dir):
    """q224: the deviation distribution is derived from the same
    (type, cents, count) contraction as the median — one events
    scan, the contraction's exchange reused across its three
    consumers."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q224_mad_outliers"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1, plan
        assert "ReusedExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q138_mad_rows_two_pruned_scans_no_corpus_shuffle(spark, sf_dir):
    """r14: the mad_outliers OPERATOR derives the deviation counts
    from the (group, cents, count) contraction (the q224 idiom) —
    the old shape repartitioned full rows and aggregated the corpus
    twice (8 static scans). Now exactly two pruned events scans
    (count branch + row-emission branch) and no full-row exchange:
    every Exchange in the plan sits above an aggregate or window of
    the bounded count table."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q138_mad_outliers"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 2, plan
        assert "ReusedExchange" in plan, plan
        # the old shape's marker: a round-robin/hash repartition of
        # event rows directly above a scan
        assert "REPARTITION_BY_COL" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q221_q223_q228_single_scan(spark, sf_dir):
    """The round-11 window-family queries each read events exactly
    once (cohort floor / islands / session ids are windows on one
    lineage, never a self-join)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in (
            "q221_cohort_retention",
            "q223_activity_streaks",
            "q228_session_depth_conversion",
        ):
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = explain_str(df, "simple")
            assert plan.count("Scan parquet") == 1, (name, plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q230_q232_single_scan(spark, sf_dir):
    """The round-11 batch-2 event-sequence queries each read events
    exactly once: the LAG/LEAD, island sum, and gap derivations are
    windows on one lineage, and every downstream rollup (per-day
    sweep line, survival thresholds) consumes a bounded contraction
    of that single pass."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in (
            "q230_peak_concurrency",
            "q232_gap_survival",
            "q237_daily_coverage",
        ):
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = explain_str(df, "simple")
            assert plan.count("Scan parquet") == 1, (name, plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q231_broadcasts_part_dim(spark, sf_dir):
    """q231: the part dimension joins BROADCAST onto the flagged
    lines; the only sort-merge join is the intended big-big
    lineitem x orders equi-join on the order key."""
    df = REGISTRY["q231_reorder_share"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=1)
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(df, "simple")
    assert txt.count("Scan parquet") == 3, txt


def test_q233_two_scans_shared_windows(spark, sf_dir):
    """q233: exactly two scans (orders + customer); the cumulative
    and total windows both ride the per-segment value grid — no
    second pass over orders for the totals."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q233_pareto_coverage"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 2, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q235_single_scan(spark, sf_dir):
    """q235: events contract to the (type, day) series in one
    aggregation; prefix sums, the quantized objective, and the argmax
    are windows on that single lineage."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q235_change_point"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q236_single_scan_grid_reused(spark, sf_dir):
    """q236: ONE documents scan; the (source, value) grid's exchange
    is reused by every consumer (totals, value list, dense join,
    a-side) — the srcs/vals branches are aggregates over the grid
    with 0-weighted markers, never bare distincts that collapse onto
    the scan (traps 12/15)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q236_source_length_shift"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("ReusedExchange") >= 3, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q236_u2_identity(spark, sf_dir):
    """Mann-Whitney identity: u2(a,b) + u2(b,a) == 2 * n_a * n_b for
    every ordered pair (wins double-counted, ties split)."""
    rows = (
        REGISTRY["q236_source_length_shift"]
        .spark(spark, sf_dir)
        .collect()
    )
    u = {(r.source_a, r.source_b): r for r in rows}
    assert u, "no source pairs"
    for (sa, sb), r in u.items():
        mirror = u[(sb, sa)]
        assert r.u2 + mirror.u2 == 2 * r.n_a * r.n_b, (sa, sb)
        assert r.n_a == mirror.n_b and r.n_b == mirror.n_a


def test_q234_broadcast_centroids_no_shuffle_join(spark, sf_dir):
    """q234: the (k x d) centroid table broadcasts into the per-dim
    join — the corpus side never shuffles for assignment (same
    contract as q92)."""
    df = REGISTRY["q234_label_silhouette"].spark(spark, sf_dir)
    assert has_broadcast_join(df, count=1)
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(df, "simple")
    assert "SortMergeJoin" not in txt, txt


def test_q229_partial_agg_before_join(spark, sf_dir):
    """q229: lineitem contracts to one row per order via a
    partial-agg'd groupBy BEFORE joining orders — the fact table
    never flows through the join at line grain."""
    df = REGISTRY["q229_split_shipments"].spark(spark, sf_dir)
    assert has_partial_aggregate(df)
    from kaflow_spark.plans.explain import explain_str

    txt = explain_str(df, "simple")
    assert txt.count("Scan parquet") == 2, txt


def test_q238_single_scan_spike_diamond(spark, sf_dir):
    """q238: ONE events scan feeds daily -> {grid/median, spikes a,
    spikes b, per-type totals} — the non-nullable day_i keeps all
    three spike consumers canonically identical (trap 5/q100)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q238_co_spike_matrix"].spark(spark, sf_dir)
        plan = explain_str(df, "simple")
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("ReusedExchange") >= 3, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q239_q240_fact_contracts_before_dims(spark, sf_dir):
    """q239/q240: lineitem contracts (per (part, supplier) / per
    part) before any dim join; the part dim broadcasts; q240's
    horizon branch reuses the last-ship aggregate instead of
    re-scanning lineitem (null-safe join, trap 12)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, scans in (
            ("q239_supplier_price_spread", 2),
            ("q240_stale_parts", 2),
        ):
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = explain_str(df, "simple")
            assert plan.count("Scan parquet") == scans, (name, plan)
            assert has_broadcast_join(df, count=1), name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_round12_plan_contracts(spark, sf_dir):
    """Round-12 suite physical contracts (static planner, trap 9):

    - q241/q247 read their fact table exactly ONCE and close their
      grid diamonds with ReusedExchange (the value/cumulative grid
      feeds rank, per-source/priority rollups AND the tie/statistic
      branches off one shuffle);
    - q242 shuffles orders once — the running-balance window and the
      per-customer aggregate share the (c_custkey) partitioning;
    - q243/q245/q246 broadcast their dimension/scalar side (no
      shuffle join against a bounded frame)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, want_scans in (
            ("q241_kruskal_wallis_sources", 1),
            ("q247_interpolated_quantiles", 1),
        ):
            plan = explain_str(REGISTRY[name].spark(spark, sf_dir), "simple")
            assert plan.count("Scan parquet") == want_scans, (name, plan)
            assert plan.count("ReusedExchange") >= 2, (name, plan)

        plan = explain_str(
            REGISTRY["q242_credit_exposure_replay"].spark(spark, sf_dir),
            "simple",
        )
        # one broadcast (customer opening balances) + one shuffle on
        # c_custkey shared by window and aggregate + the final sort
        assert plan.count("BroadcastExchange") == 1, plan
        assert plan.count("Exchange hashpartitioning") <= 1, plan

        for name in (
            "q243_supplier_hhi_by_nation",
            "q245_lorenz_decile_shares",
            "q246_customer_dormancy",
        ):
            plan = explain_str(REGISTRY[name].spark(spark, sf_dir), "simple")
            assert plan.count("BroadcastExchange") >= 1, (name, plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_round12_batch2_plan_contracts(spark, sf_dir):
    """q249's two metric populations ride ONE events lineage (stack,
    not a union of differently-filtered branches — trap 5), and
    q251's day-shifted self-join closes its series diamond with a
    null-safe key (trap 12): one scan + ReusedExchange each."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in (
            "q249_reliability_mttr_mtbf",
            "q251_lead_lag_correlation",
        ):
            plan = explain_str(REGISTRY[name].spark(spark, sf_dir), "simple")
            assert plan.count("Scan parquet") == 1, (name, plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_round13_semantic_plan_contracts(spark, sf_dir):
    """Round-13 semantic-dedup family physical contracts (static
    planner, trap 9):

    - after one q253 build, q254/q255 read the SHARED pair frame from
      cache (InMemoryTableScan) and attach document dimensions by
      broadcast — no SortMergeJoin anywhere, no second IVF pipeline;
    - q256's only SortMergeJoin is the full-outer join of the two
      churn-bounded pair frames (full outer cannot broadcast); both
      pair inputs are cache reads;
    - q257 keeps the exactly-k rank fully pushed down: a
      Partial+Final WindowGroupLimit pair around ONE hash exchange on
      the group key (each map task forwards at most k rows per group
      — the 100 TB shape), and exactly one corpus scan;
    - nothing in the family plans a CartesianProduct.
    """
    from kaflow_spark.operators import similarity
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        similarity.release_semantic_pair_frames()
        REGISTRY["q253_semantic_near_dup"].spark(spark, sf_dir).count()

        for name in (
            "q254_semantic_dup_provenance",
            "q255_semantic_dedup_summary",
        ):
            plan = explain_str(REGISTRY[name].spark(spark, sf_dir), "simple")
            assert "InMemoryTableScan" in plan, (name, plan)
            assert plan.count("BroadcastExchange") >= 1, (name, plan)
            assert "SortMergeJoin" not in plan, (name, plan)
            assert "CartesianProduct" not in plan, (name, plan)

        plan = explain_str(
            REGISTRY["q256_semantic_vs_lexical_matrix"].spark(spark, sf_dir),
            "simple",
        )
        assert plan.count("SortMergeJoin") == 1, plan
        assert "FullOuter" in plan, plan
        assert "CartesianProduct" not in plan, plan

        plan = explain_str(
            REGISTRY["q257_weighted_priority_sample"].spark(spark, sf_dir),
            "simple",
        )
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("WindowGroupLimit") == 2, plan  # Partial + Final
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        similarity.release_semantic_pair_frames()


def test_round13_batch2_plan_contracts(spark, sf_dir):
    """Round-13 batch-2 physical contracts (static planner, trap 9):
    q258's per-priority total rides the digit grid as a window with
    eqNullSafe densify keys (plain keys inferred isnotnull into one
    branch and split the diamond — measured 2 scans); q260 is one
    scan; q261 counts outliers off the bounded value GRID, never
    re-scanning orders (1 fact scan + the customer dim, grid diamond
    reused); q259 keeps the q194 shape — one lineitem scan, basket
    aggregate reused by count/marginals/pairs, part + normalizers
    broadcast."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, scans, reused in (
            ("q258_benford_second_digit", 1, 1),
            ("q260_effective_type_diversity", 1, 0),
            ("q261_tukey_outlier_rate", 2, 1),
            # r14: one sentinel/marginal/pair explode into one cell
            # aggregate; marginals ride windows, the consequent slice
            # reuses the cell exchange (null-safe join, load-bearing
            # _na — the plain shape re-ran the explode 3x)
            ("q259_brand_association_rules", 2, 1),
        ):
            plan = explain_str(REGISTRY[name].spark(spark, sf_dir), "simple")
            assert plan.count("Scan parquet") == scans, (name, plan)
            assert plan.count("ReusedExchange") >= reused, (name, plan)
            assert "CartesianProduct" not in plan, (name, plan)
        p259 = explain_str(
            REGISTRY["q259_brand_association_rules"].spark(spark, sf_dir),
            "simple",
        )
        assert p259.count("Generate explode(concat") == 1, p259
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_round13_batch3_plan_contracts(spark, sf_dir):
    """q264 is one corpus scan (two stacked partial aggregations);
    q265's median, MAD and outlier tallies all derive from ONE
    (segment, cents) value grid — 1 fact scan + the customer dim,
    grid exchange reused by every consumer, summaries broadcast."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q264_chao1_vocab_richness"].spark(spark, sf_dir),
            "simple",
        )
        assert p.count("Scan parquet") == 1, p
        p = explain_str(
            REGISTRY["q265_mad_outlier_rate"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Scan parquet") == 2, p
        assert p.count("ReusedExchange") >= 2, p
        assert "SortMergeJoin" not in p, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q269_semantic_corpus_plan_contract(spark, sf_dir):
    """q269 emits the semantically-deduplicated corpus with exactly
    TWO documents scans — the member-scoring branch (quality regexes
    projected ABOVE the broadcast cc join, never on the full corpus)
    and the narrow (doc_id, source) output branch — every join a
    broadcast, no cartesian/sort-merge. A drop-list formulation
    consumed the keeper aggregate under two different projections
    (no exchange reuse -> the scoring scan ran twice); the single
    (cluster_id, doc_id) keeper left-join keeps it at one."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q269_semantic_dedup_corpus"].spark(spark, sf_dir),
            "simple",
        )
        # embeddings-lineage scans vary with pair-frame cache state;
        # the contract is on the CORPUS side only
        assert p.count("documents.parquet") == 2, p
        assert "CartesianProduct" not in p, p
        assert "SortMergeJoin" not in p, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_round14_audit_plan_contracts(spark, sf_dir):
    """q270 is ONE corpus scan (cells -> windows -> rollup); q271's
    five consumers of the (source, bucket) cell aggregate — source
    totals, densifying grid, global bucket count, cell left-join,
    both self-join sides — all reuse ONE exchange off ONE scan (the
    load-bearing least(_lb, 1) smoothing term keeps the grid branch
    on the shared aggregate; a bare select('bucket') demoted it to
    DISTINCT straight off the scan — trap 15, measured 2 scans)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q270_source_entropy_evenness"].spark(spark, sf_dir),
            "simple",
        )
        assert p.count("Scan parquet") == 1, p
        assert "CartesianProduct" not in p, p
        p = explain_str(
            REGISTRY["q271_source_kl_matrix"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Scan parquet") == 1, p
        assert p.count("ReusedExchange") >= 5, p
        assert "CartesianProduct" not in p, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_r14_weighted_median_bucket_parallel_contracts(spark, sf_dir):
    """r14 optimization contract for the bucket-parallel weighted
    median (q148/q185): ONE fact scan — the carry branch reads
    bucket totals off the window output and REUSES the (group, _bk)
    exchange (a groupBy on the raw rows instead planned its partial
    agg below a second exchange: measured 2 full scans + 2 full
    shuffles); eqNullSafe on BOTH carry-join keys keeps isnotnull
    inference from de-canonicalizing the diamond (q100/q190)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, scans in (
            ("q148_weighted_median_price", 1),
            ("q185_weighted_median", 1),
        ):
            p = explain_str(REGISTRY[name].spark(spark, sf_dir), "simple")
            assert p.count("Scan parquet") == scans, (name, p)
            assert p.count("ReusedExchange") >= 1, (name, p)
            assert "CartesianProduct" not in p, (name, p)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q188_weighted_median_grid_contract(spark, sf_dir):
    """q188 runs weighted_median(grid=True): the (event_type, gap)
    cells are rolled up first and the cumulative-weight window runs
    over that CONTRACTED grid, not over the raw gap rows. ONE events
    scan, no carry diamond (so no ReusedExchange), no
    CartesianProduct."""
    import re

    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q188_interarrival_median"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Scan parquet") == 1, p
        assert "ReusedExchange" not in p, p
        assert "CartesianProduct" not in p, p
        lines = p.splitlines()
        cum = next(i for i, ln in enumerate(lines) if "Window [sum(_w" in ln)
        grid = next(
            i
            for i, ln in enumerate(lines)
            if re.search(r"HashAggregate\(keys=\[event_type#\d+, gap#", ln)
        )
        # the window sits above the grid rollup with no scan between
        assert cum < grid, p
        assert not any("Scan" in ln for ln in lines[cum:grid]), p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_r14_q116_single_lineitem_pass(spark, sf_dir):
    """r14: Q21's EXISTS/NOT-EXISTS pair evaluates as per-order
    supplier counts — ONE lineitem scan (the semi+anti decorrelation
    scanned it 3x with a SortMergeJoin), the orderkey window reusing
    the contraction's partitioning, every join a broadcast."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q116_tpch_q21_waiting_supplier"].spark(spark, sf_dir),
            "simple",
        )
        assert p.count("lineitem.parquet") == 1, p
        assert p.count("Scan parquet") == 4, p
        assert "SortMergeJoin" not in p, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_r14_q145_single_contraction_diamond(spark, sf_dir):
    """r14: q145's pair enumeration, supports, and order total all
    branch off ONE (order, part) contraction with a load-bearing
    count (the old shape built the distinct twice and
    count_distinct(o) collapsed into a third scan — trap 15b):
    1 lineitem scan, every other consumer a ReusedExchange."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q145_basket_affinity"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Scan parquet") == 1, p
        assert p.count("ReusedExchange") >= 3, p
        assert "CartesianProduct" not in p, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_r14_text_single_explode_contracts(spark, sf_dir):
    """r14: q88/q89 compute doc-frequency and per-token totals as
    WINDOW sums over ONE (id, token, count) postings frame instead of
    aggregate branches joined back on (isnotnull inference on the
    join keys re-ran the explode 3x: q88's static plan measured 3
    scans / 3 Generates, with a vocabulary-sized broadcast build).
    Contract: at most one explode on the postings path (q89's grand
    total re-derives above the REUSED fan-out exchange — text
    shuffles once — so it may add one more Generate, never a third),
    no vocabulary broadcast diamond (scan counts pinned)."""
    from kaflow_spark.plans.explain import explain_str

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = explain_str(
            REGISTRY["q88_tfidf_top_terms"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Generate") == 1, p
        assert p.count("Scan parquet") <= 2, p
        p = explain_str(
            REGISTRY["q89_unigram_surprisal"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Generate") <= 2, p
        assert p.count("Scan parquet") == 1, p
        assert p.count("ReusedExchange") >= 1, p
        # q133 adopted the same formulation in r14 (bigram grain): the
        # old totals-join shape measured 3 Generates / 3 scans.
        p = explain_str(
            REGISTRY["q133_bigram_surprisal"].spark(spark, sf_dir), "simple"
        )
        assert p.count("Generate") <= 2, p
        assert p.count("Scan parquet") == 1, p
        assert p.count("ReusedExchange") >= 1, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
