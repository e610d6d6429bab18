"""Plan-shape regression tests (SURVEY.md §4): the physical plans the
100 TB design depends on. These lock in shuffle counts, column pruning,
broadcast joins, and top-k execution so a refactor can't silently
reintroduce the reference's anti-patterns."""

from __future__ import annotations

import re

import pytest

from retail_etl_pipeline_spark.operators import similarity
from retail_etl_pipeline_spark.registry import QUERIES


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir) -> dict[str, tuple[str, str]]:
    """name -> (optimized, physical) plan strings of every registered
    query, each built once for the four registry-wide checks."""
    plans = {}
    try:
        for name, fn in QUERIES.items():
            df = fn(spark, sf_dir)
            plans[name] = (_optimized(df), _physical(df))
    finally:
        # several dedup queries persist shared relations while building;
        # leftover cache entries substitute InMemoryRelation into other
        # tests' plans and change their shape
        spark.catalog.clearCache()
    return plans


def test_weekly_sales_rollup_single_shuffle(spark, sf_dir):
    """A1-A4 is scan -> partial agg -> ONE exchange -> final agg."""
    plan = _physical(QUERIES["weekly_sales_rollup"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_pricing_summary_scan_is_pruned(spark, sf_dir):
    """Column pruning must reach the parquet scan: 7 of 11 columns read."""
    plan = _physical(QUERIES["pricing_summary"](spark, sf_dir))
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    cols = [c.split("#")[0] for c in m.group(1).split(",")]
    assert len(cols) == 7, cols
    assert "l_orderkey" not in cols and "l_partkey" not in cols


def test_top_k_uses_take_ordered_not_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    top-k + merge), never a global sort of the whole relation."""
    plan = _physical(QUERIES["top_parts_by_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_dims_are_broadcast(spark, sf_dir):
    """J2/J3 dim joins broadcast; no shuffle of the fact for dim joins."""
    plan = _physical(QUERIES["weekly_sales_by_region"](spark, sf_dir))
    # calendar + store on the fact, plus nation/region inside the store dim
    assert len(re.findall(r"BroadcastHashJoin", plan)) == 4
    assert "SortMergeJoin" not in plan


def test_weekly_summary_is_single_aggregate(spark, sf_dir):
    """The flagship computes 13 metrics in ONE logical Aggregate over the
    merged frame — no self-joins of aggregate relations (the reference's
    8-way assembly, SURVEY.md §4)."""
    opt = _optimized(QUERIES["weekly_summary"](spark, sf_dir))
    # aggregates: the summary itself + the derived-inventory groupBy +
    # calendar distinct; crucially there is no join ABOVE the summary agg
    first_agg = opt.index("Aggregate")
    assert "Join" not in opt[:first_agg]


def test_weekly_summary_text_metrics_match_column_helpers(spark, sf_dir):
    """The 13 metrics are parsed from SQL text, one py4j call each. Built
    from the ``functions/metrics`` Column helpers instead, they must give
    the same optimized plan (``sameResult``): the text cannot drift from
    the helpers' decimal rounding and NULL-on-zero division."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.functions.metrics import (
        decimal_sum,
        money,
        money_sum,
        safe_div,
    )
    from retail_etl_pipeline_spark.operators.retail import WEEK_GRAIN
    from retail_etl_pipeline_spark.plans import weekly_summary as ws

    eow = F.col("cal_dt")
    oos_days = F.count_distinct(
        F.when(F.col("out_of_stock_flg") == 1, eow)
    ).cast("double")
    sum_qty = F.sum("sales_qty")
    on_hand = F.max_by("inventory_on_hand_qty", eow)
    low = F.sum("low_stock_flg")
    helpers = [
        money(sum_qty).alias("total_sales_qty"),
        money_sum(F.col("sales_amt")).alias("total_sales_amt"),
        money(safe_div(decimal_sum(F.col("sales_amt")), sum_qty))
        .alias("avg_sales_amt"),
        money_sum(F.col("sales_cost")).alias("total_sales_cost"),
        money(on_hand).alias("eow_on_hand_qty"),
        money(F.max_by("inventory_on_order_qty", eow)).alias("eow_on_order_qty"),
        oos_days.cast("bigint").alias("out_of_stock_days"),
        money(oos_days / F.lit(7)).alias("out_of_stock_rate"),
        low.cast("bigint").alias("low_stock_count"),
        F.sum(F.when(F.col("out_of_stock_flg") == 1, 1).otherwise(0))
        .cast("bigint").alias("no_stock_instances"),
        money(oos_days / F.lit(7) + low.cast("double"))
        .alias("total_low_stock_impact"),
        money(F.sum(F.when(
            F.col("low_stock_flg") == 1,
            F.col("sales_qty") - F.col("inventory_on_hand_qty"),
        ))).alias("potential_low_stock_impact"),
        money(safe_div(on_hand, sum_qty)).alias("weeks_supply"),
    ]
    m = ws.merged(spark, sf_dir)
    want = m.groupBy(*WEEK_GRAIN).agg(*helpers).select(*ws.SUMMARY_COLUMNS)
    got = ws.weekly_summary_from_merged(m)
    assert got._jdf.queryExecution().optimizedPlan().sameResult(
        want._jdf.queryExecution().optimizedPlan()
    )


def test_no_cartesian_products_anywhere(registry_plans):
    """No operator may compile to a cartesian product; near-dup/similarity
    pairs must ride equi-joins (shingle/band/bucket) or broadcast blocks."""
    for name, (_, plan) in registry_plans.items():
        assert "CartesianProduct" not in plan, name


def test_window_merged_summary_plan_shape(spark, sf_dir):
    """The window-derived merged plan is join-free: one exchange for the
    snapshot window, one for the count-distinct expansion, one for the
    final weekly aggregation — and nothing else."""
    plan = _physical(QUERIES["weekly_summary"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
    assert "Join" not in plan


def test_top3_per_brand_uses_window_group_limit(spark, sf_dir):
    """rn <= k over a ranking window must push into the window operator as
    a group limit (partial top-k before the shuffle), not filter all ranked
    rows post-hoc."""
    plan = _physical(QUERIES["top3_parts_per_brand"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_running_total_aggregates_before_window_shuffle(spark, sf_dir):
    """Shape: partial-agg -> exchange(store,week) -> final agg ->
    exchange(store) -> window. Exactly two hash exchanges, and the partial
    aggregate must sit BELOW the first one — the fact table is map-side
    combined before anything shuffles, so both exchanges move only the
    weekly aggregate (a repartition-first single-shuffle plan would move
    every raw row instead; at 100 TB that is the wrong trade)."""
    plan = _physical(QUERIES["running_revenue_by_store"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "Exchange rangepartitioning" not in plan
    first_exchange = plan.index("Exchange hashpartitioning")
    assert "partial_sum" in plan[first_exchange:], plan


def test_grouping_sets_single_expand_aggregate(spark, sf_dir):
    """GROUPING SETS compiles to one Expand + one aggregation pass — not a
    union of per-set aggregates."""
    plan = _physical(QUERIES["grouping_sets_brand_type"](spark, sf_dir))
    assert "Expand" in plan
    assert "Union" not in plan


def test_moment_stats_single_pass(spark, sf_dir):
    """stddev/corr via moment sums: one aggregation, one shuffle, no joins."""
    plan = _physical(QUERIES["acctbal_stats_by_segment"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan


def test_dynamic_partition_pruning_on_date_layout(spark, sf_dir, tmp_path):
    """A date-partitioned fact joined to a filtered calendar dim must get a
    runtime PartitionFilter (dynamic partition pruning): only the weeks the
    dim filter selects are scanned — the 100 TB read-path contract for the
    date={run} layout (io.write_run_partition)."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx

    path = str(tmp_path / "sales_by_month")
    month = (F.year("trans_dt") * 100 + F.month("trans_dt")).cast("int")
    fx.sales(spark, sf_dir).withColumn("yr_mnth", month).write.partitionBy(
        "yr_mnth"
    ).parquet(path)
    fact = spark.read.parquet(path)
    cal = (
        fx.calendar_dim(spark, sf_dir)
        .select("yr_mnth_num", "yr_num")
        .distinct()
        .where("yr_num = 1997")
    )
    joined = (
        fact.join(cal, fact.yr_mnth == cal.yr_mnth_num, "inner")
        .groupBy("yr_num")
        .agg(F.sum("sales_qty").alias("q"))
    )
    plan = _physical(joined)
    assert "dynamicpruningexpression" in plan, plan
    assert "SubqueryAdaptiveBroadcast" in plan, plan


def test_nation_trade_at_most_one_big_join(spark, sf_dir):
    """Q7 shape: customer/supplier/nation (x2) broadcast, so at MOST one
    non-broadcast join survives (lineitem ⋈ orders; at tiny SF stats let
    even orders broadcast, which is also fine — never more than one)."""
    plan = _physical(QUERIES["nation_trade_volume"](spark, sf_dir))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 4, plan
    big_joins = len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan))
    assert big_joins <= 1, plan


def test_nation_profit_filter_before_broadcast(spark, sf_dir):
    """Q9 shape: the p_name LIKE filter must reach the part SCAN as a
    pushed filter (prune before the broadcast ships), and no big-big join
    remains."""
    plan = _physical(QUERIES["nation_product_profit"](spark, sf_dir))
    assert len(re.findall(r"BroadcastHashJoin", plan)) == 3, plan
    assert "SortMergeJoin" not in plan
    assert "StringContains(p_name,red)" in plan, plan


def test_forecast_revenue_filters_reach_scan(spark, sf_dir):
    """Q6 shape: all three predicates pushed to parquet; no join, no hash
    exchange — just partial->final global agg."""
    plan = _physical(QUERIES["forecast_revenue"](spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_order_priority_exists_is_semi_join(spark, sf_dir):
    """EXISTS compiles to a LeftSemi hash join (no row multiplication),
    with the returnflag filter pushed below it."""
    plan = _physical(QUERIES["order_priority_exists"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_large_volume_aggregates_before_join(spark, sf_dir):
    """Q18 shape: the lineitem agg (1 exchange) runs BELOW the joins, so
    only qualifying orders are probed; final top-k is TakeOrdered."""
    plan = _physical(QUERIES["large_volume_customers"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    # the HAVING filter must sit between the aggregate and the join
    assert re.search(r"total_qty#\d+ > 250", plan)


def test_disjunctive_or_predicate_pushed(spark, sf_dir):
    """Q19 shape: the OR-of-conjuncts lands in the parquet scan's pushed
    filters (quantity ranges) instead of a union of three scans."""
    plan = _physical(QUERIES["disjunctive_revenue"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 2  # lineitem + part, once each
    assert re.search(r"PushedFilters: \[[^\]]*Or\(", plan)


def test_top_supplier_single_fact_scan(spark, sf_dir):
    """Q15 shape: the scalar MAX rides a broadcast join against a one-row
    aggregate of the SAME per-supplier shuffle — AQE stage reuse must
    collapse the two branches so lineitem is scanned exactly once (the
    runtime answer to the old global-MAX window, which read once but
    windowed in a single task). Reuse only materializes in the FINAL
    adaptive plan, so execute first."""
    df = QUERIES["top_supplier"](spark, sf_dir)
    df.collect()
    plan = _physical(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    assert final.count("lineitem.parquet") == 1, final


def test_corpus_vocabulary_topk_and_single_explode(spark, sf_dir):
    """Vocab build: the token explode runs once (one Generate), the
    top-1000 is TakeOrdered — not a global sort."""
    plan = _physical(QUERIES["corpus_vocabulary"](spark, sf_dir))
    assert plan.count("Generate explode") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_tfidf_topk_is_doc_partitioned_window(spark, sf_dir):
    """Per-doc top-k must ride a doc-partitioned window group limit /
    filter — never a global range sort of the scored relation."""
    plan = _physical(QUERIES["tfidf_keywords"](spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # vocabulary-sized df relation
    # rank<=k is pushed below the final window as a partial group limit
    assert "WindowGroupLimit" in plan


def test_funnel_is_two_aggregates_no_join(spark, sf_dir):
    """Funnel: per-user conditional mins then one global roll-up — no
    self-joins of per-stage relations."""
    plan = _physical(QUERIES["funnel_conversion"](spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


# ---------------------------------------------------------------------------
# broadcast-hint policy: forced hints only on provably bounded relations
# ---------------------------------------------------------------------------

#: raw columns of the SF-scaled fixture tables — a forced broadcast hint
#: whose subtree scans one of these overrides AQE's size check and becomes
#: an executor OOM at 100 TB (VERDICT r1 finding #1)
_UNBOUNDED_COLS = ("c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "l_orderkey")

#: TPC-H-shaped queries that join SF-scaled tables directly (no retail-dim
#: adapters, whose store/product relations are bounded by the reference's
#: semantic model)
_HINT_POLICY_QUERIES = (
    "nation_trade_volume",
    "nation_product_profit",
    "local_supplier_volume",
    "top_supplier",
    "promo_revenue_share",
    "small_qty_revenue",
    "disjunctive_revenue",
    "asia_market_share",
    "returned_item_revenue",
    "idle_rich_customers",
)


def _hint_subtrees(analyzed: str) -> list[str]:
    """Extract the subtree text under each ResolvedHint node of an
    analyzed-plan treeString (children are indented deeper)."""
    lines = analyzed.splitlines()
    subtrees = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        depth = line.index("ResolvedHint")
        body = []
        for nxt in lines[i + 1:]:
            stripped = nxt.replace(":", " ").replace("+-", "  ")
            indent = len(stripped) - len(stripped.lstrip())
            if indent <= depth and nxt.strip():
                break
            body.append(nxt)
        subtrees.append("\n".join(body))
    return subtrees


@pytest.mark.parametrize("name", _HINT_POLICY_QUERIES)
def test_no_forced_broadcast_of_unbounded_relation(spark, sf_dir, name):
    """Every broadcast hint in the TPC-H-shaped queries must wrap a bounded
    relation (nation/region/1-row aggregate) — never customer/supplier/
    part/orders/lineitem, which scale with SF. AQE may still broadcast
    those when they fit; the point is that nothing FORCES it to."""
    df = QUERIES[name](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    for sub in _hint_subtrees(analyzed):
        scans_aggregate = "Aggregate" in sub  # 1-row scalar threshold hints
        for col in _UNBOUNDED_COLS:
            assert scans_aggregate or col not in sub, (
                f"{name}: broadcast hint subtree scans unbounded column "
                f"{col}:\n{sub}"
            )


def test_nation_trade_degrades_without_hints(spark, sf_dir):
    """With no forced hints on customer/supplier, the join still plans as
    BHJ at small SF purely from size stats (graceful degradation: at large
    SF the same plan falls back to a shuffled join instead of OOM)."""
    plan = _physical(QUERIES["nation_trade_volume"](spark, sf_dir))
    assert len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)) <= 1, plan


def test_doc_chunks_is_map_only(spark, sf_dir):
    """Chunking is sequence+explode — a pure projection pipeline with no
    exchange at all; output partitioning follows the scan."""
    plan = _physical(QUERIES["doc_chunks"](spark, sf_dir))
    assert "Exchange" not in plan
    assert plan.count("Generate explode") == 1


def test_word_repetition_never_shuffles_text(spark, sf_dir):
    """Both exchanges move compact (doc_id, tok, cnt) rows: partial
    aggregation sits below the first shuffle, and the raw text column
    never appears in any exchange input."""
    plan = _physical(QUERIES["word_repetition"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    # partial agg before the shuffle: two HashAggregates around exchange 1
    assert plan.count("HashAggregate") >= 2
    # the `text` column is consumed by the explode projection pre-shuffle;
    # scan the whole Exchange line — a paren-bounded capture would stop at
    # the first ')' inside a nested expression and miss later columns
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_ann_batch_topk_group_limit_below_shuffle(spark, sf_dir):
    """Per-query top-k must keep only local top-k rows before the window
    exchange (WindowGroupLimit), so the shuffle moves O(|Q|*k*tasks) rows
    — and the query side rides a broadcast, never a shuffled join."""
    plan = _physical(QUERIES["ann_batch_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_token_length_histogram_single_exchange(spark, sf_dir):
    """Bounded-key (lang x bucket) two-phase aggregate: exactly one
    exchange, partial combine below it."""
    plan = _physical(QUERIES["token_length_histogram"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


@pytest.mark.parametrize("name", ["boilerplate_spans", "shingle_novelty"])
def test_shingle_stat_queries_are_join_free(spark, sf_dir, name):
    """Document frequency / first occurrence ride windows over the shingle
    partition — one shingle scan, no self-join, exactly three exchanges
    (doc_id for the lead()-window shingle build, sh for the stat window,
    doc_id for the roll-up; the shingle distinct piggybacks on the
    doc_id partitioning, no exchange of its own). Cache is cleared first:
    a persisted shingle relation from a dedup query would be substituted
    into this plan and add its cached subtree's exchanges."""
    spark.catalog.clearCache()
    plan = _physical(QUERIES[name](spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan


def _global_windows(optimized: str) -> list[str]:
    """Logical Window nodes whose partition spec is EMPTY.

    A Window node prints ``Window [exprs], [partitionSpec], [orderSpec]``
    with empty specs omitted, so the shapes are: 3 groups = partitioned
    (fine); 1 group = global unordered (bad); 2 groups = EITHER
    partitioned-unordered (fine) or global-ordered (bad) — disambiguated
    by whether the second group is an order spec (contains a sort
    direction)."""
    out = []
    for line in optimized.splitlines():
        m = re.search(r"(?:^|[-:+ ])Window (\[)", line)
        if not m:
            continue
        groups: list[str] = []
        depth = 0
        start = None
        for i, ch in enumerate(line[m.start(1):], m.start(1)):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(line[start : i + 1])
        is_global = len(groups) == 1 or (
            len(groups) == 2
            and re.search(r" (ASC|DESC)\b", groups[1]) is not None
        )
        if is_global:
            out.append(line.strip())
    return out


def test_window_parser_detects_global_windows(spark):
    """Sanity-check the parser against all four known shapes so the
    repo-wide test below can be trusted."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    cases = [
        (df.withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))), 0),
        (df.withColumn("m", F.max("id").over(Window.partitionBy("g"))), 0),
        (df.withColumn("rn", F.row_number().over(Window.partitionBy().orderBy("id"))), 1),
        (df.withColumn("m", F.max("id").over(Window.partitionBy())), 1),
    ]
    for d, want in cases:
        assert len(_global_windows(_optimized(d))) == want, _optimized(d)


def test_no_empty_partition_windows_anywhere(registry_plans):
    """No query may plan a window with an empty partitionBy: Spark executes
    it by moving EVERY row into one task (VERDICT r2 'What's wrong' #4 —
    the rfm_segments / pareto_customers scale-killer). Global rankings and
    running sums must use the two-level decomposition in
    functions/ordered.py instead."""
    for name, (plan, _) in registry_plans.items():
        bad = _global_windows(plan)
        assert not bad, (
            f"{name}: global (empty-partitionBy) window:\n" + "\n".join(bad)
        )


def test_corpus_split_single_bounded_aggregate(spark, sf_dir):
    """Split assignment is a projection; the stats are one two-phase
    aggregate — a single exchange, no join, no window."""
    plan = _physical(QUERIES["corpus_split"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_pii_scrub_is_map_only(spark, sf_dir):
    """The redaction chain is a pure projection: zero exchanges, zero
    Python evaluation — regexp_replace/extract_all stay JVM-side."""
    plan = _physical(QUERIES["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_url_domains_exchanges_are_post_aggregation(spark, sf_dir):
    """The explode fans out inside the scan stage; every exchange moves
    (domain, partial-agg) rows, never raw documents."""
    plan = _physical(QUERIES["url_domains"](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "domain#" in line, line


def test_snapshot_diff_join_moves_fingerprints_not_rows(spark, sf_dir):
    """Both sides reduce to (key, md5) before the full-outer join: the
    join's inputs must not carry any payload column."""
    plan = _optimized(QUERIES["lineitem_snapshot_diff"](spark, sf_dir))
    assert "Join FullOuter" in plan, plan
    # the md5 fingerprint is computed in Projects BELOW the join (scan
    # stage), so the join/exchange payload is (key, fp) — never raw values
    fp_projects = re.findall(r"Project \[[^\n]*md5\(", plan)
    assert len(fp_projects) >= 2, plan
    # and nothing above the join re-references the payload columns: the
    # aggregate consumes only the status classification of the two fps
    agg = plan.splitlines()[0]
    assert "l_returnflag" not in agg and "q_int" not in agg, agg


def test_runtime_bloom_filter_injected_for_selective_join(spark, sf_dir):
    """Big-big join with a selective dim filter: when broadcast is off
    (the 100 TB case where even the filtered dim exceeds the driver),
    Spark must inject a runtime bloom filter — the fact scan drops
    non-matching rows BEFORE the shuffle. Thresholds are tuned because
    fixture relations are far below the production defaults."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        pt = spark.read.parquet(f"{sf_dir}/part.parquet").where("p_size < 5")
        j = li.join(pt, li.l_partkey == pt.p_partkey).groupBy("p_brand").count()
        plan = _physical(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_rowwise_python_udfs_anywhere(registry_plans):
    """Python may appear in a plan only Arrow-vectorized (ArrowEvalPython
    for pandas_udf, MapInPandas/FlatMapGroupsInPandas for the batch
    operators). BatchEvalPython — row-at-a-time pickling, ~10-100x slower
    — must never appear in any registered query's plan."""
    for name, (_, plan) in registry_plans.items():
        assert "BatchEvalPython" not in plan, name


def test_packing_index_single_exchange(spark, sf_dir):
    """The packing index is ONE shuffle on the source key: scan ->
    exchange(source) -> sort -> window -> project. No join, no second
    exchange — the block assignment is pure arithmetic over the cumsum."""
    spark.catalog.clearCache()
    plan = _physical(QUERIES["packing_index"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_weighted_sample_pushes_group_limit(spark, sf_dir):
    """Priority sampling's rn <= k must compile to WindowGroupLimit
    (per-partition top-k BEFORE the shuffle), like every other top-k per
    group in the repo."""
    spark.catalog.clearCache()
    plan = _physical(QUERIES["documents_weighted_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_cms_probe_join_is_broadcast(spark, sf_dir):
    """The d*w counter table is bounded; probing must broadcast it (and
    the candidate/probe relations), never shuffle the token stream for
    the lookup."""
    spark.catalog.clearCache()
    plan = _physical(QUERIES["cms_token_estimates"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pagerank_topk_is_take_ordered(spark, sf_dir):
    """The final top-20 must be TakeOrderedAndProject — never a global
    sort of the rank relation."""
    spark.catalog.clearCache()
    plan = _physical(QUERIES["part_copurchase_pagerank"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    spark.catalog.clearCache()


def test_expectations_single_aggregate_over_one_scan(spark, sf_dir):
    """Six rules, one scan: a single two-phase aggregate (partial +
    final over ONE single-partition exchange), no union of per-rule
    subplans."""
    spark.catalog.clearCache()
    plan = _physical(QUERIES["orders_expectations"](spark, sf_dir))
    assert len(re.findall(r"Exchange SinglePartition", plan)) == 1, plan
    assert "Union" not in plan, plan


def test_no_partial_unbounded_following_frames_anywhere(registry_plans):
    """A window frame ending at UNBOUNDED FOLLOWING but starting after
    UNBOUNDED PRECEDING is executed by re-scanning to the partition end
    for EVERY row — O(rows²) per partition (measured: 150 s vs 5 s at
    sf0.1 when store_revenue_interpolated used first_value over
    (1 FOLLOWING, UNBOUNDED FOLLOWING)). The whole-partition frame
    (unboundedpreceding, unboundedfollowing) is fine — computed once per
    partition; forward-looking logic must ride a running frame over the
    reversed sort instead."""
    bad = re.compile(
        r"specifiedwindowframe\((?:Row|Range)Frame,"
        r" (?!unboundedpreceding)[^,]+, unboundedfollowing",
        re.IGNORECASE,
    )
    for name, (plan, _) in registry_plans.items():
        assert not bad.search(plan), (name, bad.search(plan).group(0))


def test_runtime_bloom_filter_injected_on_selective_shuffle_join(
    spark, sf_dir
):
    """When a fact⋈selective-subset join must shuffle (broadcast off),
    Catalyst injects a runtime bloom filter: the application side gets
    might_contain(<bloom agg of the creation side>) BELOW its exchange,
    pruning fact rows before they move — the 100-TB mechanism that
    makes selective shuffle joins survive when the dim outgrows
    broadcast. This locks the conf surface working in this Spark build
    (thresholds relaxed to fire at fixture scale)."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = fx._read(spark, sf_dir, "lineitem")
        o = fx._read(spark, sf_dir, "orders")
        sel = o.where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy()
            .agg(F.sum("l_quantity").alias("q"))
        )
        opt = _optimized(j)
        assert "might_contain" in opt, opt
        assert "bloom_filter_agg" in opt, opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pq_codes_is_pure_projection(spark, sf_dir):
    """Product quantization must never shuffle: sub-codebooks are
    inlined literals and the per-subspace argmin is an expression fold,
    so the whole quantization plan is projections over ONE scan —
    quantizing 100 TB is a map pass (SCALE.md PQ row)."""
    plan = _physical(QUERIES["embedding_pq_codes"](spark, sf_dir))
    assert "Exchange" not in plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Join" not in plan


def test_pq_adc_scan_has_no_join(spark, sf_dir):
    """The ADC top-k scans the codes projection with literal-array
    lookups and takes top-k via TakeOrderedAndProject — no join, no
    global sort (the LUT is plan constants, not a relation)."""
    plan = _physical(QUERIES["ann_pq_adc_topk"](spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_pq8_codes_single_map_pass_after_spread(spark, sf_dir):
    """PQ8 (256-entry codebooks) keeps the map-pass shape: one scan, no
    codebook relation -> no join, and (r10) ZERO exchanges — the
    assignment argmin crosses the Arrow boundary once as a vectorized
    batch kernel (similarity._js_np_udf, guide §4.2), so the former
    round-robin spread of the single toy input split (an exchange that
    existed only to parallelize interpreted folds) is gone. Equality of
    the kernel and the reference expression form is locked by
    tests/test_r10_operators.py."""
    plan = _physical(QUERIES["embedding_pq8_codes"](spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "split(" not in plan


def test_pq8_adc_scan_has_no_join(spark, sf_dir):
    """The 8-bit ADC top-k: LUT as folded plan constants (no relation,
    no join), top-k via TakeOrderedAndProject, no global sort."""
    plan = _physical(QUERIES["ann_pq8_adc_topk"](spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "split(" not in plan


def test_pq16_codes_same_shape_as_pq8(spark, sf_dir):
    """PQ16 (two packed words) keeps the PQ8 plan contract: one scan,
    no join, no exchange; the assignment is the vectorized Arrow batch
    kernel (r10)."""
    plan = _physical(QUERIES["embedding_pq16_codes"](spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "split(" not in plan


def test_opq16_codes_keep_the_pq_map_pass_contract(spark, sf_dir):
    """OPQ (balanced-energy permutation) must cost NOTHING at scan
    time: the permutation is 64 plan-constant element_at indexes inside
    the same projection, so the codes plan keeps the PQ16 contract —
    one scan, no join, no per-row split, one round-robin spread. (The
    permutation/training aggregates run driver-side while BUILDING the
    plan; this asserts the shipped scan shape.)"""
    plan = _physical(QUERIES["embedding_opq16_codes"](spark, sf_dir))
    assert "Join" not in plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "split(" not in plan


def test_opq16_adc_scan_has_no_join(spark, sf_dir):
    """OPQ ADC top-k keeps the ADC scan contract: LUT as folded plan
    constants, TakeOrderedAndProject, no join, no global sort."""
    plan = _physical(QUERIES["ann_opq16_adc_topk"](spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "split(" not in plan


def test_ivfpq16_prunes_cells_before_ranking(spark, sf_dir):
    """The production IVF-PQ16 composition: the probe-cell membership
    filter (cell IN (...)) must sit in the plan so only ~nprobe/|cells|
    of the corpus reaches the ADC ranking; top-k via
    TakeOrderedAndProject, never a global sort. ZERO joins (r10: cell
    and code words are row-local functions of the same vector, fused
    into one projection — the former cells x codes vec_id self-join
    re-scanned the corpus and paid a join exchange) and no
    cartesian."""
    plan = _physical(QUERIES["ann_ivfpq16_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Cartesian" not in plan
    # the cell-membership predicate collapses to a literal membership
    # test over the nprobe probe cells and must be PUSHED into the
    # scan's DataFilters, not applied after the join; accept any
    # IN/INSET rendering and derive the arity from IVF_NPROBE so a
    # config or Spark-version change can't break the test without a
    # real regression
    nprobe = similarity.IVF_NPROBE
    # two renderings exist: In prints "col IN (1,2)" with parens; InSet
    # (the In->InSet conversion kicks in past
    # spark.sql.optimizer.inSetConversionThreshold, default 10) prints
    # "col INSET 1,2,..." with NO parens — accept both, arity from
    # IVF_NPROBE either way
    _arity = r",\s*".join([r"\d+"] * nprobe)
    in_pat = r" IN\s*\(" + _arity + r"\)|" + r" INSET\s+" + _arity
    assert re.search(in_pat, plan), (
        "probe-cell IN filter missing from the physical plan"
    )
    # r10: the probe-cell membership filter must prune BEFORE the PQ
    # code assignment runs. In the fused plan the cell kernel feeds the
    # IN filter and only survivors reach the codes kernel. The tree
    # string prints root-first, so in TEXT order the codes kernel comes
    # first, the IN filter in the middle, the cell kernel last (closest
    # to the scan).
    ud_pos = [m.start() for m in re.finditer(r"ArrowEvalPython", plan)]
    assert len(ud_pos) == 2, "expected exactly cell + codes Arrow kernels"
    in_flt = re.search(in_pat, plan)
    assert in_flt and ud_pos[0] < in_flt.start() < ud_pos[1], (
        "probe-cell IN filter must prune between the cell kernel and "
        "the codes kernel"
    )
    assert len(re.findall(r"Join", plan)) == 0, (
        "cells+codes must be ONE fused projection, not a self-join"
    )


def test_ivfpq16_rerank_full_stack_plan(spark, sf_dir):
    """The three-stage serving plan: probe-cell membership pushed into
    the code scan (cheap stage first), the exact rerank rides a
    BROADCAST of the bounded shortlist (never a shuffle of raw
    vectors), top-k via TakeOrderedAndProject, no cartesian, no global
    sort."""
    plan = _physical(QUERIES["ann_ivfpq16_rerank_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan
    assert "rangepartitioning" not in plan.lower()
    nprobe = similarity.IVF_NPROBE
    # two renderings exist: In prints "col IN (1,2)" with parens; InSet
    # (the In->InSet conversion kicks in past
    # spark.sql.optimizer.inSetConversionThreshold, default 10) prints
    # "col INSET 1,2,..." with NO parens — accept both, arity from
    # IVF_NPROBE either way
    _arity = r",\s*".join([r"\d+"] * nprobe)
    in_pat = r" IN\s*\(" + _arity + r"\)|" + r" INSET\s+" + _arity
    assert re.search(in_pat, plan), (
        "probe-cell IN filter missing from the physical plan"
    )
    assert "BroadcastHashJoin" in plan, (
        "shortlist rerank join must broadcast the bounded candidate set"
    )


def test_semdedup_pairs_ride_cell_equi_join(spark, sf_dir):
    """SemDeDup's pair relation must be an EQUI-join on the cell id
    (bucketed, sum |cell|^2 work) — never a cartesian — and the keep
    set is a broadcast anti-join against the bounded dropped list."""
    plan = _physical(QUERIES["semdedup_keep"](spark, sf_dir))
    assert "Cartesian" not in plan
    assert "LeftAnti" in plan
    assert "cell" in plan


def test_no_query_plan_reads_spark_warehouse(spark, sf_dir):
    """No query may scan a warehouse-materialized intermediate (r11
    VERDICT item 8): the r10 honesty fix removed the persisted
    co-purchase edge table from the query path, and this locks the
    class out — every plan must compute from the sf_dir parquet inputs
    alone. Checked on the graph family (the former offenders) plus one
    representative per base table."""
    for name in (
        "part_copurchase_pagerank",
        "copurchase_bfs_hops",
        "copurchase_communities",
        "copurchase_triangles",
        "copurchase_link_prediction",
        "pricing_summary",
        "cms_token_estimates",
    ):
        plan = _optimized(QUERIES[name](spark, sf_dir))
        assert "spark-warehouse" not in plan, (
            f"{name}: plan reads a warehouse intermediate — queries "
            f"must compute from the sf_dir inputs"
        )
