"""Regenerate EXPLAIN.md: formatted physical plans for headline queries.

Run from the repo root: ``python tools/gen_explain.py``. Companion to
``tests/test_plan_hygiene.py`` — the tests ASSERT the plan shapes, this
file SHOWS them for review.
"""

from __future__ import annotations

import sys

SHOW = {
    "embedding_pq_codes": (
        "Product quantization as ONE MAP PASS: the per-subspace argmin "
        "runs as a vectorized Arrow batch kernel (r10, guide §4.2 — "
        "bit-identical to the expression-fold reference form, locked by "
        "tests/test_r10_operators.py), the pack is integer shifts over "
        "the returned indexes — no exchange anywhere (quantizing 100 TB "
        "never shuffles)."
    ),
    "ann_ivfpq_topk": (
        "Full IVF-PQ: the candidate scan is a cell-pruned filter over "
        "the codes projection, ADC is 8 literal-array lookups, top-k is "
        "TakeOrderedAndProject — ZERO joins (r10: cell id and packed "
        "code are row-local functions of the same vector, computed in "
        "one fused projection; the former cells x codes vec_id "
        "self-join re-scanned the corpus for nothing)."
    ),
    "embedding_pq16_codes": (
        "The FAISS-standard quantizer (256-entry sub-codebooks, 16 "
        "subspaces): join-free AND exchange-free (r10) — the assignment "
        "is the vectorized Arrow kernel, so the round-robin spread that "
        "existed only to parallelize interpreted folds is gone; the "
        "pack is two shift sums (16x8 bits spans two bigints)."
    ),
    "ann_pq8_adc_topk": (
        "8-bit PQ ADC: the 256-entry LUT folds to an array constant, "
        "the scan unpacks each 8-byte code with shifts and masks, "
        "top-k is TakeOrderedAndProject — no join, no global sort."
    ),
    "ann_ivfpq16_topk": (
        "The production composition (faiss IndexIVFPQ shape): the "
        "probe-cell membership filter sits BETWEEN the cell kernel and "
        "the codes kernel, so only ~nprobe/|cells| of the corpus "
        "reaches the PQ16 code assignment and the 16-lookup ADC "
        "ranking; ZERO joins (r10: cell + code words are one fused "
        "projection), top-k via TakeOrderedAndProject."
    ),
    "ann_pq16_rerank_topk": (
        "Two-stage retrieval: the ADC shortlist materializes as a "
        "64-row broadcast, and the exact-L2 stage touches raw vectors "
        "ONLY via that broadcast semi-join — the plan shows the full "
        "16-byte-scan-then-key-fetch shape a serving system runs."
    ),
    "weekly_summary": (
        "The flagship: 13 metrics in ONE logical aggregation over the "
        "merged frame — no self-joins (the reference's 8-way assembly). "
        "Physically that is the merged window's grain exchange plus the "
        "two-phase expansion Catalyst generates for the one "
        "count_distinct metric; every phase is a HashAggregate with "
        "map-side partials (max_by keys on the bare date, not a struct, "
        "to stay hash-aggregable)."
    ),
    "weekly_sales_by_region": (
        "Fact x dims: every dimension join is a BroadcastHashJoin — the "
        "fact never shuffles for a dim join; the only exchange is the "
        "aggregation's."
    ),
    "returned_item_revenue": (
        "Selective filters applied BELOW their joins (PushedFilters reach "
        "the parquet scan), nation broadcast, top-k as "
        "TakeOrderedAndProject — no global sort."
    ),
    "pricing_summary": (
        "Column pruning: the scan reads 7 of 11 lineitem columns "
        "(ReadSchema), and the quantity filter is pushed to parquet "
        "(PushedFilters)."
    ),
    "pii_scrub": (
        "Training-data hygiene is a map-only plan: zero exchanges, all "
        "regexp work inside one WholeStageCodegen projection."
    ),
    "minhash_lsh_candidates": (
        "LSH candidate generation: shingle->minhash->band keys, candidates "
        "from an equi-join on (band, key) — no cross join anywhere."
    ),
    "lineitem_snapshot_diff": (
        "Anti-entropy diff: md5 fingerprints computed in Projects below "
        "the FullOuter join, so exchanges carry (key, fp) pairs, never "
        "payloads."
    ),
    "part_copurchase_pagerank": (
        "Iterative DataFrame loop; the edge relation is built INLINE "
        "from lineitem per invocation (r10 measurement honesty: the r6 "
        "cross-query materialized edge table was a persisted "
        "intermediate keyed on the input path) as ONE grouped pass + "
        "in-row pair explode — no self-join. The src-repartitioned "
        "persisted copy feeds every iteration (InMemoryTableScan), "
        "ranks re-shuffle once per round, the final top-20 is "
        "TakeOrderedAndProject — never a global sort."
    ),
    "heavy_hitter_tokens": (
        "Two-pass exact heavy hitters: pass 1's Misra-Gries candidates "
        "ride an ArrowEvalPython/mapInPandas stage emitting at most k "
        "keys per task; pass 2 recounts candidates behind a "
        "BroadcastHashJoin — the full vocabulary never shuffles."
    ),
    "packing_index": (
        "Sequence packing is ONE exchange on the source key: "
        "scan -> exchange -> sort -> running-sum Window -> arithmetic "
        "Project. No join, no second shuffle."
    ),
    "price_equidepth_histogram": (
        "Equi-depth histogram without ntile-over-everything: the only "
        "global state is a 9-value percentile aggregate broadcast back "
        "(BroadcastNestedLoopJoin of ONE row); bucketing is a projection "
        "and the counts are an ordinary two-phase HashAggregate."
    ),
    "daily_active_users_rolling": (
        "Rolling distinct users without a windowed COUNT DISTINCT: each "
        "active (user, day) explodes into its bounded 7 contribution "
        "days inside the scan stage; everything after is ordinary "
        "distinct + two-phase aggregation."
    ),
    "store_revenue_anomaly_days": (
        "Self-referential anomaly detection: daily pre-aggregation "
        "first, then ONE frame window per store carrying decimal moment "
        "sums — the window scans ~365 compact rows/store/year, never "
        "raw lines."
    ),
    "copurchase_bfs_hops": (
        "Frontier-delta BFS (r5 rewrite) over the shared materialized "
        "edge relation (r6): each round joins only the previous round's "
        "newly-reached frontier against the cached edge relation "
        "(InMemoryTableScan over the edge-table scan), distincts the "
        "neighbor set, and anti-joins the union of checkpointed "
        "frontiers — per-round work is frontier x degree, never "
        "rounds x |E|. One localCheckpoint per round, on the delta only."
    ),
    "tpch_q11_important_stock": (
        "Q11 over the synthesized partsupp: the partsupp relation is a "
        "PROJECTION (Generate/explode of part x {0..3} + hash "
        "arithmetic — no scan of any partsupp file, no shuffle to build "
        "it); supplier/nation broadcast, one part-keyed HashAggregate, "
        "and the 1-row integer threshold broadcast back."
    ),
    "documents_quality_downsample": (
        "Quality downsampling: tokens + quality score are pure "
        "projections in the scan stage; the rn <= 20 filter executes as "
        "WindowGroupLimit BELOW the source exchange, so each task "
        "forwards at most 20 rows per source before the shuffle."
    ),
    "ann_lsh_topk_multiprobe": (
        "Multi-probe LSH, the one LSH search (lsh_topk) with the "
        "identity + Hamming-1 flip set: the (1+bits)-bucket probe set is "
        "derived relationally from the one query row (Generate/explode "
        "of the xor array) and BroadcastHashJoin-ed into the bucketed "
        "corpus — the scan stays an equi-lookup of a handful of "
        "buckets; the final top-k is TakeOrderedAndProject. "
        "Single-probe ann_lsh_topk is the same plan without the "
        "Generate."
    ),
    "ann_ivf_topk_lloyd_multiprobe": (
        "The one IVF search (ivf_topk) at its most general registered "
        "parameters, iters=1 and nprobe=2: Lloyd training and the probe "
        "ranking are bounded driver-side constants, so the plan is one "
        "scan, the cell-assignment Arrow kernel, the probe-cell IN "
        "filter and TakeOrderedAndProject — no join. The seed and "
        "single-probe variants differ only in the centroid literals and "
        "the IN list."
    ),
    "suppliers_sole_blame_late": (
        "TPC-H Q21 de-correlated: the textbook EXISTS / NOT EXISTS pair "
        "becomes two per-order distinct-count aggregations joined back "
        "on l_orderkey — co-partitioned exchanges instead of a "
        "correlated re-scan per outer row; the supplier dim joins last "
        "as a BroadcastHashJoin."
    ),
    "part_tree_depth_recursive": (
        "WITH RECURSIVE (Spark 4.1): the UnionLoop iterates the "
        "hierarchy levels inside ONE plan — each level joins the "
        "previous level's rows against the part scan; O(N) total rows "
        "for a tree, no path re-enumeration."
    ),
    "lineitem_revenue_ks": (
        "Exact two-sample KS via ONE prefix sum: the scaled ecdf gap "
        "Ca*nb - Cb*na is a running sum of per-value deltas, so the "
        "plan is a value-grouped HashAggregate, a broadcast of the "
        "1-row totals, the two-level range-partitioned running sum "
        "(no one-task window), and bounded scalar aggregates."
    ),
    "store_revenue_dow_outliers": (
        "Seasonal outlier screen: the grouped daily aggregate plus "
        "THREE window functions (rank, count, rank-pinned median) all "
        "riding one (store_key, weekday) exchange — Spark folds the "
        "shared partitioning into a single Window stage chain."
    ),
    "copurchase_link_prediction": (
        "Common-neighbors link prediction: wedge self-join shuffled on "
        "the middle vertex over the support-filtered graph, left-anti "
        "join removing existing edges, two joins against the small "
        "degree relation, TakeOrdered top-k — integer Jaccard ppm, no "
        "cross join, hub fan-out bounded by the support floor."
    ),
    "customer_spend_lorenz": (
        "Lorenz deciles via the exact two-level NTILE: range-shuffle "
        "global rank (no one-task window), one hash agg to 10 decile "
        "rows, then a broadcast non-equi self-join for the cumulative "
        "share — the quadratic stage is buckets^2 = 100 rows, never "
        "data-sized."
    ),
    "user_weekly_streaks": (
        "Gaps-and-islands on the linear week index: distinct (user, "
        "week) pairs, one per-user window for the run-group key, two "
        "hash aggregations — every exchange partitions by user_id; no "
        "calendar spine, no self-join."
    ),
    "part_demand_abc_xyz": (
        "ABC x XYZ classification: the revenue cumshare rides the "
        "two-level decimal prefix sum (range exchange, bounded "
        "partials), the weekly-demand CV is two hash aggregations "
        "sharing the partkey partitioning plus a broadcast 1-row week "
        "span — no parts-x-weeks densification join anywhere."
    ),
    "customer_second_order_km": (
        "Kaplan-Meier: one per-customer window, one duration groupBy, "
        "then BOTH running sums (risk-set suffix, ln-term prefix) over "
        "the bounded distinct-duration relation — the survival product "
        "never materializes a one-task window."
    ),
    "store_revenue_cusum_breaches": (
        "Per-store CUSUM via the prefix identity C = S - min(0, "
        "min-prefix S): ONE FileScan, one daily two-phase aggregate, "
        "then a single store exchange feeding THREE chained Window "
        "nodes — the whole-partition mu baseline, the running SUM, and "
        "the running MIN (the groupBy+join mu formulation planned a "
        "second lineitem scan; rewritten to the shared-partitioning "
        "window after reading this plan)."
    ),
    "nation_revenue_ks": (
        "Stratified exact KS: group totals on a whole-partition frame, "
        "the ecdf-gap prefix sum on a plain partitioned cumulative "
        "window — the nation key partitions every stage, so no "
        "two-level rank machinery and no one-task window appears."
    ),
    "ann_ivfpq16_rerank_topk": (
        "The complete serving stack compiles to ZERO shuffles: probe-"
        "cell filter pushed into the code scan, the 64-row ADC "
        "shortlist broadcasts into the exact-L2 rerank, top-k via "
        "TakeOrderedAndProject — cell-prune x 16-byte ADC x bounded "
        "key-fetch, exactly the faiss IndexIVFPQ+refine cost model."
    ),
    "semdedup_keep": (
        "Semantic dedup: the pair relation is the within-key cosine "
        "pair join the LSH near-dup pairs also use, keyed on the cell "
        "(an EQUI-join, sum |cell|^2 work, never corpus^2), the drop "
        "rule is a min-id predicate needing no iteration, and the keep "
        "list is one broadcast anti-join."
    ),
    "ann_ivfpq16_serve_topk": (
        "The SEARCH step over a BUILT index (round 10): the serving "
        "table (cell + 16 code bytes per vector) was materialized once "
        "by pq_index_for, so the plan is just probe-cell filter "
        "+ ADC projection + TakeOrderedAndProject over the checkpointed "
        "relation — ZERO joins, zero training jobs; persisted via "
        "write_pq_index the cell filter becomes partition pruning."
    ),
    "ann_ivfpq16_serve_rerank_topk": (
        "SEARCH + refine over the built index: the only join in the "
        "plan is the 64-row broadcast shortlist fetching raw vectors "
        "for the exact-L2 final order — the ADC stage reads the "
        "serving table with no join at all."
    ),
    "ccnet_staged_mix": (
        "Quality-staged sampling as ONE pipeline: the tercile ranking "
        "is a range shuffle with literal offsets (no single-task "
        "window), the weight/budget chain is |sources|-bounded and "
        "BROADCASTS back, and the greedy cut is one source-partitioned "
        "running-sum window — one data-sized shuffle end to end."
    ),
    "dsir_importance_weights": (
        "DSIR scoring: one tokenize+hash explode lands in a per-(doc, "
        "bucket) count (checkpointed — it feeds both consumers), the "
        "1024-row log-ratio model broadcasts back onto it, and the "
        "per-doc ordered fold is the only other exchange; feature "
        "strings never shuffle."
    ),
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    sys.path.insert(0, ".")
    from retail_etl_pipeline_spark.registry import QUERIES

    out = [
        "# EXPLAIN — physical-plan evidence for the headline queries",
        "",
        "Generated by `python tools/gen_explain.py` (re-run after plan changes;",
        "CI-adjacent: `tests/test_plan_hygiene.py` asserts these shapes, this file",
        "shows them). Plans from a plain 32-shuffle-partition session at sf0.001;",
        "AQE may further improve them at runtime.",
        "",
    ]
    for name, note in SHOW.items():
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [ln[:160] for ln in plan.splitlines()][:60]
        out += [f"## {name}", "", note, "", "```", *lines, "```", ""]
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({sum(len(l) for l in out)} chars)")


if __name__ == "__main__":
    main()
