"""Empirical scaling study: headline queries across sf0.001/0.01/0.1.

Runs each representative query at every available fixture scale
(min-of-N, noop-write, tuned session — bench.py's methodology) and
writes SCALING.md: per-query time at each SF and the step-up ratio per
10x data growth. The point is evidence for the SCALE.md design claims:
a plan whose time grows ~linearly (ratio ~<=10 per 10x step, usually
far less while fixed overheads dominate) survives a scale-up; a
super-linear ratio is a red flag the per-op analysis missed.

Run from the repo root: ``python tools/scaling_study.py`` (isolated —
no concurrent Spark, same discipline as bench.py, whose
``drop_session_state`` clears the session between timed runs).
"""

from __future__ import annotations

import os
import sys
import time

# runnable from anywhere: the repo root is this file's parent's parent
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

#: representative spread: flagship agg, dedup, ANN, graph, packing,
#: sketch, TPC-H join shape, window analytics
QUERIES = [
    "weekly_summary",
    "minhash_neardup",
    "cosine_topk",
    "copurchase_bfs_hops",
    "packing_index",
    "heavy_hitter_tokens",
    "local_supplier_volume",
    "store_revenue_7d_ma",
    "corpus_split",
    "dedup_exact",
    # round-5 continuation: exact-similarity join, graph mining,
    # prefix-sum analytics, regression moments, corpus-wide text scoring
    "neardup_prefix_filter",
    "copurchase_link_prediction",
    "lineitem_revenue_ks",
    "store_revenue_autocorr7",
    "doc_token_entropy",
    # batch 3: concentration (one-agg moments), single-pass
    # classification with running sum, survival (bounded-relation
    # running sums), joinless cross-period index
    "supplier_revenue_hhi",
    "part_demand_abc_xyz",
    "customer_second_order_km",
    "part_price_index",
    # round-6 batch: stratified survival/drift,
    # per-group CUSUM prefix passes, window-based attribution
    "segment_second_order_km",
    "nation_revenue_ks",
    "store_revenue_cusum_breaches",
    "purchase_attribution_linear",
    # round-6 fresh: synthesized-partsupp TPC-H, corpus curation,
    # LSH decontamination over the shared band index
    "tpch_q11_important_stock",
    "documents_quality_downsample",
    "source_token_budget_cut",
    "neardup_canonical_keep",
    "eval_contamination_lsh",
    # round-7: trained-quantizer ANN (projection-only codes + cell-pruned
    # ADC scan), weighted data-mix recipe, per-source dedup health
    "ann_ivfpq_topk",
    "ann_pq_adc_topk_lloyd",
    "source_weighted_mix_budget",
    "neardup_rate_by_source",
    # round-8: production PQ (folded-literal codebooks, trained), the
    # stats kernels with the shared value-hash exchange, the
    # quality-gate monitor over the rule battery
    "embedding_pq8_codes",
    "ann_pq16_adc_topk_lloyd",
    "nation_revenue_kruskal",
    "nation_revenue_median_test",
    "gopher_keep_rate_by_source",
    # round-8 continuation: the production ANN compositions (cell-pruned
    # 16-byte ADC, OPQ-permuted quantization) and the ordered-trend
    # grid-window kernel
    "ann_ivfpq16_topk",
    "ann_opq16_adc_topk",
    "revenue_trend_jt",
    # round-9: the full retrieval stack, semantic dedup, data-selection
    # scoring (hashed-ngram model + per-doc folds), the bucketed-prefix
    # spread test, and the exact-decimal OLS power-law fit
    "ann_ivfpq16_rerank_topk",
    "semdedup_keep",
    "dsir_importance_weights",
    "unigram_logprob_quality",
    "nation_revenue_brown_forsythe",
    "token_zipf_fit",
    # round-9 completion (VERDICT r9 item 4): the remaining r9
    # registrations so every headline query has measured rows
    "semdedup_rate_by_label",
    "dsir_gumbel_topk",
    "ccnet_quality_buckets",
    "boilerplate_removal_stats",
    # round-10: the index-lifecycle serve path (train amortized — the
    # measured number IS the serving cost), production-k semdedup,
    # the staged-mix composition
    "ann_ivfpq16_serve_topk",
    "ann_ivfpq16_serve_rerank_topk",
    "ivfpq16_index_stats",
    "semdedup_keep_k32",
    "ccnet_staged_mix",
    # the folded LSH/IVF searches at their most general registered
    # parameters (Hamming-1 flip set; Lloyd cells probed at nprobe=2)
    # and the LSH pair join SemDeDup shares
    "ann_lsh_topk_multiprobe",
    "ann_ivf_topk_lloyd_multiprobe",
    "embedding_neardup_lsh_multiprobe",
]

RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: per-query checkpoint so a killed/timed-out sweep loses nothing —
#: resumable the same way bench.py's partial records are survivable
PROGRESS_PATH = os.path.join(_ROOT, "SCALING_PROGRESS.jsonl")


def _load_committed() -> dict[str, dict[str, float]]:
    """Rows from the committed SCALING.md: already-measured queries are
    KEPT, not re-measured — each row's three SFs came from one session
    (internally-consistent ratios), and re-measuring a whole table on a
    day the VM's scheduler is stalling (r10: 2-10x inflation vs the r8
    sweep on identical code) would replace good measurements with
    noise. Delete SCALING.md (or a line) to force a re-measure."""
    import re

    out: dict[str, dict[str, float]] = {}
    path = os.path.join(_ROOT, "SCALING.md")
    if not os.path.exists(path):
        return out
    row = re.compile(
        r"^\| (\w+) \| ([\d.]+)s \| ([\d.]+)s \| ([\d.]+)s \|"
    )
    with open(path) as f:
        for line in f:
            m = row.match(line)
            if m:
                out[m.group(1)] = {
                    "0.001": float(m.group(2)),
                    "0.01": float(m.group(3)),
                    "0.1": float(m.group(4)),
                }
    return out


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    import json

    from bench import drop_session_state
    from retail_etl_pipeline_spark.registry import QUERIES as REG
    from retail_etl_pipeline_spark.session import get_spark

    results: dict[str, dict[str, float]] = _load_committed()
    if os.path.exists(PROGRESS_PATH):
        with open(PROGRESS_PATH) as f:
            for line in f:
                rec = json.loads(line)
                results[rec["name"]] = rec["sfs"]
    todo = [n for n in QUERIES if n not in results]
    if not todo:
        print("all queries measured; regenerating SCALING.md only",
              file=sys.stderr)
    else:
        print(f"measuring {len(todo)} queries: {todo}", file=sys.stderr)
        spark = get_spark(app_name="scaling_study", shuffle_partitions=32)
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in todo:
        fn = REG[name]
        row: dict[str, float] = {}
        for sf_dir in SFS:
            best = None
            for _ in range(RUNS):
                # cold discipline (same as bench.py): no index, pinned
                # intermediate or checkpoint crosses a timed-run boundary
                drop_session_state(spark)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                spark.catalog.clearCache()
            sf = sf_dir.rsplit("sf", 1)[-1]
            row[sf] = round(best, 3)
            print(f"  {name} @ sf{sf}: {best:.3f}s", file=sys.stderr)
        results[name] = row
        with open(PROGRESS_PATH, "a") as f:
            f.write(json.dumps({"name": name, "sfs": row}) + "\n")
    # emit rows in the canonical QUERIES order
    results = {n: results[n] for n in QUERIES if n in results}

    lines = [
        "# SCALING — measured headline-query scaling across fixture sizes",
        "",
        "Generated by `python tools/scaling_study.py` (min-of-%d, noop-write," % RUNS,
        "tuned local[32] session — bench.py methodology). Rows are measured",
        "per registration batch and MERGED (a row's three SFs always come",
        "from one session, so its ratios are internally consistent; absolute",
        "seconds across rows may reflect different VM days — the ratios are",
        "the signal here, BENCH_LOCAL.json is the absolute record).",
        "Each SF step is 10x",
        "the data. `r1`/`r2` are the time ratios for the 0.001->0.01 and",
        "0.01->0.1 steps: ~<=10 means at-worst-linear scaling (small ratios",
        "mean fixed overheads still dominate); super-linear ratios would",
        "contradict SCALE.md's per-operator analysis and get flagged here.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | r1 | r2 |",
        "|---|---|---|---|---|---|",
    ]
    flagged = []
    for name, row in results.items():
        t1, t2, t3 = row["0.001"], row["0.01"], row["0.1"]
        r1 = t2 / t1 if t1 > 0 else float("inf")
        r2 = t3 / t2 if t2 > 0 else float("inf")
        lines.append(
            f"| {name} | {t1:.2f}s | {t2:.2f}s | {t3:.2f}s"
            f" | {r1:.1f}x | {r2:.1f}x |"
        )
        # flag super-linear growth once past fixed-overhead territory
        if t3 > 1.0 and r2 > 12.0:
            flagged.append(name)
    lines.append("")
    if flagged:
        lines.append(
            "**Super-linear at the last step (investigate):** "
            + ", ".join(flagged)
        )
    else:
        lines.append(
            "**No query scales super-linearly on the measured range** "
            "(every r2 <= ~10x per 10x data; most are far below — "
            "scheduling/codegen overheads still dominate at these sizes)."
        )
    lines.append("")
    with open("SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
