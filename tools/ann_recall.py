"""Measure recall@k of every ANN variant against exact cosine_topk
ground truth (VERDICT r6 item 4: turn the recall-ORDERING test into a
recall NUMBER).

Trains each variant's cells or PQ index once, then runs the engine's
own probe per query id — the measured candidates are the engine's
bucket/cell probes and ADC scans, not a reimplementation — and reports
mean recall@k plus the mean fraction of the corpus scanned (the
candidate-set size the probe admits, i.e. the work saved vs brute
force). Results are committed to SCALE.md.

Usage: python tools/ann_recall.py [--sf-dir /root/testdata/sf0.1]
       [--k 10] [--queries 16]
"""

from __future__ import annotations

import argparse
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--queries",
        type=int,
        default=16,
        help="number of query vectors (evenly spaced over the corpus)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
    from retail_etl_pipeline_spark.operators import similarity as sim
    from retail_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ann_recall", shuffle_partitions=8)
    emb = fx._read(spark, args.sf_dir, "embeddings").cache()
    n = emb.count()
    # evenly spaced query ids, skipping the plane/centroid constant rows
    reserved = set(sim.PLANE_IDS) | set(sim.CENTROID_IDS) | {0}
    step = max(1, n // args.queries)
    qids = [q for q in range(0, n, step) if q not in reserved][
        : args.queries
    ]

    # candidate-set size per variant (probe selectivity): how many
    # corpus vectors the probe ACTUALLY admits per query — the query's
    # own bucket/cell (plus probes), from the same assignment relations
    # the variants build, averaged over qids.
    import math

    def _cell_info(cells_df):
        sizes = {
            r["cell"]: r["n"]
            for r in cells_df.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        qcells = {
            r["vec_id"]: (r["cell"], list(r["v"]))
            for r in cells_df.where(F.col("vec_id").isin(qids)).collect()
        }
        return sizes, qcells

    def _ivf_mean_cands(sizes, qcells, cents, nprobe):
        total = 0
        for q in qids:
            cell, v = qcells[q]
            if nprobe == 1:
                total += sizes.get(cell, 0)
            else:
                vn = math.sqrt(sim._seq_dot(v, v))
                ranked = sorted(
                    cents,
                    key=lambda cid: (
                        -sim._seq_dot(v, cents[cid])
                        / vn
                        / math.sqrt(sim._seq_dot(cents[cid], cents[cid])),
                        cid,
                    ),
                )[:nprobe]
                total += sum(sizes.get(c, 0) for c in ranked)
        return total / len(qids)

    truth = {}
    for q in qids:
        truth[q] = {
            r["vec_id"]
            for r in sim.cosine_topk(emb, query_id=q, k=args.k).collect()
        }

    vecs = sim._vectors(emb)
    seed_cents = sim._seed_centroids(vecs)
    cells_s = sim._with_cells(vecs, seed_cents)
    cells_l1, cents_l1 = sim._lloyd_refined_cells(vecs, iters=1)
    cells_l2, cents_l2 = sim._lloyd_refined_cells(vecs, iters=2)
    s0, q0 = _cell_info(cells_s)
    s1, q1 = _cell_info(cells_l1)
    s2, q2 = _cell_info(cells_l2)
    buckets = sim._with_buckets(vecs)
    bucket_sizes = {
        r["bucket"]: r["n"]
        for r in buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    qbuckets = {
        r["vec_id"]: r["bucket"]
        for r in buckets.where(F.col("vec_id").isin(qids)).collect()
    }
    mean_cands = {
        "ann_lsh_topk": sum(
            bucket_sizes.get(qbuckets[q], 0) for q in qids
        )
        / len(qids),
        "ann_lsh_topk_multiprobe": sum(
            bucket_sizes.get(qbuckets[q], 0)
            + sum(
                bucket_sizes.get(qbuckets[q] ^ (1 << i), 0)
                for i in range(sim.LSH_PLANES)
            )
            for q in qids
        )
        / len(qids),
        "ann_ivf_topk": _ivf_mean_cands(s0, q0, seed_cents, 1),
        "ann_ivf_topk_multiprobe": _ivf_mean_cands(
            s0, q0, seed_cents, sim.IVF_NPROBE
        ),
        "ann_ivf_topk_lloyd": _ivf_mean_cands(s1, q1, cents_l1, 1),
        "ann_ivf_topk_lloyd2": _ivf_mean_cands(s2, q2, cents_l2, 1),
        "ann_ivf_topk_lloyd_multiprobe": _ivf_mean_cands(
            s1, q1, cents_l1, sim.IVF_NPROBE
        ),
    }

    # each variant's probe over the cells trained above, per query id
    k, nprobe = args.k, sim.IVF_NPROBE
    variants = {
        "ann_lsh_topk": lambda q: sim.ann_lsh_topk(emb, q, k),
        "ann_lsh_topk_multiprobe": lambda q: sim.ann_lsh_topk_multiprobe(
            emb, q, k
        ),
        "ann_ivf_topk": lambda q: sim._ivf_probe(cells_s, q, k),
        "ann_ivf_topk_multiprobe": lambda q: sim._ivf_multiprobe(
            vecs, cells_s, seed_cents, q, k, nprobe
        ),
        "ann_ivf_topk_lloyd": lambda q: sim._ivf_probe(cells_l1, q, k),
        "ann_ivf_topk_lloyd2": lambda q: sim._ivf_probe(cells_l2, q, k),
        "ann_ivf_topk_lloyd_multiprobe": lambda q: sim._ivf_multiprobe(
            vecs, cells_l1, cents_l1, q, k, nprobe
        ),
    }

    print(f"# recall@{args.k} over {len(qids)} queries, corpus n={n}")
    print(
        f"| variant | recall@{args.k} | mean candidates | corpus frac |"
    )
    print("|---|---|---|---|")
    for name, fn in variants.items():
        hits = 0
        for q in qids:
            got = {r["vec_id"] for r in fn(q).collect()}
            hits += len(got & truth[q])
        recall = hits / (len(qids) * args.k)
        mean_c = mean_cands[name]
        print(
            f"| {name} | {recall:.3f} | {mean_c:.0f} | {mean_c / n:.3f} |"
        )

    # PQ variants rank by L2 ADC, so their ground truth is exact L2
    # top-k (cosine truth would conflate metric mismatch with
    # quantization distortion). Exact L2 truth via numpy on the
    # collected corpus — a measurement-side oracle, not engine output.
    import numpy as np

    rows = vecs.select("vec_id", "v").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["v"]) for r in rows])
    print()
    print(
        f"# PQ variants: recall@{args.k} vs exact-L2 ground truth "
        f"(ADC is an L2 quantizer)"
    )
    print(f"| variant | recall@{args.k} | bytes/vector |")
    print("|---|---|---|")
    l2_truth = {}
    for q in qids:
        qv = mat[ids == q][0]
        d2 = ((mat - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        top = [int(ids[i]) for i in order if ids[i] != q][: args.k]
        l2_truth[q] = set(top)
    # the registered PQ top-k configurations, plus the untrained OPQ
    # point that isolates the permutation's own recall effect
    opq = sim.PQ_TOPK["ann_opq16_adc_topk"]["pq"]
    pq_variants = {
        **sim.PQ_TOPK,
        "ann_opq16_adc_topk_untrained": {
            "pq": sim.ProductQuantizer(opq.m, opq.bits, rotation="opq")
        },
    }
    for name, cfg in pq_variants.items():
        index = sim.pq_index(emb, cfg["pq"], cfg.get("iters"))
        hits = 0
        for q in qids:
            got = {
                r["vec_id"]
                for r in sim.pq_search(
                    index, q, args.k, shortlist=cfg.get("shortlist")
                ).collect()
            }
            hits += len(got & l2_truth[q])
        recall = hits / (len(qids) * args.k)
        nbytes = cfg["pq"].layout.nbytes
        print(f"| {name} | {recall:.3f} | {nbytes} (vs 512 raw) |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
