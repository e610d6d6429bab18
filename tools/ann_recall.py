"""Measure recall@k of every ANN variant against exact cosine_topk
ground truth (VERDICT r6 item 4: turn the recall-ORDERING test into a
recall NUMBER).

Trains each IVF variant's cells and each PQ index once, then runs the
engine's own search per query id — ``lsh_topk`` and the IVF search step
with each registered variant's parameters, ``pq_search`` over each PQ
index — so the measured candidates are the engine's bucket/cell probes
and ADC scans, not a reimplementation. Reports mean recall@k plus the mean
fraction of the corpus scanned (the candidate-set size the probe
admits, i.e. the work saved vs brute force). Query ids are evenly
spaced over the corpus ids that are not plane or centroid constants.
Results are committed to SCALE.md.

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
    # --queries ids evenly spaced over the ids that are not the
    # plane/centroid constant rows
    reserved = set(sim.PLANE_IDS) | set(sim.CENTROID_IDS) | {0}
    pool = sorted(
        r["vec_id"]
        for r in emb.select("vec_id").collect()
        if r["vec_id"] not in reserved
    )
    nq = min(args.queries, len(pool))
    qids = [pool[i * len(pool) // nq] for i in range(nq)]

    truth = {}
    for q in qids:
        truth[q] = {
            r["vec_id"]
            for r in sim.cosine_topk(emb, query_id=q, k=args.k).collect()
        }

    # each registered LSH/IVF variant: its entry point's parameters
    k, nprobe = args.k, sim.IVF_NPROBE
    flips = sim.LSH_MULTIPROBE_FLIPS
    lsh = {"ann_lsh_topk": (0,), "ann_lsh_topk_multiprobe": flips}
    ivf = {
        "ann_ivf_topk": (0, 1),
        "ann_ivf_topk_multiprobe": (0, nprobe),
        "ann_ivf_topk_lloyd": (1, 1),
        "ann_ivf_topk_lloyd2": (2, 1),
        "ann_ivf_topk_lloyd_multiprobe": (1, nprobe),
    }
    vecs = sim._vectors(emb)
    cents = {name: sim._lloyd_cents(vecs, it) for name, (it, _) in ivf.items()}
    variants = {
        **{
            name: lambda q, f=f: sim.lsh_topk(emb, q, k, flips=f)
            for name, f in lsh.items()
        },
        **{
            name: lambda q, c=cents[name], npr=npr: sim._ivf_search(
                vecs, c, q, k, npr
            )
            for name, (_, npr) in ivf.items()
        },
    }

    # candidate-set size per variant (probe selectivity): how many
    # corpus vectors the probe ACTUALLY admits per query — the query's
    # probed buckets/cells, sized from the same assignment relations
    # the entry points build, averaged over qids.
    def _sizes(df, key):
        return {
            r[key]: r["n"]
            for r in df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    qvecs = {
        r["vec_id"]: [float(x) for x in r["v"]]
        for r in vecs.where(F.col("vec_id").isin(qids)).collect()
    }
    buckets = sim._with_buckets(vecs)
    bucket_sizes = _sizes(buckets, "bucket")
    qbuckets = {
        r["vec_id"]: r["bucket"]
        for r in buckets.where(F.col("vec_id").isin(qids)).collect()
    }
    mean_cands = {
        name: sum(
            bucket_sizes.get(qbuckets[q] ^ fl, 0) for q in qids for fl in f
        )
        / len(qids)
        for name, f in lsh.items()
    }
    for name, (_, npr) in ivf.items():
        sizes = _sizes(sim._with_cells(vecs, cents[name]), "cell")
        mean_cands[name] = sum(
            sizes.get(c, 0)
            for q in qids
            for c in sim._probe_cells(qvecs[q], cents[name], npr)
        ) / len(qids)

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
