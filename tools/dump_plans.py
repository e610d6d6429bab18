"""Dump .explain("formatted") for registered queries into plans/<tag>/.

Usage: python tools/dump_plans.py --tag r10 --suffix before q1 q2 ...
       python tools/dump_plans.py --tag r10 --suffix after q1 q2 ...

Writes plans/<tag>/<query>_<suffix>.txt — the judge-checkable plan
evidence for every query touched in an optimization round. Each query
is dumped in its own child process (one JVM per name), so expression
ids and Expand column order do not depend on what was built before:
a query dumped after others and dumped alone gives the same text.
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="r10")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    outdir = os.path.join(_ROOT, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    ctx = multiprocessing.get_context("spawn")
    failed = []
    for name in args.names:
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        child = ctx.Process(target=_dump_one, args=(name, args.sf, path))
        child.start()
        child.join()
        if child.exitcode != 0:
            failed.append(name)
    if failed:
        raise SystemExit(f"no plan dumped for: {', '.join(failed)}")


def _dump_one(name: str, sf: str, path: str) -> None:
    sys.path.insert(0, _ROOT)
    from retail_etl_pipeline_spark.registry import QUERIES
    from retail_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="dump_plans",
        shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]),
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    txt = QUERIES[name](spark, sf)._jdf.queryExecution().explainString(mode)
    with open(path, "w") as f:
        f.write(txt)
    print(f"wrote {path} ({len(txt)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
