"""Per-job wall-clock breakdown for one or more registered queries.

Usage: python tools/profile_query.py q1 [q2 ...] [--sf /root/testdata/sf0.1]
                                     [--runs 1] [--explain]

For each query: builds the DataFrame, writes it to the noop sink (guide
§1.4), and prints every Spark job the invocation ran (job id, duration,
description/first stage name) from the live UI REST API — the empirical
loop of guide §1.1 without leaving the terminal. Jobs are attributed to
a query by submission time. Cold-run discipline: bench.py's
``drop_session_state`` clears the session (held indexes, pinned
intermediates, checkpoints) before every run, so the breakdown shows the
true end-to-end cost.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_UI_ENABLED"] = "true"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from bench import drop_session_state
    from retail_etl_pipeline_spark.registry import QUERIES
    from retail_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="profile",
        shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]),
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def jobs_since(t0_ms: float) -> list[dict]:
        url = f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
        with urllib.request.urlopen(url) as r:
            rows = json.load(r)
        out = []
        for j in rows:
            sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            # REST times are GMT with trailing 'GMT'
            sub_ms = (time.mktime(sub) - time.timezone) * 1000
            if sub_ms >= t0_ms - 500:
                comp = time.strptime(
                    j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S"
                )
                comp_ms = (time.mktime(comp) - time.timezone) * 1000
                ms_sub = int(j["submissionTime"][20:23])
                ms_comp = int(j["completionTime"][20:23])
                out.append(
                    {
                        "id": j["jobId"],
                        "dur_s": (comp_ms + ms_comp - sub_ms - ms_sub) / 1000,
                        "sub": sub_ms + ms_sub,
                        "desc": (j.get("description") or j["name"])[:110],
                        "tasks": j["numCompletedTasks"],
                    }
                )
        return sorted(out, key=lambda x: x["id"])

    for name in args.names:
        fn = QUERIES[name]
        for run in range(args.runs):
            drop_session_state(spark)
            spark.sparkContext.setJobDescription(f"{name} run{run}")
            wall0 = time.time() * 1000
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            js = jobs_since(wall0)
            gaps = 0.0
            prev_end = None
            for j in js:
                if prev_end is not None:
                    gaps += max(0.0, (j["sub"] - prev_end) / 1000)
                prev_end = j["sub"] + j["dur_s"] * 1000
            print(
                f"\n== {name} run{run}: {dt:.3f}s total "
                f"(build {t_build:.3f}s, {len(js)} jobs, "
                f"inter-job gaps {gaps:.3f}s)"
            )
            for j in js:
                print(
                    f"   job {j['id']:>4}  {j['dur_s']:7.3f}s "
                    f"{j['tasks']:>5}t  {j['desc']}"
                )
            spark.catalog.clearCache()
        if args.explain:
            drop_session_state(spark)
            df = QUERIES[name](spark, args.sf)
            print(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
    spark.stop()


if __name__ == "__main__":
    main()
