"""Benchmark runner (driver contract, BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end: plan build -> execution -> a noop-format
write as the action. count() is NOT usable here: Catalyst prunes
deterministic projections under count, so projection-only queries
(text_profile, language_id, ...) would time a scan-count instead of their
actual expressions. The noop sink consumes every row and column of the
result with no serialization/IO cost of its own, so the measured time is
the real query work (VERDICT r1 finding #3).
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time


def _summary_record(
    timings: dict[str, float],
    sf_dir: str,
    *,
    partial: bool,
    of: int,
    subset: bool,
) -> dict:
    """The bench record shape, shared by partial progress lines, the
    SIGTERM dump, and the final full record. Summary fields FIRST and a
    duplicate ``summary_tail`` LAST: the driver keeps only a bounded
    TAIL of stdout, so the totals must survive even when the per-query
    map is truncated at either end."""
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    return {
        "metric": "total_query_time",
        # a killed or in-flight sweep must never be mistaken for a
        # completed full-registry record
        **({"partial": True, "done": len(timings), "of": of}
           if partial else {}),
        **({"subset": True} if subset else {}),
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n": len(timings),
        "total_s": total,
        "max": max(timings.values()) if timings else 0.0,
        "top10": top10,
        "queries": timings,
        "summary_tail": {
            "n": len(timings),
            "total_s": total,
            "max": max(timings.values()) if timings else 0.0,
            "top10": top10,
        },
    }


def drop_session_state(spark) -> None:
    """Cold-run discipline: no computed state crosses a timed-run
    boundary. Drops the PQ indexes ``similarity.pq_index_for`` holds and
    the materialized co-purchase edge table, then unpersists every RDD
    still persisted in the session: the eager localCheckpoints the
    graph, dedup and selection kernels take inside one query survive
    ``catalog.clearCache()`` and would pile up across a sweep. Only a
    harness that owns its session may release state it did not create,
    so this sweep lives here and not in the package."""
    from retail_etl_pipeline_spark.operators import graph, similarity

    similarity.clear_trained_state(spark)
    graph.clear_materialized_edges(spark)
    # blocking: the async form returns before the block manager removes
    # the blocks, and the removal then races with the next timed run
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from retail_etl_pipeline_spark.registry import QUERIES
    from retail_etl_pipeline_spark.session import get_spark

    # min-of-N: this VM shows multi-second scheduler stalls on single
    # runs (a sub-second TakeOrdered query occasionally reads 7s+);
    # repeated runs per query bound the noise. Default N: 2 when a
    # committed BENCH_LOCAL.json baseline exists (round 9's min-of-3
    # sweep blew the driver's timeout — rc=124, nothing recorded; with
    # a baseline, the in-suite regression gate provides the precision
    # backstop so the driver sweep can afford fewer runs), else 3.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    default_runs = (
        "2" if os.path.exists(os.path.join(repo_dir, "BENCH_LOCAL.json"))
        else "3"
    )
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", default_runs))
    # SPARK_GRAFT_BENCH_ONLY=q1,q2 re-measures a suspect subset in
    # isolation (the stall-noise triage loop) without an ad-hoc script;
    # the driver never sets it, so the recorded runs stay full-registry.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    selected = sorted(QUERIES.items())
    if only:
        names = {n.strip() for n in only.split(",") if n.strip()}
        if not names:
            raise SystemExit(
                "SPARK_GRAFT_BENCH_ONLY is set but names no queries"
            )
        unknown = names - QUERIES.keys()
        if unknown:
            raise SystemExit(f"unknown bench queries: {sorted(unknown)}")
        selected = [(n, f) for n, f in selected if n in names]
    timings: dict[str, float] = {}

    # survivability (r9 postmortem: the driver's `timeout` killed the
    # min-of-3 sweep at rc=124 and the round recorded NOTHING because
    # the one JSON line prints only at the very end): (a) SIGTERM/SIGINT
    # dump the accumulated partial record to stdout before dying, and
    # (b) a partial summary line prints every PARTIAL_EVERY queries —
    # the driver keeps a bounded stdout tail, so whichever line lands
    # last survives the kill.
    def _dump_partial(signum, frame):
        rec = _summary_record(
            timings, sf_dir, partial=True, of=len(selected),
            subset=bool(only),
        )
        sys.stderr.write(f"bench: killed by signal {signum}, dumping "
                         f"partial record ({len(timings)} queries)\n")
        print(json.dumps(rec), flush=True)
        # skip Python/JVM teardown: the signal means the budget is gone
        # and a clean spark.stop() can itself hang past the kill window
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, _dump_partial)
    signal.signal(signal.SIGINT, _dump_partial)
    partial_every = int(os.environ.get("SPARK_GRAFT_BENCH_PARTIAL", "25"))

    # session creation AFTER handler registration: a kill during JVM
    # startup/warmup then still emits an (empty but parseable) record
    spark = get_spark(app_name="bench", shuffle_partitions=int(cpus))
    # warm up the JVM/codegen path once (not counted)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for i, (name, fn) in enumerate(selected, start=1):
        best = None
        for _ in range(runs):
            drop_session_state(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            # queries are timed independently: drop any relations the
            # previous run persisted so storage memory doesn't squeeze
            # execution memory
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)
        if partial_every and i % partial_every == 0 and i < len(selected):
            rec = _summary_record(
                timings, sf_dir, partial=True, of=len(selected),
                subset=bool(only),
            )
            print(json.dumps(rec), flush=True)

    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    signal.signal(signal.SIGINT, signal.SIG_DFL)
    record = _summary_record(
        timings, sf_dir, partial=False, of=len(selected),
        subset=bool(only),
    )
    print(json.dumps(record), flush=True)
    if only:
        # subset runs are triage only — never overwrite the committed
        # full-registry record
        spark.stop()
        return
    # the committed record (BENCH_LOCAL.json) is the sf0.1 min-of-3
    # reference the in-suite regression gate compares against; update it
    # ONLY when explicitly recording (SPARK_GRAFT_BENCH_RECORD=1) — the
    # driver's per-round run and ad-hoc sf0.01/single-run sweeps used to
    # clobber it every time (the recurring r5/r6 dirty-tree nit). All
    # other full runs write BENCH_LAST.json (gitignored scratch).
    recording = os.environ.get("SPARK_GRAFT_BENCH_RECORD") == "1"
    out_name = "BENCH_LOCAL.json" if recording else "BENCH_LAST.json"
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         out_name),
            "w",
        ) as f:
            json.dump(record, f, indent=1, sort_keys=False)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still the record
    spark.stop()


if __name__ == "__main__":
    main()
