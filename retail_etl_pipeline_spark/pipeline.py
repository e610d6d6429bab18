"""Orchestration layer (SURVEY.md §2.8) — the reference's Lambda/Airflow/SES
machinery re-expressed as plain functions around the engine.

- C2/S9/F5: readiness gate — required file set present for the run date
  (``Lambda Function.py:8-23``), table name extracted from
  ``{table}_{YYYYMMDD}.csv`` (``:23``).
- C3/C4: one ``run_pipeline(run_date, inputs)`` entry point replacing the
  parse -> EMR-step -> sensor DAG (``Airflow Dag.py:61-83``); parameters are
  function arguments, not XCom/argv strings (the reference's arg contract
  was internally inconsistent — SURVEY.md §2.8 C4).
- C6/S7/S8: idempotent date-partitioned publish + catalog registration so
  the output is immediately queryable via ``spark.sql``.
- S10: alert callback seam instead of a hard-wired SES email
  (``AWS SES.py``, called at ``Lambda Function.py:47``).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import io as eio
from .operators.retail import WEEK_GRAIN
from .plans.weekly_summary import merged_from, weekly_summary_from_merged
from .schemas import RETAIL_SCHEMAS, RETAIL_TABLES

_FILE_RE = re.compile(r"^(?P<table>[a-z_]+)_(?P<date>\d{8})\.csv$")


def required_files(run_date: str, tables: tuple[str, ...] = RETAIL_TABLES) -> list[str]:
    """``{table}_{YYYYMMDD}.csv`` for each input table
    (``Lambda Function.py:17``). ``run_date`` is ``YYYY-MM-DD``."""
    datestr = run_date.replace("-", "")
    return [f"{t}_{datestr}.csv" for t in tables]


def readiness_check(
    input_dir: str,
    run_date: str,
    tables: tuple[str, ...] = RETAIL_TABLES,
) -> tuple[bool, list[str]]:
    """S9/F5: required ⊆ present (``Lambda Function.py:20``).

    Returns (ready, missing_files)."""
    present = set(os.listdir(input_dir)) if os.path.isdir(input_dir) else set()
    missing = [f for f in required_files(run_date, tables) if f not in present]
    return (not missing, missing)


def table_paths(input_dir: str, run_date: str) -> dict[str, str]:
    """C2: build the table -> path map the trigger passes downstream
    (``Lambda Function.py:23-26``: table name = filename minus the 13-char
    ``_YYYYMMDD.csv`` suffix)."""
    datestr = run_date.replace("-", "")
    out: dict[str, str] = {}
    for fname in sorted(os.listdir(input_dir)):
        m = _FILE_RE.match(fname)
        if m and m.group("date") == datestr:
            out[m.group("table")] = os.path.join(input_dir, fname)
    return out


@dataclass
class PipelineResult:
    ran: bool
    run_date: str
    missing: list[str] = field(default_factory=list)
    output_path: str | None = None
    #: rows published for run_date: the observed ``rows_written``, not a
    #: re-scan of the output
    output_rows: int | None = None
    #: data-quality counters observed DURING the write (no extra scan):
    #: rows_written, null_grain_rows, negative_sales_rows, plus one
    #: ``exp_<rule>`` violation counter per expectation passed in
    metrics: dict | None = None
    #: rule -> violation count for expectations that failed (publish was
    #: rolled back when non-empty)
    expectation_failures: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    run_date: str,
    input_dir: str,
    output_path: str,
    on_missing: Callable[[list[str]], None] | None = None,
    register_as: str | None = "weekly_summary",
    measure_type: str = "double",
    expectations: dict | None = None,
    on_expectation_failure: Callable[[dict], None] | None = None,
) -> PipelineResult:
    """C3: the single entry point — readiness gate, CSV loads with explicit
    schemas, the single-pass weekly summary, idempotent date-partitioned
    publish, catalog registration.

    ``on_missing`` is the S10 alert seam (the reference emails via SES);
    it receives the missing-file list and the pipeline returns without
    running.

    ``expectations`` (name -> boolean Column over the summary, the
    operators/expectations.py contract: NULL counts as a violation)
    ride the SAME ``observe()`` as the built-in DQ counters — zero
    extra scans. With expectations, the run partition is written to a
    STAGING sibling first and only PROMOTED (Hadoop FS partition
    rename — metadata-cheap on hdfs/local, a server-side copy on
    object stores) after every rule passes: a failing re-run leaves
    the previously published partition untouched (writing straight to
    the live path would have dynamically overwritten good data before
    the verdict existed), ``on_expectation_failure`` gets the rule ->
    violation-count map, and the result reports ran=False. A gate
    evaluated pre-publish would cost a second full pass of the summary
    at 100 TB; stage-observe-promote pays one partition move instead.

    The publish does not re-scan what it wrote. ``output_rows`` is the
    observed ``rows_written``, not a re-count of the partition.
    ``CollectMetrics`` sits in the write's result stage, where Spark
    applies each task's accumulator update exactly once, so retried or
    speculative tasks cannot double-count it. The ``register_as`` view
    is read with the schema the writer lays out (the summary's columns,
    then ``date DATE``), so registering it runs no schema-inference job.
    Listing the ``date=`` directories is unchanged: past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` of them,
    Spark lists them with a parallel job."""
    ready, missing = readiness_check(input_dir, run_date)
    if not ready:
        if on_missing is not None:
            on_missing(missing)
        return PipelineResult(ran=False, run_date=run_date, missing=missing)

    paths = table_paths(input_dir, run_date)
    # the readiness gate wants all five files; the summary joins three
    m = merged_from(
        *(
            eio.read_csv(spark, paths[t], RETAIL_SCHEMAS[t](measure_type))
            for t in ("sales", "inventory", "calendar")
        )
    )
    summary = weekly_summary_from_merged(m).orderBy(*WEEK_GRAIN)

    # Observation rides the write job itself — data-quality counters for
    # free, where the reference (and a naive port) would re-scan the
    # output to validate it. At 100 TB a validation re-scan is a second
    # full pass; observe() is zero extra I/O.
    obs = Observation("dq")
    grain_null = " OR ".join(f"{k} IS NULL" for k in WEEK_GRAIN)
    from .operators.expectations import validate_rule_name, violations_expr

    exp_aggs = []
    for name, cond in (expectations or {}).items():
        validate_rule_name(name)
        exp_aggs.append(violations_expr(cond).alias(f"exp_{name}"))
    summary = summary.observe(
        obs,
        F.expr("count(1) AS rows_written"),
        F.expr(f"count(CASE WHEN {grain_null} THEN 1 END) AS null_grain_rows"),
        F.expr(
            "count(CASE WHEN total_sales_amt < 0 THEN 1 END)"
            " AS negative_sales_rows"
        ),
        *exp_aggs,
    )
    gated = bool(expectations)
    # staging root is PER-RUN: a shared root would let a concurrent gated
    # run for another run_date lose its staged partition to this run's
    # recursive staging-root cleanup (both on failure and post-promote)
    staging_root = output_path.rstrip("/") + f".__staging__-{run_date}"
    write_target = staging_root if gated else output_path
    eio.write_run_partition(summary, write_target, run_date)
    metrics = dict(obs.get)
    if gated:
        # all filesystem surgery through the Hadoop FS API — portable
        # across file/hdfs/s3a (a local shutil would silently no-op on
        # object-store paths and leave the bad partition live)
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        out_root = hpath(output_path.rstrip("/"))
        fs = out_root.getFileSystem(spark._jsc.hadoopConfiguration())
        staged_part = hpath(f"{staging_root}/date={run_date}")
        live_part = hpath(f"{output_path.rstrip('/')}/date={run_date}")
        failures = {
            k[len("exp_"):]: v
            for k, v in metrics.items()
            if k.startswith("exp_") and (v or 0) > 0
        }
        if failures:
            # withdraw the staging area; the live path (including any
            # previously published content for this date) is untouched
            if not fs.delete(hpath(staging_root), True):
                raise RuntimeError(
                    f"failed to clear staging {staging_root} after "
                    "expectation failure — bad data may remain staged"
                )
            if on_expectation_failure is not None:
                on_expectation_failure(failures)
            return PipelineResult(
                ran=False,
                run_date=run_date,
                output_path=output_path,
                metrics=metrics,
                expectation_failures=failures,
            )
        # promote: replace exactly this run's partition with the staged one
        fs.mkdirs(out_root)
        if fs.exists(live_part):
            if not fs.delete(live_part, True):
                raise RuntimeError(f"failed to replace {live_part}")
        if not fs.rename(staged_part, live_part):
            raise RuntimeError(
                f"failed to promote staged partition to {live_part}"
            )
        fs.delete(hpath(staging_root), True)

    if register_as:
        # the layout the writer produced, declared: no inference job
        published_schema = T.StructType(
            [*summary.schema, T.StructField("date", T.DateType())]
        )
        spark.read.schema(published_schema).parquet(
            output_path
        ).createOrReplaceTempView(register_as)
    return PipelineResult(
        ran=True,
        run_date=run_date,
        output_path=output_path,
        output_rows=metrics["rows_written"],
        metrics=metrics,
    )
