"""The three workloads: which ops they run, how each op is timed, and how
its output is checked.

An op is one closed-loop request from a single client. Its timed region
is the call into the engine and nothing else; the output check, the
cache cleanup and the weather canary between ops are untimed.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from gen import RUN_DATES

#: Execution-dominated registered queries, one per family: retail
#: flagship, relational, window, sketch and stats. The traced run's
#: ``by_op`` detail shows each one's build and execution time.
ANALYST_QUERIES = (
    "weekly_category_sales",        # retail flagship
    "pricing_summary",              # relational
    "running_revenue_by_store",     # window
    "quantity_approx_percentiles",  # sketch
    "quantity_moments",             # stats
)

#: Registered queries whose driver-side build (eager training collects,
#: py4j round trips, Python fixed-point loops) outweighs execution.
CURATION_QUERIES = (
    "ann_pq_adc_topk",         # ANN: PQ codebooks trained by eager collects
    "ann_pq8_adc_topk",        # ANN: the 8-bit PQ stack beside it
    "ann_lsh_topk",            # embedding LSH: per-table hyperplane draws
    "copurchase_communities",  # graph fixed-point loop driven from Python
)


def expectations():
    """daily_etl's one passing expectation, carried by its gated dates."""
    from pyspark.sql import functions as F

    return {"non_negative_qty": F.col("total_sales_qty") >= 0}


@dataclass
class Op:
    #: workload-unique label of the distinct op
    label: str
    kind: str  # "query" | "pipeline" | "corpus"
    query: str | None = None
    run_date: str | None = None
    gated: bool = False


def ops_for(workload: str, seed: int) -> list[Op]:
    """The workload's distinct ops. daily_etl has one retail publish per
    run date, with the seed picking which four of the seven dates go
    through the expectations gate, and one corpus publish."""
    corpus = Op("run_corpus_pipeline", "corpus")
    if workload == "daily_etl":
        dates = list(RUN_DATES)
        random.Random(seed).shuffle(dates)
        gated = set(dates[::2])
        return [
            Op(f"{d}:{'gated' if d in gated else 'direct'}", "pipeline",
               run_date=d, gated=d in gated)
            for d in RUN_DATES
        ] + [corpus]
    if workload == "analyst_sql":
        return [Op(q, "query", query=q) for q in ANALYST_QUERIES]
    if workload == "curation":
        return [Op(q, "query", query=q) for q in CURATION_QUERIES] + [corpus]
    raise ValueError(f"unknown workload {workload!r}")


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def _canonical(col: str, t: pa.DataType) -> str:
    """A DuckDB expression giving a column's values in one form whatever
    engine produced them: integers widened, floats and decimals as doubles
    rounded to 6 places (so accumulation order does not read as a
    mismatch, the rule tests/oracle_utils.py applies), timestamps in UTC
    without a zone, anything else as text."""
    if pa.types.is_integer(t):
        return f"CAST({col} AS BIGINT)"
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return f"round(CAST({col} AS DOUBLE), 6)"
    if pa.types.is_timestamp(t):
        return f"CAST({col} AS TIMESTAMP)"
    if pa.types.is_boolean(t) or pa.types.is_date(t) or pa.types.is_string(t):
        return col
    return f"CAST({col} AS VARCHAR)"


def fingerprint(table: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive value hash). Columns are matched by
    lower-cased name; each row is hashed in its canonical form and the
    row hashes are summed, so row order does not matter."""
    names = sorted(c.lower() for c in table.column_names)
    by_name = {c.lower(): table.column(i) for i, c in enumerate(table.column_names)}
    t = pa.table([by_name[n] for n in names], names=[f"c{i}" for i in range(len(names))])
    exprs = ", ".join(_canonical(f"c{i}", f.type) for i, f in enumerate(t.schema))
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.register("t", t)
        rows_hash = con.sql(f"SELECT CAST(sum(hash({exprs})) AS VARCHAR) FROM t").fetchone()[0]
    finally:
        con.close()
    h = hashlib.sha256(repr((names, rows_hash)).encode())
    return table.num_rows, h.hexdigest()


def prepare(workload: str, con, input_dir: str) -> dict:
    """Write the workload's inputs beyond the parquet fixtures and return
    per-op expected outputs, computed once per seed without the engine:
    DuckDB runs each query's registered oracle SQL, and the pipelines'
    counts come from the generator's own DuckDB tables."""
    n, distinct = con.sql("SELECT count(*), count(DISTINCT text) FROM documents").fetchone()
    out: dict = {"corpus": {"n_docs": n, "n_duplicates": n - distinct}}
    if workload == "daily_etl":
        from gen import write_retail_csvs

        out["dates"] = write_retail_csvs(con, input_dir)
        return out
    from retail_etl_pipeline_spark.registry import ORACLES

    names = ANALYST_QUERIES if workload == "analyst_sql" else CURATION_QUERIES
    out["queries"] = {q: fingerprint(con.sql(ORACLES[q]).arrow()) for q in names}
    return out


def input_items(workload: str, op: Op, expected: dict) -> int | None:
    """What one op counts toward ``items_per_s``: on daily_etl, the run
    date's retail CSV rows, and None for the corpus publish, which is not
    part of the retail throughput; one op elsewhere."""
    if workload != "daily_etl":
        return 1
    if op.kind == "pipeline":
        return expected["dates"][op.run_date]["rows"]
    return None


def check(op: Op, result, expected: dict) -> str | None:
    """None when the op's output is correct, else what was wrong."""
    if op.kind == "query":
        got = fingerprint(result)
        want = tuple(expected["queries"][op.query])
        return None if got == want else f"{op.query}: got {got}, want {want}"
    if op.kind == "pipeline":
        want = expected["dates"][op.run_date]["groups"]
        m = result.metrics or {}
        problems = []
        if not result.ran:
            problems.append("ran=False")
        if result.output_rows != want:
            problems.append(f"output_rows {result.output_rows} != {want}")
        if m.get("rows_written") != result.output_rows:
            problems.append(f"rows_written {m.get('rows_written')}")
        if m.get("null_grain_rows") != 0:
            problems.append(f"null_grain_rows {m.get('null_grain_rows')}")
        if op.gated and m.get("exp_non_negative_qty") != 0:
            problems.append("expectation did not pass")
        return "; ".join(problems) or None
    m = result.metrics or {}
    want = expected["corpus"]
    got = {k: m.get(k) for k in want}
    return None if got == want else f"corpus: got {got}, want {want}"
