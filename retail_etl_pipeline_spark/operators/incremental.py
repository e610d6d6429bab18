"""Incremental aggregate maintenance: merge partials, don't rescan.

A daily 100 TB pipeline cannot recompute week-to-date aggregates from
raw history every run. The mergeable-partials pattern stores each run's
PARTIAL aggregate state (decimal sums, counts, min/max — all
associative+commutative) and folds new deltas in with one bounded merge:

    state_t = merge(state_{t-1}, partials(delta_t))

Cost per run is O(|delta| + |state|), independent of history length —
the same algebra Spark itself uses for map-side partial aggregation,
lifted to run-over-run granularity. Decimal sums keep the merge EXACT and
order-independent, so any regrouping of runs produces bit-identical
state; finalization (rounding, ratios) happens only at read time, never
in state — rounding in state would make merges order-dependent.
Reference shape: the job this replaces recomputes everything daily
(``Data Transformation.py`` full-rescan pipeline, SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partial-state columns (all mergeable)
_STATE = ("qty_sum", "amt_sum", "cost_sum", "n_lines")


def rollup_partials(sales_with_week: DataFrame) -> DataFrame:
    """Per-grain partial state for one delta (e.g. one day's sales).

    Sums are DECIMAL(30,6) — exact, so merging is associative to the
    bit; the row count rides along for averages at finalize time.
    """
    return sales_with_week.groupBy("yr_wk_num", "store_key", "prod_key").agg(
        F.sum(F.col("sales_qty").cast("decimal(30,6)")).alias("qty_sum"),
        F.sum(F.col("sales_amt").cast("decimal(30,6)")).alias("amt_sum"),
        F.sum(F.col("sales_cost").cast("decimal(30,6)")).alias("cost_sum"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def merge_partials(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta's partials into the state: union + re-aggregate on
    the grain. One shuffle over |state| + |delta| partial rows (never
    raw history); grains untouched by the delta pass through with their
    state unchanged (exact decimal addition with zero is identity)."""
    return (
        state.unionByName(delta)
        .groupBy("yr_wk_num", "store_key", "prod_key")
        .agg(*[F.sum(c).alias(c) for c in _STATE])
    )


def finalize_rollup(state: DataFrame) -> DataFrame:
    """Read-time projection of the partial state into the published
    weekly rollup schema (money rounding, ratio-of-sums average)."""
    from ..functions.metrics import money, safe_div

    return state.select(
        "yr_wk_num",
        "store_key",
        "prod_key",
        money(F.col("qty_sum")).alias("total_sales_qty"),
        F.round("amt_sum", 2).cast("double").alias("total_sales_amt"),
        money(
            safe_div(F.col("amt_sum").cast("double"), F.col("qty_sum"))
        ).alias("avg_sales_amt"),
        F.round("cost_sum", 2).cast("double").alias("total_sales_cost"),
    )
