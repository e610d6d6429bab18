"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

This is the driver-facing inventory (SURVEY.md §2): every implemented
operator has a named query here, a Spark implementation (taking
``(spark, sf_dir)``) and — when SQL-expressible — an exactly-equivalent
ANSI SQL string the DuckDB oracle runs on the same parquet tables.

Alignment rules (SURVEY.md §5, FIXTURES.md):
- every computed column aliased identically on both sides;
- money sums/ratios rounded via DECIMAL (see functions.metrics — double
  rounding is not cross-engine-stable at exact ties) on both sides;
- ``NULLIF(denom, 0)`` in SQL to match Spark's null-on-divide-by-zero;
- ``CAST(SUM(int) AS BIGINT)`` in SQL (DuckDB sums ints to HUGEINT);
- week keys cast to INTEGER on both sides;
- deterministic tie-breaks on every window/top-k.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.metrics import (
    DECIMAL_SUM_SQL,
    MONEY_SQL,
    MONEY_SUM_SQL,
    decimal_sum,
    money,
    money_sum,
    safe_div,
)
from ..functions import zorder as zo
from ..operators import fixtures_adapter as fx
from ..operators import reconcile as rc
from ..operators import retail
from ..plans import weekly_summary as ws

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # a silent dict overwrite would shadow a registered query and its
        # oracle record would quietly test the wrong implementation
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _m(x: str) -> str:
    """money(): decimal-stable round-to-cents of a scalar expression."""
    return MONEY_SQL.format(x=x)


def _ms(x: str) -> str:
    """money_sum(): exact decimal sum rounded to cents."""
    return MONEY_SUM_SQL.format(x=x)


def _ds(x: str) -> str:
    """decimal_sum(): exact decimal sum as double (for ratio numerators)."""
    return DECIMAL_SUM_SQL.format(x=x)


# common SQL fragments
_WEEK = "CAST(isoyear({d}) * 100 + weekofyear({d}) AS INTEGER)"
_W_TRANS = _WEEK.format(d="trans_dt")
_W_CAL = _WEEK.format(d="cal_dt")

_MERGED_CTE = f"""
merged AS (
  SELECT s.*,
         i.cal_dt,
         i.inventory_on_hand_qty,
         i.inventory_on_order_qty,
         i.out_of_stock_flg,
         CASE WHEN i.inventory_on_hand_qty < s.sales_qty THEN 1 ELSE 0 END
           AS low_stock_flg,
         {_W_TRANS} AS yr_wk_num
  FROM sales s
  JOIN inventory i
    ON s.prod_key = i.prod_key
   AND s.store_key = i.store_key
   AND s.trans_dt = i.cal_dt
)"""
