"""SQL entry point (SURVEY.md §3.3): the same engine driven by
``spark.sql`` over catalog-registered tables — the Athena/BI consumption
path of the reference (``README.md:64-78``), served by Spark itself.

The flagship 13-metric weekly summary here is ONE SQL statement compiled by
the same Catalyst pipeline as the DataFrame form; ``test_oracle_parity``
holds it to the same DuckDB oracle, and the planner produces the same
single-aggregation physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import fixtures_adapter as fx
from .weekly_summary import SUMMARY_AGGS_SQL

#: Spark-dialect week key (the oracle's DuckDB dialect uses isoyear())
_WEEK_SPARK = (
    "CAST(extract(YEAROFWEEK FROM {d}) * 100 + weekofyear({d}) AS INT)"
)

#: the 13 metrics: the same aggregate text the DataFrame form parses
_AGGS = ",\n       ".join(SUMMARY_AGGS_SQL)

WEEKLY_SUMMARY_SQL = f"""
WITH base AS (
  SELECT l_partkey AS prod_key,
         l_suppkey AS store_key,
         to_date(l_shipdate) AS trans_dt,
         l_quantity AS sales_qty,
         l_extendedprice * (1 - l_discount) AS sales_amt,
         l_extendedprice * (1 - l_discount) * (1 - l_tax) AS sales_cost,
         l_discount AS disc
  FROM lineitem
),
-- the inventory snapshot is derived at the exact join grain, so its
-- columns ride a window over (date, store, prod) instead of a groupBy +
-- self-join: one shuffle total (same plan the DataFrame form builds)
winified AS (
  SELECT prod_key, store_key, trans_dt, trans_dt AS cal_dt,
         sales_qty, sales_amt, sales_cost,
         SUM(sales_qty) OVER w * (0.25 + CAST(prod_key % 7 AS DOUBLE) * 0.25)
           AS inventory_on_hand_qty,
         SUM(sales_qty) OVER w * (0.5 + CAST(store_key % 4 AS DOUBLE) * 0.25)
           AS inventory_on_order_qty,
         CAST(MAX(CASE WHEN disc >= 0.06 THEN 1 ELSE 0 END) OVER w AS INT)
           AS out_of_stock_flg,
         {_WEEK_SPARK.format(d="trans_dt")} AS yr_wk_num
  FROM base
  WINDOW w AS (PARTITION BY trans_dt, store_key, prod_key)
),
merged AS (
  SELECT *,
         CASE WHEN inventory_on_hand_qty < sales_qty THEN 1 ELSE 0 END
           AS low_stock_flg
  FROM winified
)
SELECT yr_wk_num, store_key, prod_key,
       {_AGGS}
FROM merged
GROUP BY yr_wk_num, store_key, prod_key
"""


def weekly_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the fixtures and run the flagship summary as one SQL
    statement — S7/S8 + the full metric surface through the SQL parser."""
    fx._read(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(WEEKLY_SUMMARY_SQL)
