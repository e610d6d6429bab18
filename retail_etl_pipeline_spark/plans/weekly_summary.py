"""The flagship plan: weekly (week x store x product) retail summary.

Reference shape (``Data Transformation.py:50-175``): one denormalized
``merged_df`` fans out into 9 separately-materialized aggregate relations
that are re-joined 8 ways on the weekly grain — recomputing the scan+join
subtree ~10x (no cache; SURVEY.md §4). Here the same 13 metrics come out of
ONE hash aggregation over the merged frame (``weekly_summary``); the
reference-shaped multi-relation assembly is kept as ``weekly_summary_
assembled`` for plan-parity testing and as the benchmark's "before" case.

Semantics decisions (SURVEY.md §2.9):
- Q1: merged join includes the date key (prod, store, trans_dt=cal_dt) —
  the as-written date-less join cross-multiplies snapshots.
- Q4: low-stock metric is sum(flag) on the full weekly grain.
- Q6: weeks_supply = end-of-week on-hand / weekly sum(qty), not a
  grouping-key smuggle.
- Q7: ratio metrics are NULL on zero denominators (both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.metrics import decimal_sum, money, money_sum, safe_div
from ..functions.weeks import yr_wk_num
from ..operators import fixtures_adapter as fx
from ..operators.retail import WEEK_GRAIN, low_stock_flag

#: Final column order of the weekly summary (13 metrics + 3-key grain).
SUMMARY_COLUMNS = [
    "yr_wk_num",
    "store_key",
    "prod_key",
    "total_sales_qty",
    "total_sales_amt",
    "avg_sales_amt",
    "total_sales_cost",
    "eow_on_hand_qty",
    "eow_on_order_qty",
    "out_of_stock_days",
    "out_of_stock_rate",
    "low_stock_count",
    "no_stock_instances",
    "total_low_stock_impact",
    "potential_low_stock_impact",
    "weeks_supply",
]


def merged_from(
    sales: DataFrame, inv: DataFrame, cal: DataFrame | None = None
) -> DataFrame:
    """J1 (+J2) over canonical retail frames: sales ⋈ inventory (prod,
    store, date — Q1 intended semantics), with the low-stock flag (O3)
    derived on the joined row and the week key attached.

    The week key comes from the calendar dimension when one is supplied
    (the reference's J2 path, ``Data Transformation.py:52``) and is derived
    directly from the date otherwise (Q8 fallback) — one projection instead
    of a distinct-build + broadcast join when no calendar exists.

    Join strategy for 100 TB: the two facts are co-partitioned by the join
    keys via one shuffle (sort-merge; AQE may convert to shuffled-hash);
    calendar, when present, is broadcast. Store/product dims are NOT joined
    here — the summary needs none of their columns, and Catalyst would
    prune them anyway; ``merged_wide`` adds them for consumers that want
    attributes.
    """
    m = sales.join(
        inv,
        (sales.prod_key == inv.prod_key)
        & (sales.store_key == inv.store_key)
        & (sales.trans_dt == inv.cal_dt),
        "inner",
    ).select(
        sales["*"],
        inv["cal_dt"],
        inv["inventory_on_hand_qty"],
        inv["inventory_on_order_qty"],
        inv["out_of_stock_flg"],
    )
    if cal is not None:
        m = m.join(F.broadcast(cal), m.trans_dt == cal.cal_dt, "inner").drop(
            cal["cal_dt"]
        )
    else:
        m = m.withColumn("yr_wk_num", yr_wk_num(F.col("trans_dt")))
    return m.withColumn("low_stock_flg", low_stock_flag(m))


def merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged frame over the driver-fixture role mapping.

    The fixtures DERIVE the inventory snapshot from lineitem itself at the
    exact join grain (cal_dt, store, prod) — so instead of materializing it
    with a groupBy and joining it back (agg shuffle + join shuffle on each
    side), the snapshot columns ride a window over the same partition keys:
    ONE shuffle+sort total, bit-identical values (integral/quarter-exact
    arithmetic). The oracle keeps the join formulation; real retail data
    with a physical inventory table uses :func:`merged_from`.
    """
    from pyspark.sql import Window

    li = fx._read(spark, sf_dir, "lineitem")
    amt = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    base = li.select(
        F.col("l_orderkey").alias("trans_id"),
        F.col("l_linenumber").alias("trans_line"),
        F.col("l_partkey").alias("prod_key"),
        F.col("l_suppkey").alias("store_key"),
        F.to_date("l_shipdate").alias("trans_dt"),
        F.col("l_quantity").alias("sales_qty"),
        amt.alias("sales_amt"),
        (amt * (F.lit(1) - F.col("l_tax"))).alias("sales_cost"),
        F.col("l_discount").alias("_disc"),
    )
    w = Window.partitionBy("trans_dt", "store_key", "prod_key")
    qty_sum = F.sum("sales_qty").over(w)
    m = (
        base.withColumn("cal_dt", F.col("trans_dt"))
        .withColumn(
            "inventory_on_hand_qty",
            qty_sum * (F.lit(0.25) + (F.col("prod_key") % 7).cast("double") * 0.25),
        )
        .withColumn(
            "inventory_on_order_qty",
            qty_sum * (F.lit(0.5) + (F.col("store_key") % 4).cast("double") * 0.25),
        )
        .withColumn(
            "out_of_stock_flg",
            F.max(F.when(F.col("_disc") >= 0.06, 1).otherwise(0))
            .over(w)
            .cast("int"),
        )
        .withColumn("yr_wk_num", yr_wk_num(F.col("trans_dt")))
        .drop("_disc")
    )
    return m.withColumn("low_stock_flg", low_stock_flag(m))


def merged_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J4 on top of :func:`merged`: broadcast store and product dims."""
    m = merged(spark, sf_dir)
    store = fx.store_dim(spark, sf_dir)
    prod = fx.product_dim(spark, sf_dir)
    return m.join(F.broadcast(store), "store_key", "inner").join(
        F.broadcast(prod), "prod_key", "inner"
    )


# Spark SQL text of the functions/metrics helpers: money, money_sum,
# decimal_sum — the DECIMAL(30,6) hop makes sums and the cent tie-break
# exact — and safe_div's NULL-on-zero denominator
_MONEY = "CAST(round(CAST({x} AS DECIMAL(30,6)), 2) AS DOUBLE)"
_MONEY_SUM = "CAST(round(sum(CAST({x} AS DECIMAL(30,6))), 2) AS DOUBLE)"
_DEC_SUM = "CAST(sum(CAST({x} AS DECIMAL(30,6))) AS DOUBLE)"
_SAFE_DIV = "{x} / nullif({d}, 0)"
# max_by orders by the BARE date (unique per day at this grain): a
# struct(cal_dt) wrapper is ordering-identical but demotes the whole
# aggregation from HashAggregate to SortAggregate (struct max_by is not
# hash-aggregable) — measured ~15% slower
_EOW_ON_HAND = "max_by(inventory_on_hand_qty, cal_dt)"
_OOS_DAYS = (
    "CAST(count(DISTINCT CASE WHEN out_of_stock_flg = 1 THEN cal_dt END)"
    " AS DOUBLE)"
)
_SUM_QTY = "sum(sales_qty)"

#: The 13 weekly metrics as Spark SQL aggregate text. Parsing one string
#: is one py4j call; assembling the same expressions from the Column
#: helpers took hundreds, on every run, for a plan that never changes.
#: The optimized plan is the one the helpers build (``sameResult``).
#: ``plans/sql_entry`` selects the same list in its SQL statement.
SUMMARY_AGGS_SQL = (
    _MONEY.format(x=_SUM_QTY) + " AS total_sales_qty",
    _MONEY_SUM.format(x="sales_amt") + " AS total_sales_amt",
    _MONEY.format(
        x=_SAFE_DIV.format(x=_DEC_SUM.format(x="sales_amt"), d=_SUM_QTY)
    )
    + " AS avg_sales_amt",
    _MONEY_SUM.format(x="sales_cost") + " AS total_sales_cost",
    _MONEY.format(x=_EOW_ON_HAND) + " AS eow_on_hand_qty",
    _MONEY.format(x="max_by(inventory_on_order_qty, cal_dt)")
    + " AS eow_on_order_qty",
    f"CAST({_OOS_DAYS} AS BIGINT) AS out_of_stock_days",
    _MONEY.format(x=f"{_OOS_DAYS} / 7") + " AS out_of_stock_rate",
    "CAST(sum(low_stock_flg) AS BIGINT) AS low_stock_count",
    "CAST(sum(CASE WHEN out_of_stock_flg = 1 THEN 1 ELSE 0 END) AS BIGINT)"
    " AS no_stock_instances",
    _MONEY.format(x=f"{_OOS_DAYS} / 7 + CAST(sum(low_stock_flg) AS DOUBLE)")
    + " AS total_low_stock_impact",
    _MONEY.format(
        x="sum(CASE WHEN low_stock_flg = 1"
        " THEN sales_qty - inventory_on_hand_qty END)"
    )
    + " AS potential_low_stock_impact",
    _MONEY.format(x=_SAFE_DIV.format(x=_EOW_ON_HAND, d=_SUM_QTY))
    + " AS weeks_supply",
)


def _summary_aggs() -> list:
    """The 13 weekly metrics as single-pass aggregate expressions."""
    return [F.expr(s) for s in SUMMARY_AGGS_SQL]


def weekly_summary_from_merged(m: DataFrame) -> DataFrame:
    """All 13 metrics in ONE groupBy over a merged frame — replaces the
    reference's 9-relation / 8-join assembly (``Data Transformation.py:
    62-175``). One shuffle for the aggregation, partial aggregation
    map-side, no repeated subtree evaluation."""
    return m.groupBy(*WEEK_GRAIN).agg(*_summary_aggs()).select(*SUMMARY_COLUMNS)


def weekly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`weekly_summary_from_merged` over the fixture role mapping."""
    return weekly_summary_from_merged(merged(spark, sf_dir))


def weekly_summary_assembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped plan (J5-J7): separate aggregate relations joined
    back on the 3-key weekly grain (``Data Transformation.py:156-175``) —
    kept for plan-parity tests (must equal :func:`weekly_summary`) and as
    the benchmark contrast case. The base IS persisted (the reference's
    missing ``cache()``, SURVEY.md §4) so the fan-out reads memory, not the
    re-planned scan+join subtree."""
    # No persist: all four aggregates live in ONE plan, so Catalyst dedups
    # the identical merged subtree into a ReusedExchange — the fan-out
    # reads one shuffle's output four times. (Measured: persist is 2.5x
    # SLOWER here — cache serialization plus AQE being disabled under
    # cached subtrees outweigh the recompute it saves. persist() is the
    # tool for multi-ACTION fan-out, like the reference's show+write; the
    # reference's real bug was re-planning per action, which a single-plan
    # DAG never does.)
    needed = [
        *WEEK_GRAIN,
        "cal_dt",
        "sales_qty",
        "sales_amt",
        "sales_cost",
        "inventory_on_hand_qty",
        "inventory_on_order_qty",
        "out_of_stock_flg",
        "low_stock_flg",
    ]
    m = merged(spark, sf_dir).select(*needed)
    return _assembled_from_merged(m)


def _assembled_from_merged(m: DataFrame) -> DataFrame:
    eow = F.col("cal_dt")  # bare date: hash-aggregable (see _EOW_ON_HAND)
    sums = m.groupBy(*WEEK_GRAIN).agg(
        money(F.sum("sales_qty")).alias("total_sales_qty"),
        money_sum(F.col("sales_amt")).alias("total_sales_amt"),
        money(safe_div(decimal_sum(F.col("sales_amt")), F.sum("sales_qty"))).alias(
            "avg_sales_amt"
        ),
        money_sum(F.col("sales_cost")).alias("total_sales_cost"),
        F.sum("sales_qty").alias("_sum_qty_raw"),
    )
    eow_df = m.groupBy(*WEEK_GRAIN).agg(
        money(F.max_by("inventory_on_hand_qty", eow)).alias("eow_on_hand_qty"),
        money(F.max_by("inventory_on_order_qty", eow)).alias("eow_on_order_qty"),
        F.max_by("inventory_on_hand_qty", eow).alias("_eow_on_hand_raw"),
    )
    oos = m.groupBy(*WEEK_GRAIN).agg(
        F.count_distinct(F.when(F.col("out_of_stock_flg") == 1, F.col("cal_dt")))
        .cast("bigint")
        .alias("out_of_stock_days"),
        F.sum(F.when(F.col("out_of_stock_flg") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("no_stock_instances"),
    )
    low = m.groupBy(*WEEK_GRAIN).agg(
        F.sum("low_stock_flg").cast("bigint").alias("low_stock_count"),
        money(
            F.sum(
                F.when(
                    F.col("low_stock_flg") == 1,
                    F.col("sales_qty") - F.col("inventory_on_hand_qty"),
                )
            )
        ).alias("potential_low_stock_impact"),
    )
    out = (
        sums.join(eow_df, WEEK_GRAIN, "inner")
        .join(oos, WEEK_GRAIN, "inner")
        .join(low, WEEK_GRAIN, "inner")
        .withColumn(
            "out_of_stock_rate", money(F.col("out_of_stock_days").cast("double") / 7)
        )
        .withColumn(
            "total_low_stock_impact",
            money(
                F.col("out_of_stock_days").cast("double") / 7
                + F.col("low_stock_count").cast("double")
            ),
        )
        .withColumn(
            "weeks_supply",
            money(safe_div(F.col("_eow_on_hand_raw"), F.col("_sum_qty_raw"))),
        )
    )
    return out.select(*SUMMARY_COLUMNS)
