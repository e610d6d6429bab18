"""Registry part1: query registrations, in original registry order.

Sections:
- §2.5 A1-A4: weekly sales rollup (the Phase-1 end-to-end slice)
- §2.4 J2/J3: calendar + store dim joins (broadcast)
- §2.6 W1: end-of-week state (window form and single-pass max_by form)
- §2.5 A6-A9 flag aggregations over the observation stream
- §2.5 A10/A11 over the merged fact-fact join
- the flagship: 13-metric weekly summary (single-pass and reference-shaped)
- §2.3 F4 + §2.1 S5: filtered export semantics
- general SQL capability: classic pricing-summary + top-k + dim rollup
- §2.10 extensions — text analysis (operators/text.py)
- §2.10 extensions — deduplication (operators/dedup.py)
- §2.10 extensions — similarity search (operators/similarity.py)
- §2.10 extensions — event-time windows (operators/windows.py)
- §2.10 extensions — multimodal plumbing (operators/multimodal.py)
- §3.3: the same flagship through the SQL parser (S7/S8 catalog path)
- general relational capability beyond the reference (SURVEY.md §2.7 lists
- §2.9 as-written / README variants — the reference's divergent semantics,
- approximate distinct counting — deterministic linear-counting sketch.
- classic multi-join analytics (shipping priority / local supplier volume
- as-of join (operators/asof.py): every event annotated with the latest
- range join via time-bucketing (operators/rangejoin.py)
- hierarchical rollup: monthly re-aggregated FROM daily partials — the
- deterministic stratified sampling — rand()-based sampling is

Split from the monolithic registry.py (round 7); the
registration ORDER is load-bearing (the driver correctness
rotation walks QUERIES in insertion order) — append only,
never reorder (tests/test_rotation_guard.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from ..functions.metrics import decimal_sum
from ..functions.metrics import money
from ..functions.metrics import money_sum
from ..functions.metrics import safe_div
from ..functions.weeks import yr_wk_num
from ..operators import dedup as dd
from ..operators import fixtures_adapter as fx
from ..operators import multimodal as mm
from ..operators import rangejoin as rj
from ..operators import retail
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators import windows as win
from ..operators.asof import asof_join
from ..plans import sql_entry as sqe
from ..plans import weekly_summary as ws
from ._base import (_register, _m, _ms, _ds, _W_TRANS, _W_CAL, _MERGED_CTE)  # noqa: F401

# ---------------------------------------------------------------------------
# §2.5 A1-A4: weekly sales rollup (the Phase-1 end-to-end slice)
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
WITH {fx.SALES_CTE.strip()}
SELECT {_W_TRANS} AS yr_wk_num,
       store_key,
       prod_key,
       {_m("SUM(sales_qty)")} AS total_sales_qty,
       {_ms("sales_amt")} AS total_sales_amt,
       {_m(f"{_ds('sales_amt')} / NULLIF(SUM(sales_qty), 0)")} AS avg_sales_amt,
       {_ms("sales_cost")} AS total_sales_cost
FROM sales
GROUP BY 1, 2, 3
"""


@_register("weekly_sales_rollup", _ROLLUP_ORACLE)
def weekly_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4+A12 (``Data Transformation.py:62-67``): one hash aggregate,
    partial map-side combine; no pre-sort (the reference's per-intermediate
    ``orderBy`` shuffles are dropped, SURVEY.md §4)."""
    s = retail.add_week(fx.sales(spark, sf_dir), "trans_dt")
    return retail.weekly_sales_agg(s)


# ---------------------------------------------------------------------------
# §2.4 J2/J3: calendar + store dim joins (broadcast)
# ---------------------------------------------------------------------------

@_register(
    "weekly_sales_by_region",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.STORE_CTE.strip()},
{fx.CALENDAR_CTE.strip()}
SELECT c.yr_wk_num,
       st.region,
       {_ms("s.sales_amt")} AS total_sales_amt,
       COUNT(*) AS line_count
FROM sales s
JOIN calendar c ON s.trans_dt = c.cal_dt
JOIN store st ON s.store_key = st.store_key
GROUP BY 1, 2
""",
)
def weekly_sales_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (fact ⋈ calendar on differently-named dates) + J3 (fact ⋈ store) —
    both dims broadcast; one shuffle total (the group-by)."""
    s = fx.sales(spark, sf_dir)
    cal = fx.calendar_dim(spark, sf_dir)
    st = fx.store_dim(spark, sf_dir)
    joined = retail.join_calendar(s, cal, "trans_dt").join(
        F.broadcast(st), "store_key", "inner"
    )
    return joined.groupBy("yr_wk_num", "region").agg(
        money_sum(F.col("sales_amt")).alias("total_sales_amt"),
        F.count(F.lit(1)).alias("line_count"),
    )


# ---------------------------------------------------------------------------
# §2.6 W1: end-of-week state (window form and single-pass max_by form)
# ---------------------------------------------------------------------------

_EOW_ORACLE = f"""
WITH {fx.EVENTS_INV_CTE.strip()},
ranked AS (
  SELECT {_W_CAL} AS yr_wk_num,
         store_key,
         inventory_on_hand_qty,
         inventory_on_order_qty,
         row_number() OVER (
           PARTITION BY {_W_CAL}, store_key
           ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events_inv
)
SELECT yr_wk_num,
       store_key,
       inventory_on_hand_qty AS eow_on_hand_qty,
       inventory_on_order_qty AS eow_on_order_qty
FROM ranked
WHERE rn = 1
"""


@_register("eow_inventory_window", _EOW_ORACLE)
def eow_inventory_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 as written (``Data Transformation.py:71-74,79-82``): row_number
    over (grain, ts desc) with a unique tie-breaker, keep row 1."""
    inv = retail.add_week(fx.events_inventory(spark, sf_dir), "cal_dt")
    return retail.eow_snapshot_window(
        inv,
        grain=["yr_wk_num", "store_key"],
        order_cols=["ts", "event_id"],
        value_cols={
            "inventory_on_hand_qty": "eow_on_hand_qty",
            "inventory_on_order_qty": "eow_on_order_qty",
        },
    )


@_register("eow_inventory_single_pass", _EOW_ORACLE)
def eow_inventory_single_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 re-planned: ``max_by(value, (ts, event_id))`` — one hash aggregate
    instead of sort+rank+filter; same result, cheaper at scale."""
    inv = retail.add_week(fx.events_inventory(spark, sf_dir), "cal_dt")
    return retail.eow_snapshot_maxby(
        inv,
        grain=["yr_wk_num", "store_key"],
        order_cols=["ts", "event_id"],
        value_cols={
            "inventory_on_hand_qty": "eow_on_hand_qty",
            "inventory_on_order_qty": "eow_on_order_qty",
        },
    )


# ---------------------------------------------------------------------------
# §2.5 A6-A9 flag aggregations over the observation stream
# ---------------------------------------------------------------------------

_OOS_DAYS = "COUNT(DISTINCT CASE WHEN out_of_stock_flg = 1 THEN cal_dt END)"


@_register(
    "out_of_stock_week",
    f"""
WITH {fx.EVENTS_INV_CTE.strip()}
SELECT {_W_CAL} AS yr_wk_num,
       store_key,
       {_m(f"CAST({_OOS_DAYS} AS DOUBLE) / 7")} AS out_of_stock_count
FROM events_inv
GROUP BY 1, 2
""",
)
def out_of_stock_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (``Data Transformation.py:93-96``): distinct out-of-stock days / 7."""
    inv = retail.add_week(fx.events_inventory(spark, sf_dir), "cal_dt")
    return retail.out_of_stock_week(inv)


@_register(
    "no_stock_instances",
    f"""
WITH {fx.EVENTS_INV_CTE.strip()}
SELECT {_W_CAL} AS yr_wk_num,
       store_key,
       CAST(SUM(CASE WHEN out_of_stock_flg = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS no_stock_instances
FROM events_inv
GROUP BY 1, 2
""",
)
def no_stock_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+F2 (``Data Transformation.py:111-112,141-144``), single-pass
    conditional count."""
    inv = retail.add_week(fx.events_inventory(spark, sf_dir), "cal_dt")
    return retail.no_stock_instances(inv)


@_register(
    "low_stock_count",
    f"""
WITH {fx.EVENTS_INV_CTE.strip()}
SELECT {_W_CAL} AS yr_wk_num,
       store_key,
       CAST(SUM(low_stock_flg) AS BIGINT) AS low_stock_count
FROM events_inv
GROUP BY 1, 2
""",
)
def low_stock_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 with intended semantics (Q4): sum(flag) on the full weekly grain."""
    inv = retail.add_week(fx.events_inventory(spark, sf_dir), "cal_dt")
    return retail.low_stock_count(inv)


@_register(
    "total_low_stock_impact",
    f"""
WITH {fx.EVENTS_INV_CTE.strip()}
SELECT {_W_CAL} AS yr_wk_num,
       store_key,
       {_m(f"CAST({_OOS_DAYS} AS DOUBLE) / 7 + CAST(SUM(low_stock_flg) AS DOUBLE)")}
         AS total_low_stock_impact
FROM events_inv
GROUP BY 1, 2
""",
)
def total_low_stock_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9+J5 (``Data Transformation.py:121-126``) — the reference's
    two-relations-then-join collapsed into one pass."""
    inv = retail.add_week(fx.events_inventory(spark, sf_dir), "cal_dt")
    return retail.total_low_stock_impact(inv)


# ---------------------------------------------------------------------------
# §2.5 A10/A11 over the merged fact-fact join
# ---------------------------------------------------------------------------

@_register(
    "potential_low_stock_impact",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.INVENTORY_CTE.strip()},
{_MERGED_CTE.strip()}
SELECT yr_wk_num,
       store_key,
       prod_key,
       {_m("SUM(sales_qty) - SUM(inventory_on_hand_qty)")}
         AS potential_low_stock_impact
FROM merged
WHERE low_stock_flg = 1
GROUP BY 1, 2, 3
""",
)
def potential_low_stock_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+F3+J6 (``Data Transformation.py:132-136``): filter low-stock rows,
    weekly sum(sold) - sum(on-hand). Filter sits directly on the scan side of
    the aggregate (predicate pushdown applies)."""
    m = ws.merged(spark, sf_dir)
    return (
        m.where(F.col("low_stock_flg") == 1)
        .groupBy(*retail.WEEK_GRAIN)
        .agg(
            money(
                F.sum("sales_qty") - F.sum("inventory_on_hand_qty")
            ).alias("potential_low_stock_impact")
        )
    )


@_register(
    "weeks_supply",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.INVENTORY_CTE.strip()},
{_MERGED_CTE.strip()}
SELECT yr_wk_num,
       store_key,
       prod_key,
       {_m("arg_max(inventory_on_hand_qty, cal_dt) / NULLIF(SUM(sales_qty), 0)")}
         AS weeks_supply
FROM merged
GROUP BY 1, 2, 3
""",
)
def weeks_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 with intended semantics (Q6): end-of-week on-hand ÷ weekly sold
    qty — not the reference's grouping-key smuggle
    (``Data Transformation.py:150-152``)."""
    m = ws.merged(spark, sf_dir)
    return m.groupBy(*retail.WEEK_GRAIN).agg(
        money(
            safe_div(
                F.max_by("inventory_on_hand_qty", F.col("cal_dt")),
                F.sum("sales_qty"),
            )
        ).alias("weeks_supply")
    )


# ---------------------------------------------------------------------------
# the flagship: 13-metric weekly summary (single-pass and reference-shaped)
# ---------------------------------------------------------------------------

_SUMMARY_ORACLE = f"""
WITH {fx.SALES_CTE.strip()},
{fx.INVENTORY_CTE.strip()},
{_MERGED_CTE.strip()}
SELECT yr_wk_num,
       store_key,
       prod_key,
       {_m("SUM(sales_qty)")} AS total_sales_qty,
       {_ms("sales_amt")} AS total_sales_amt,
       {_m(f"{_ds('sales_amt')} / NULLIF(SUM(sales_qty), 0)")} AS avg_sales_amt,
       {_ms("sales_cost")} AS total_sales_cost,
       {_m("arg_max(inventory_on_hand_qty, cal_dt)")} AS eow_on_hand_qty,
       {_m("arg_max(inventory_on_order_qty, cal_dt)")} AS eow_on_order_qty,
       {_OOS_DAYS} AS out_of_stock_days,
       {_m(f"CAST({_OOS_DAYS} AS DOUBLE) / 7")} AS out_of_stock_rate,
       CAST(SUM(low_stock_flg) AS BIGINT) AS low_stock_count,
       CAST(SUM(CASE WHEN out_of_stock_flg = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS no_stock_instances,
       {_m(f"CAST({_OOS_DAYS} AS DOUBLE) / 7 + CAST(SUM(low_stock_flg) AS DOUBLE)")}
         AS total_low_stock_impact,
       {_m("SUM(CASE WHEN low_stock_flg = 1 THEN sales_qty - inventory_on_hand_qty END)")}
         AS potential_low_stock_impact,
       {_m("arg_max(inventory_on_hand_qty, cal_dt) / NULLIF(SUM(sales_qty), 0)")}
         AS weeks_supply
FROM merged
GROUP BY 1, 2, 3
"""


@_register("weekly_summary", _SUMMARY_ORACLE)
def weekly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire ``df_final`` (``Data Transformation.py:
    156-175``) as ONE aggregation pass — 13 metrics, no self-joins."""
    return ws.weekly_summary(spark, sf_dir)


@_register("weekly_summary_assembled", _SUMMARY_ORACLE)
def weekly_summary_assembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped plan (J5-J7): separate aggregate relations re-joined
    on the weekly grain, base persisted. Same output as ``weekly_summary``."""
    return ws.weekly_summary_assembled(spark, sf_dir)


# ---------------------------------------------------------------------------
# §2.3 F4 + §2.1 S5: filtered export semantics
# ---------------------------------------------------------------------------

@_register(
    "orders_to_date",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders
WHERE CAST(o_orderdate AS DATE) <= current_date
""",
)
def orders_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (``Data Load.sql:4,11``): date-upper-bound export filter."""
    return fx._read(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") <= F.current_date()
    )


# ---------------------------------------------------------------------------
# general SQL capability: classic pricing-summary + top-k + dim rollup
# ---------------------------------------------------------------------------

@_register(
    "pricing_summary",
    f"""
SELECT l_returnflag,
       l_linestatus,
       {_m("SUM(l_quantity)")} AS sum_qty,
       {_ms("l_extendedprice")} AS sum_base_price,
       {_ms("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {_ms("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {_m("SUM(l_quantity) / NULLIF(COUNT(*), 0)")} AS avg_qty,
       {_m(f"{_ds('l_extendedprice')} / NULLIF(COUNT(*), 0)")} AS avg_price,
       {_m(f"{_ds('l_discount')} / NULLIF(COUNT(*), 0)")} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan-side filter + wide hash agg.
    Averages as ratio-of-sums so both engines accumulate identically."""
    li = fx._read(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            money(safe_div(F.sum("l_quantity"), cnt)).alias("avg_qty"),
            money(safe_div(decimal_sum(F.col("l_extendedprice")), cnt)).alias(
                "avg_price"
            ),
            money(safe_div(decimal_sum(F.col("l_discount")), cnt)).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@_register(
    "top_parts_by_revenue",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.PRODUCT_CTE.strip()},
rev AS (
  SELECT prod_key, {_ms("sales_amt")} AS revenue
  FROM sales GROUP BY prod_key
)
SELECT r.prod_key, p.prod_name, p.brand_name, r.revenue
FROM rev r JOIN product p ON r.prod_key = p.prod_key
ORDER BY r.revenue DESC, r.prod_key ASC
LIMIT 100
""",
)
def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate: hash agg -> broadcast dim join -> global top-100
    (Spark TakeOrderedAndProject — no full sort materialization).
    Deterministic tie-break on prod_key; revenue is an exact decimal sum so
    the ranking itself is engine-stable."""
    s = fx.sales(spark, sf_dir)
    p = fx.product_dim(spark, sf_dir)
    rev = s.groupBy("prod_key").agg(money_sum(F.col("sales_amt")).alias("revenue"))
    return (
        rev.join(F.broadcast(p), "prod_key", "inner")
        .select("prod_key", "prod_name", "brand_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("prod_key"))
        .limit(100)
    )


@_register(
    "segment_order_stats",
    f"""
SELECT c.c_mktsegment,
       COUNT(*) AS order_count,
       {_ms("o.o_totalprice")} AS total_price,
       {_m(f"{_ds('o.o_totalprice')} / NULLIF(COUNT(*), 0)")} AS avg_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer dim join + rollup on a low-cardinality key (5 segments)."""
    o = fx._read(spark, sf_dir, "orders")
    c = fx._read(spark, sf_dir, "customer")
    cnt = F.count(F.lit(1))
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            cnt.alias("order_count"),
            money_sum(F.col("o_totalprice")).alias("total_price"),
            money(safe_div(decimal_sum(F.col("o_totalprice")), cnt)).alias(
                "avg_price"
            ),
        )
    )


# ---------------------------------------------------------------------------
# §2.10 extensions — text analysis (operators/text.py)
# ---------------------------------------------------------------------------



@_register("text_profile", tx.TEXT_PROFILE_SQL)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical stats, all JVM-side string/array functions."""
    return tx.text_profile(fx._read(spark, sf_dir, "documents"))


@_register("quality_score", tx.QUALITY_SCORE_SQL)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (diversity/stopword/length)."""
    return tx.quality_score(fx._read(spark, sf_dir, "documents"))


@_register("language_id", tx.LANGUAGE_ID_SQL)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language identification with deterministic argmax."""
    return tx.language_id(fx._read(spark, sf_dir, "documents"))


@_register("doc_fingerprints", tx.DOC_FINGERPRINTS_SQL)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5 fingerprint of normalized text (exact-dedup key)."""
    return tx.doc_fingerprints(fx._read(spark, sf_dir, "documents"))


@_register("simhash_signatures", tx.SIMHASH_SQL)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup signatures (bit-majority over token hashes)."""
    return tx.simhash(fx._read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# §2.10 extensions — deduplication (operators/dedup.py)
# ---------------------------------------------------------------------------

@_register("dedup_exact", dd.DEDUP_EXACT_SQL)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the 60-bit content fingerprint."""
    return dd.dedup_exact(fx._read(spark, sf_dir, "documents"))


@_register("ngram_jaccard_neardup", dd.NGRAM_JACCARD_SQL)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index."""
    return dd.ngram_jaccard_pairs(fx._read(spark, sf_dir, "documents"))


@_register("minhash_lsh_candidates", dd.MINHASH_LSH_SQL)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (16 minhashes, 4 bands x 4 rows)."""
    return dd.minhash_lsh_candidates(fx._read(spark, sf_dir, "documents"))


@_register("minhash_neardup", dd.MINHASH_NEARDUP_SQL)
def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup: LSH candidates verified with exact Jaccard."""
    return dd.minhash_neardup_verified(fx._read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# §2.10 extensions — similarity search (operators/similarity.py)
# ---------------------------------------------------------------------------

@_register("cosine_topk", sim.cosine_topk_sql())
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector."""
    return sim.cosine_topk(fx._read(spark, sf_dir, "embeddings"))


@_register("ann_lsh_topk", sim.lsh_topk_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: random-hyperplane LSH bucket, exact rerank in-bucket."""
    return sim.lsh_topk(fx._read(spark, sf_dir, "embeddings"))


@_register(
    "ann_lsh_topk_multiprobe",
    sim.lsh_topk_sql(flips=sim.LSH_MULTIPROBE_FLIPS),
)
def ann_lsh_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: query bucket + all Hamming-1 neighbor
    buckets (flip each hyperplane bit once), exact rerank over the
    union — the recall knob on ann_lsh_topk (candidate superset, so
    recall@k >= single-probe; pinned by test_similarity recall test)."""
    return sim.lsh_topk(
        fx._read(spark, sf_dir, "embeddings"), flips=sim.LSH_MULTIPROBE_FLIPS
    )


@_register("ann_ivf_topk_lloyd", sim.ivf_topk_sql(iters=1))
def ann_ivf_topk_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over centroids refined by ONE exact-decimal Lloyd
    iteration (operators/similarity.py — nano-unit integer means, so
    the k-means update is engine-stable; the honest clustering upgrade
    over the seeded quantizer)."""
    return sim.ivf_topk(fx._read(spark, sf_dir, "embeddings"), iters=1)


@_register("ann_ivf_topk_lloyd2", sim.ivf_topk_sql(iters=2))
def ann_ivf_topk_lloyd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over centroids refined by TWO exact-decimal Lloyd
    iterations — one more unroll of the same engine-stable k-means
    update (VERDICT r6 item 4); the measured recall@k of every ANN
    variant against cosine_topk ground truth is recorded in SCALE.md."""
    return sim.ivf_topk(fx._read(spark, sf_dir, "embeddings"), iters=2)


@_register("ann_ivf_topk_multiprobe", sim.ivf_topk_sql(nprobe=sim.IVF_NPROBE))
def ann_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: rerank inside the nprobe=2 nearest centroid
    cells (boundary queries keep their runner-up cell's neighbors) —
    the recall knob on ann_ivf_topk."""
    return sim.ivf_topk(
        fx._read(spark, sf_dir, "embeddings"), nprobe=sim.IVF_NPROBE
    )


@_register(
    "ann_ivf_topk_lloyd_multiprobe",
    sim.ivf_topk_sql(iters=1, nprobe=sim.IVF_NPROBE),
)
def ann_ivf_topk_lloyd_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The two IVF quantizer upgrades composed: Lloyd-refined cells AND
    nprobe=2 probing — the highest-recall IVF configuration at 2/8 of
    the corpus scanned (measured recall table in SCALE.md). The probe
    list ranks against the REFINED centroids with the same sequential
    dot the oracle's relational ranking evaluates."""
    return sim.ivf_topk(
        fx._read(spark, sf_dir, "embeddings"), iters=1, nprobe=sim.IVF_NPROBE
    )


def _pq_codes(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The codes query ``name``, configured in ``sim.PQ_CODES``."""
    return sim.pq_codes(
        fx._read(spark, sf_dir, "embeddings"), sim.PQ_CODES[name]
    )


def _pq_topk(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The top-k query ``name``, configured in ``sim.PQ_TOPK``."""
    return sim.pq_topk(
        fx._read(spark, sf_dir, "embeddings"), **sim.PQ_TOPK[name]
    )


@_register(
    "embedding_pq_codes",
    sim.pq_codes_sql(sim.PQ_CODES["embedding_pq_codes"]),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantizer codes: each 64-dim vector packed into ONE
    bigint of 8x 3-bit sub-centroid indexes (~64x smaller than raw
    doubles) — the ANN memory-compression path at 100 TB. Pure
    projection over inlined deterministic codebooks; the oracle derives
    the same codes relationally (row_number argmin per subspace)."""
    return _pq_codes(spark, sf_dir, "embedding_pq_codes")


@_register(
    "ann_pq_adc_topk", sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq_adc_topk"])
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: the query's raw vector builds a
    64-entry exact-L2 lookup table (driver-side plan constants); every
    corpus vector's approximate distance is 8 LUT lookups indexed by
    its packed code — the scan reads ONLY the codes column, never raw
    vectors. The memory-bound ANN scan path (compose with IVF cells
    for full IVF-PQ)."""
    return _pq_topk(spark, sf_dir, "ann_pq_adc_topk")


@_register(
    "ann_pq_adc_topk_lloyd",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq_adc_topk_lloyd"]),
)
def ann_pq_adc_topk_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k over TRAINED sub-codebooks: one exact-decimal Lloyd
    iteration per subspace (the FAISS PQ training step, determinized —
    same nano-unit integer-mean kernel as the IVF lloyd family) before
    quantizing; codes and the query LUT share the refined books."""
    return _pq_topk(spark, sf_dir, "ann_pq_adc_topk_lloyd")


@_register(
    "ann_ivfpq_topk", sim.pq_topk_sql(**sim.PQ_TOPK["ann_ivfpq_topk"])
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ (the FAISS IVFADC architecture, deterministic): probe
    the nprobe=2 nearest Lloyd-refined cells, rank candidates by PQ
    asymmetric distance over packed codes — the scan is doubly reduced
    (cell pruning x code compression), the billion-scale ANN shape."""
    return _pq_topk(spark, sf_dir, "ann_ivfpq_topk")


@_register(
    "embedding_pq8_codes",
    sim.pq_codes_sql(sim.PQ_CODES["embedding_pq8_codes"]),
)
def embedding_pq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantizer codes at the FAISS-STANDARD size: 256-entry
    sub-codebooks (8 bits x 8 subspaces = one signed bigint/vector,
    still 64x smaller than raw doubles) — what faiss.IndexPQ(d, 8, 8)
    builds, determinized. Still a pure map pass (vectorized monotone
    2-term argmin); the oracle packs the same indexes through HUGEINT
    with an explicit two's-complement wrap because subspace 7 can set
    the sign bit."""
    return _pq_codes(spark, sf_dir, "embedding_pq8_codes")


@_register(
    "ann_pq8_adc_topk", sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq8_adc_topk"])
)
def ann_pq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit PQ asymmetric-distance top-k: an 8x256 exact-L2 LUT from
    the query's raw vector (2048 folded plan constants), each corpus
    vector scored by 8 LUT lookups unpacked from its 8-byte code — the
    production-recall variant of ann_pq_adc_topk (256-entry codebooks
    vs 8; measured recall table in SCALE.md)."""
    return _pq_topk(spark, sf_dir, "ann_pq8_adc_topk")


@_register(
    "ann_pq8_adc_topk_lloyd",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq8_adc_topk_lloyd"]),
)
def ann_pq8_adc_topk_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit PQ ADC top-k over TRAINED sub-codebooks: one exact-decimal
    Lloyd iteration per subspace at the 256-entry size (the standard
    FAISS train step; the bounded aggregate collects <= 16384 nano-unit
    means — the codebook itself, corpus-size independent). Codes and
    the query LUT share the refined books."""
    return _pq_topk(spark, sf_dir, "ann_pq8_adc_topk_lloyd")


@_register(
    "embedding_pq16_codes",
    sim.pq_codes_sql(sim.PQ_CODES["embedding_pq16_codes"]),
)
def embedding_pq16_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-subspace product-quantizer codes (16 x 4-dim x 256 entries):
    TWO packed bigints per vector — 16 bytes at 32x compression, the
    recall-over-memory point of the PQ family (narrower subspaces
    quantize tighter at the same codebook size). Same one-map-pass
    plan; the oracle packs per 8-subspace word through the HUGEINT
    two's-complement wrap."""
    return _pq_codes(spark, sf_dir, "embedding_pq16_codes")


@_register(
    "ann_pq16_adc_topk", sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq16_adc_topk"])
)
def ann_pq16_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-subspace PQ asymmetric-distance top-k: 16x256 exact-L2 LUT,
    16 lookups per vector unpacked from the two code words — measured
    recall@10 0.513 at sf0.1, above the IVF multiprobe family, from a
    scan that reads 16 bytes/vector (SCALE.md)."""
    return _pq_topk(spark, sf_dir, "ann_pq16_adc_topk")


@_register(
    "ann_pq16_adc_topk_lloyd",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq16_adc_topk_lloyd"]),
)
def ann_pq16_adc_topk_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-subspace PQ ADC top-k over Lloyd-TRAINED sub-codebooks — the
    family's best measured recall@10 (0.580 at sf0.1, SCALE.md) at 32x
    compression; training is the same bounded nano-mean aggregate at
    (m, d) = (16, 4)."""
    return _pq_topk(spark, sf_dir, "ann_pq16_adc_topk_lloyd")


@_register(
    "embedding_opq16_codes",
    sim.pq_codes_sql(sim.PQ_CODES["embedding_opq16_codes"]),
)
def embedding_opq16_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ16 codes over a balanced-energy dimension permutation — the
    deterministic OPQ initializer (eigenvalue-allocation style: dims
    ranked by exact integer corpus energy, snake-dealt so each of the
    16 subspaces gets one dim per energy quartile). Same 32x-compressed
    storage; the permutation is 64 plan constants from one bounded
    aggregate, free at scan time."""
    return _pq_codes(spark, sf_dir, "embedding_opq16_codes")


@_register(
    "ann_opq16_adc_topk",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_opq16_adc_topk"]),
)
def ann_opq16_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-init PQ16 ADC top-k: query and corpus pass through the same
    balanced-energy permutation, then the trained 16x256 LUT scan —
    quantization error concentrates less in any one subspace, the
    published OPQ recall mechanism (Ge et al. CVPR 2013) in its
    deterministic permutation form (measured table in SCALE.md)."""
    return _pq_topk(spark, sf_dir, "ann_opq16_adc_topk")


@_register(
    "ann_pq16_rerank_topk",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_pq16_rerank_topk"]),
)
def ann_pq16_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (the production serving pattern): trained
    16-byte PQ ADC shortlists 64 candidates, exact L2 reranks ONLY
    those rows' raw vectors to the final top-k — near-exact recall
    (SCALE.md) at a 16-byte/vector scan plus 64 key-fetches. The
    shortlist ranks by ROUND6(adc) so sub-1e-6 float noise collapses
    before the cut and both engines admit the identical candidates."""
    return _pq_topk(spark, sf_dir, "ann_pq16_rerank_topk")


@_register(
    "ann_ivfpq16_topk", sim.pq_topk_sql(**sim.PQ_TOPK["ann_ivfpq16_topk"])
)
def ann_ivfpq16_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ at production codebook size (faiss.IndexIVFPQ shape,
    determinized): nprobe=2 Lloyd-refined cells prune the corpus, then
    16-subspace 256-entry TRAINED-PQ asymmetric distance ranks the
    survivors from their two packed code words — the scan cost is
    (nprobe/|cells|) x 16 bytes/vector, the billion-scale configuration
    of the family's best-recall quantizer (SCALE.md)."""
    return _pq_topk(spark, sf_dir, "ann_ivfpq16_topk")


@_register("embedding_neardup", sim.EMBEDDING_NEARDUP_SQL)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: brute-force baseline over a
    bounded deterministic sample (sim.NEARDUP_SAMPLE_DOCS lowest
    vec_ids, which covers the whole corpus at test SFs) — the
    driver-side collect stays O(sample) at any scale. The unbounded
    production path is embedding_neardup_lsh."""
    return sim.embedding_neardup(fx._read(spark, sf_dir, "embeddings"))


@_register("embedding_neardup_lsh", sim.lsh_pairs_sql())
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed (the scale path)."""
    return sim.lsh_pairs(fx._read(spark, sf_dir, "embeddings"))


@_register(
    "embedding_neardup_lsh_multiprobe",
    sim.lsh_pairs_sql(flips=sim.LSH_MULTIPROBE_FLIPS),
)
def embedding_neardup_lsh_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair-level multi-probe near-dup: one join side expanded into its
    bucket + Hamming-1 flips, so pairs straddling ONE hyperplane are
    recovered (each qualifying pair matches exactly once — identity
    flip for equal buckets, the single differing bit otherwise)."""
    return sim.lsh_pairs(
        fx._read(spark, sf_dir, "embeddings"), flips=sim.LSH_MULTIPROBE_FLIPS
    )


# ---------------------------------------------------------------------------
# §2.10 extensions — event-time windows (operators/windows.py)
# ---------------------------------------------------------------------------

def _with_events_cte(body: str) -> str:
    """Prepend the events_norm CTE, merging with the body's own WITH."""
    body = body.strip()
    if body.upper().startswith("WITH "):
        return f"WITH {fx.EVENTS_STREAM_CTE.strip()},\n{body[5:]}"
    return f"WITH {fx.EVENTS_STREAM_CTE.strip()}\n{body}"


@_register("tumbling_hourly", _with_events_cte(win.TUMBLING_SQL))
def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows per event type."""
    return win.tumbling(fx.events_stream(spark, sf_dir))


@_register("sliding_hourly", _with_events_cte(win.SLIDING_SQL))
def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30m."""
    return win.sliding(fx.events_stream(spark, sf_dir))


@_register("session_windows", _with_events_cte(win.SESSION_SQL))
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (4h gap)."""
    return win.sessionized(fx.events_stream(spark, sf_dir))


# ---------------------------------------------------------------------------
# §2.10 extensions — multimodal plumbing (operators/multimodal.py)
# ---------------------------------------------------------------------------



@_register("multimodal_features", mm.MULTIMODAL_FEATURES_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text -> binary payload + metadata struct ->
    Arrow-batched mapInPandas feature extraction (decode step stubbed;
    byte-level features are oracle-checkable via md5)."""
    media = mm.attach_binary(fx._read(spark, sf_dir, "documents"))
    return mm.extract_features(media)


# ---------------------------------------------------------------------------
# §3.3: the same flagship through the SQL parser (S7/S8 catalog path)
# ---------------------------------------------------------------------------



@_register("weekly_summary_sql", _SUMMARY_ORACLE)
def weekly_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-metric weekly summary as ONE spark.sql statement over
    registered views — same Catalyst plan as the DataFrame form."""
    return sqe.weekly_summary_sql(spark, sf_dir)


# ---------------------------------------------------------------------------
# general relational capability beyond the reference (SURVEY.md §2.7 lists
# these as ABSENT from the reference; an engine a reference user switches to
# still needs them): distinct, semi/anti joins, union, rollup/cube, pivot
# ---------------------------------------------------------------------------

@_register(
    "distinct_order_priorities",
    "SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders",
)
def distinct_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = hash aggregate without aggregates (map-side combine)."""
    return fx._read(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    ).distinct()


@_register(
    "customers_with_orders",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: existence probe, no row multiplication, and only the
    probe side's columns flow — cheaper than join+distinct."""
    c = fx._read(spark, sf_dir, "customer")
    o = fx._read(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_register(
    "customers_without_orders",
    """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (the NOT EXISTS plan)."""
    c = fx._read(spark, sf_dir, "customer")
    o = fx._read(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@_register(
    "all_account_balances",
    """
SELECT c_custkey AS entity_key, 'customer' AS entity_kind, c_acctbal AS acctbal
FROM customer
UNION ALL
SELECT s_suppkey AS entity_key, 'supplier' AS entity_kind, s_acctbal AS acctbal
FROM supplier
""",
)
def all_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL across heterogeneous sources with aligned schemas."""
    c = fx._read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.lit("customer").alias("entity_kind"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = fx._read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.lit("supplier").alias("entity_kind"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s)


@_register(
    "region_rollup",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.STORE_CTE.strip()}
SELECT st.region,
       st.cntry_nm,
       {_ms("s.sales_amt")} AS total_sales_amt,
       COUNT(*) AS line_count
FROM sales s
JOIN store st ON s.store_key = st.store_key
GROUP BY ROLLUP(st.region, st.cntry_nm)
""",
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals: (region, country) -> region -> grand total,
    one pass with grouping-set expansion (no self-union of aggregates)."""
    s = fx.sales(spark, sf_dir)
    st = fx.store_dim(spark, sf_dir)
    return (
        s.join(F.broadcast(st), "store_key", "inner")
        .rollup("region", "cntry_nm")
        .agg(
            money_sum(F.col("sales_amt")).alias("total_sales_amt"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@_register(
    "flag_status_cube",
    f"""
SELECT l_returnflag,
       l_linestatus,
       {_m("SUM(l_quantity)")} AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def flag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping sets in one aggregation."""
    li = fx._read(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        money(F.sum("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "returnflag_pivot",
    f"""
SELECT l_linestatus,
       {_m("SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END)")} AS qty_a,
       {_m("SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END)")} AS qty_n,
       {_m("SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END)")} AS qty_r
FROM lineitem
GROUP BY l_linestatus
""",
)
def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (explicit values keep the plan a
    single pass — no distinct-scan to discover columns)."""
    li = fx._read(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(money(F.sum("l_quantity")))
    )
    return p.select(
        "l_linestatus",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


@_register("ann_ivf_topk", sim.ivf_topk_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse centroid cells, exact rerank in the probed
    cell (the k-means-cell join shape with deterministic centroids)."""
    return sim.ivf_topk(fx._read(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# §2.9 as-written / README variants — the reference's divergent semantics,
# exposed alongside the intended-primary forms so parity is checkable for
# BOTH readings (Q4, Q5)
# ---------------------------------------------------------------------------

@_register(
    "low_stock_count_aswritten",
    f"""
WITH {fx.EVENTS_INV_CTE.strip()}
SELECT store_key,
       COUNT(low_stock_flg) AS low_stock_count
FROM events_inv
GROUP BY store_key
""",
)
def low_stock_count_aswritten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 AS WRITTEN (Q4): count() of non-null flags (i.e. all rows) on the
    weekless (store-only) grain — reproduces ``Data Transformation.py:117``
    including its dropped week key. The intended form is ``low_stock_count``."""
    inv = fx.events_inventory(spark, sf_dir)
    return inv.groupBy("store_key").agg(
        F.count("low_stock_flg").alias("low_stock_count")
    )


@_register(
    "potential_low_stock_impact_readme",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.INVENTORY_CTE.strip()},
{_MERGED_CTE.strip()}
SELECT yr_wk_num,
       store_key,
       prod_key,
       {_ms("sales_amt - inventory_on_hand_qty")} AS potential_low_stock_impact
FROM merged
WHERE low_stock_flg = 1
GROUP BY 1, 2, 3
""",
)
def potential_low_stock_impact_readme(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10, README form (Q5): ``SUM(sales_amt - stock_on_hand)`` over
    low-stock rows (``README.md:56``) — the executed code's quantity-based
    form is the primary ``potential_low_stock_impact``."""
    m = ws.merged(spark, sf_dir)
    return (
        m.where(F.col("low_stock_flg") == 1)
        .groupBy(*retail.WEEK_GRAIN)
        .agg(
            money_sum(
                F.col("sales_amt") - F.col("inventory_on_hand_qty")
            ).alias("potential_low_stock_impact")
        )
    )


# ---------------------------------------------------------------------------
# approximate distinct counting — deterministic linear-counting sketch.
# Spark's approx_count_distinct (HLL++) can't be oracle-matched (engine-
# specific sketch state); linear counting over md5 buckets is the same
# class of estimator with bit-identical results in any engine, so the
# oracle check stays exact. Native approx_count_distinct remains available
# to users; this is the cross-engine-checkable form.
# ---------------------------------------------------------------------------

_LC_BUCKETS = 4096


@_register(
    "approx_distinct_parts",
    f"""
WITH occupied AS (
  SELECT COUNT(DISTINCT CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                             AS BIGINT) % {_LC_BUCKETS}) AS m
  FROM lineitem
)
SELECT m AS occupied_buckets,
       CAST(round(CAST(-{_LC_BUCKETS} * ln(1.0 - CAST(m AS DOUBLE) / {_LC_BUCKETS})
                       AS DECIMAL(20,6)), 1) AS DOUBLE) AS approx_distinct
FROM occupied
""",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting estimate of distinct l_partkey: hash each key into
    {_LC_BUCKETS} buckets, count occupied buckets m, estimate
    -K*ln(1-m/K). One exact-distinct over a tiny key space replaces the
    full distinct at scale (the sketch state is K bits, mergeable across
    partitions)."""
    li = fx._read(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % _LC_BUCKETS
    )
    occ = li.agg(F.count_distinct(bucket).alias("m"))
    k = float(_LC_BUCKETS)
    est = -k * F.log(F.lit(1.0) - F.col("m").cast("double") / k)
    return occ.select(
        F.col("m").alias("occupied_buckets"),
        F.round(est.cast("decimal(20,6)"), 1).cast("double").alias(
            "approx_distinct"
        ),
    )


@_register("token_counts", tx.TOKEN_COUNTS_SQL)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting with fertility ratio."""
    return tx.token_counts(fx._read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# classic multi-join analytics (shipping priority / local supplier volume
# shapes): deeper join trees under one aggregation, AQE-ordered
# ---------------------------------------------------------------------------

@_register(
    "shipping_priority",
    f"""
SELECT l.l_orderkey,
       {_ms("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       o.o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table join with filters on every input (all pushed to the scans),
    one aggregation, global top-10 via TakeOrderedAndProject."""
    c = fx._read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = fx._read(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = fx._read(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@_register(
    "local_supplier_volume",
    f"""
SELECT n.n_name,
       {_ms("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
""",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-table join: two large facts plus supplier and the bounded
    nation/region dims, the customer-nation = supplier-nation condition
    riding the supplier join; one aggregation on a 25-value key.

    Supplier carries no broadcast hint: it scales with SF, so a forced
    hint would override AQE's size check and OOM executors at 100 TB.
    AQE still picks a broadcast join at any SF where supplier fits
    under the threshold; nation/region are genuinely bounded (25/5
    rows) and keep their hints."""
    c = fx._read(spark, sf_dir, "customer")
    o = fx._read(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = fx._read(spark, sf_dir, "lineitem")
    s = fx._read(spark, sf_dir, "supplier")
    n = fx._read(spark, sf_dir, "nation")
    r = fx._read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# as-of join (operators/asof.py): every event annotated with the latest
# at-or-before 'purchase' value of the same user
# ---------------------------------------------------------------------------



@_register(
    "events_asof_last_purchase",
    f"""
WITH {fx.EVENTS_STREAM_CTE.strip()},
lt AS (
  SELECT event_id, ts, user_id, event_type, value,
         1 AS _side, CAST(NULL AS DOUBLE) AS _pv
  FROM events_norm
),
rt AS (
  SELECT event_id, ts, user_id, CAST(NULL AS VARCHAR) AS event_type,
         CAST(NULL AS DOUBLE) AS value, 0 AS _side, value AS _pv
  FROM events_norm WHERE event_type = 'purchase'
),
combined AS (SELECT * FROM lt UNION ALL BY NAME SELECT * FROM rt),
filled AS (
  SELECT *,
         last_value(_pv IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts, _side, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_purchase_value
  FROM combined
)
SELECT event_id, ts, user_id, event_type, value, last_purchase_value
FROM filled
WHERE _side = 1
""",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join demo: events ⋈asof purchases per user (at-or-before
    event time, deterministic tie-break on event_id)."""
    ev = fx.events_stream(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase")
    return asof_join(
        ev,
        purchases,
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        value_col="value",
        out_col="last_purchase_value",
    )


# ---------------------------------------------------------------------------
# range join via time-bucketing (operators/rangejoin.py)
# ---------------------------------------------------------------------------



@_register(
    "orders_in_promo_windows",
    f"""
WITH {rj.PROMO_WINDOWS_SQL.strip()}
SELECT p.promo_id,
       p.rate,
       COUNT(*) AS order_count,
       {_ms("o.o_totalprice")} AS total_price
FROM orders o
JOIN promos p
  ON CAST(o.o_orderdate AS DATE) >= p.start_dt
 AND CAST(o.o_orderdate AS DATE) < p.end_dt
GROUP BY p.promo_id, p.rate
""",
)
def orders_in_promo_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join rewritten as a bucketed equi-join (the oracle runs the
    naive BETWEEN join — same result, quadratic plan)."""
    return rj.orders_in_promo_windows(spark, fx._read(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# hierarchical rollup: monthly re-aggregated FROM daily partials — the
# continuous-aggregate / hypertable-rollup pattern. At scale the daily
# relation is a materialized incremental table; correctness requires the
# re-aggregation of partials to equal the direct aggregate, which the
# oracle checks (daily decimal sums round-trip double->decimal exactly at
# these magnitudes, so sum-of-daily == direct sum bit-for-bit).
# ---------------------------------------------------------------------------

@_register(
    "monthly_from_daily_rollup",
    f"""
WITH {fx.SALES_CTE.strip()},
daily AS (
  SELECT trans_dt,
         store_key,
         {_ds("sales_amt")} AS day_amt,
         {_m("SUM(sales_qty)")} AS day_qty
  FROM sales
  GROUP BY 1, 2
)
SELECT CAST(year(trans_dt) * 100 + month(trans_dt) AS INTEGER) AS yr_mnth_num,
       store_key,
       {_ms("day_amt")} AS total_sales_amt,
       {_m("SUM(day_qty)")} AS total_sales_qty,
       COUNT(*) AS active_days
FROM daily
GROUP BY 1, 2
""",
)
def monthly_from_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level rollup: daily partials -> monthly, plus a day-grain
    metric (active_days) only the hierarchy can provide."""
    s = fx.sales(spark, sf_dir)
    daily = s.groupBy("trans_dt", "store_key").agg(
        decimal_sum(F.col("sales_amt")).alias("day_amt"),
        money(F.sum("sales_qty")).alias("day_qty"),
    )
    return (
        daily.groupBy(
            (F.year("trans_dt") * 100 + F.month("trans_dt"))
            .cast("int")
            .alias("yr_mnth_num"),
            "store_key",
        )
        .agg(
            money_sum(F.col("day_amt")).alias("total_sales_amt"),
            money(F.sum("day_qty")).alias("total_sales_qty"),
            F.count(F.lit(1)).alias("active_days"),
        )
    )


@_register(
    "weekly_category_sales",
    f"""
WITH {fx.SALES_CTE.strip()},
{fx.PRODUCT_CTE.strip()},
agg AS (
  SELECT {_W_TRANS} AS yr_wk_num,
         prod_key,
         {_ds("sales_amt")} AS amt
  FROM sales
  GROUP BY 1, 2
)
SELECT a.yr_wk_num,
       p.category_name,
       {_ms("a.amt")} AS total_sales_amt,
       COUNT(*) AS product_count
FROM agg a
JOIN product p ON a.prod_key = p.prod_key
GROUP BY 1, 2
""",
)
def weekly_category_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-THEN-join: the fact is rolled up to (week, product)
    BEFORE the product dim joins in, so the join probes the compact
    aggregate instead of every fact row — the right order at 100 TB when
    the dim attributes aren't needed inside the aggregation itself."""
    s = retail.add_week(fx.sales(spark, sf_dir), "trans_dt")
    agg = s.groupBy("yr_wk_num", "prod_key").agg(
        decimal_sum(F.col("sales_amt")).alias("amt")
    )
    p = fx.product_dim(spark, sf_dir)
    return (
        agg.join(F.broadcast(p), "prod_key", "inner")
        .groupBy("yr_wk_num", "category_name")
        .agg(
            money_sum(F.col("amt")).alias("total_sales_amt"),
            F.count(F.lit(1)).alias("product_count"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling — rand()-based sampling is
# irreproducible across runs and engines; hashing the stable key gives the
# identical sample everywhere and survives task retries. Rates per stratum
# (language), shared between both sides.
# ---------------------------------------------------------------------------

_SAMPLE_RATES: dict[str, int] = {"en": 50, "de": 25, "fr": 25, "es": 25, "zh": 25}


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{l}' THEN {r}" for l, r in _SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE 0 END"


@_register(
    "documents_stratified_sample",
    f"""
WITH rated AS (
  SELECT doc_id,
         lang,
         n_chars,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS h
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM rated
WHERE h < {_rate_case_sql()}
""",
)
def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates via a hash of the stable key: the
    selected set is a pure function of the data — rerunnable, engine-
    independent, retry-safe (none of which rand()-sampling gives)."""
    docs = fx._read(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.lit(0)
    for lang, r in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.select("doc_id", "lang", "n_chars").where(h < rate)
