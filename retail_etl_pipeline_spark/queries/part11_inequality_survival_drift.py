"""Registry part11 (round 6): stratified inequality, survival and drift.

Sections:
- Theil between/within decomposition, Atkinson (e=1, e=2) and weighted
  Gini of customer/supplier spend,
- Mann-Whitney U (overall, per nation, z-form), Kolmogorov-Smirnov and
  CUSUM drift tests on daily/store/nation revenue,
- Kaplan-Meier second-order survival, median survival and Greenwood
  confidence bands per segment, lapsed-customer counts,
- ABC-class migration matrix, chained Laspeyres price index, regional
  HHI trend, stockout streak histogram,
- multi-touch purchase attribution (first/last/linear/U-shaped), the
  event-type Markov steady state and basket brand entropy.

Same alignment rules as the other parts (aliases identical on both
sides, DECIMAL-hop money rounding, HUGEINT ``//`` for exact integer
division in DuckDB, deterministic tie-breaks). Registration ORDER is
load-bearing (the correctness rotation in ``__spark_entry__.queries()``
walks QUERIES in insertion order) — append only, never reorder
(tests/test_rotation_guard.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import behavior as bh
from ..operators import fixtures_adapter as fx
from ._base import _register
from .part8_seasonality_streaks import _SPEND_CTE, _spend


@_register(
    "nation_spend_theil_decomposition",
    f"""
WITH {_SPEND_CTE.strip()},
gs AS (
  SELECT n_name AS g, cents
  FROM spend
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE cents > 0
),
grp AS (
  SELECT g, CAST(COUNT(*) AS DECIMAL(38,0)) AS ng,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg
  FROM gs GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(ng) AS DECIMAL(38,0)) AS n,
         CAST(SUM(sg) AS DECIMAL(38,0)) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n_groups
  FROM grp
),
rowc AS (
  SELECT
    SUM(CAST(cents AS DECIMAL(38,0))
        * CAST(round(CAST(ln(
            CAST(CAST(cents AS DECIMAL(38,0)) * n AS DOUBLE)
            / CAST(sx AS DOUBLE)
          ) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))) AS c_total,
    SUM(CAST(cents AS DECIMAL(38,0))
        * CAST(round(CAST(ln(
            CAST(CAST(cents AS DECIMAL(38,0)) * ng AS DOUBLE)
            / CAST(sg AS DOUBLE)
          ) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))) AS c_within
  FROM gs JOIN grp USING (g), tot
),
grpc AS (
  SELECT SUM(sg
        * CAST(round(CAST(ln(
            CAST(sg * n AS DOUBLE) / CAST(sx * ng AS DOUBLE)
          ) AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))) AS c_between
  FROM grp, tot
)
SELECT CAST(n AS BIGINT) AS n_customers,
       n_groups,
       CAST(round(CAST(CAST(c_total AS DOUBLE) / CAST(sx AS DOUBLE)
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS theil_total,
       CAST(round(CAST(CAST(c_between AS DOUBLE) / CAST(sx AS DOUBLE)
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS theil_between,
       CAST(round(CAST(CAST(c_within AS DOUBLE) / CAST(sx AS DOUBLE)
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS theil_within
FROM tot, rowc, grpc
""",
)
def nation_spend_theil_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Between/within-nation decomposition of the customer-spend Theil
    index — the property the customer_spend_theil docstring teases:
    unlike Gini, Theil splits ADDITIVELY into "inequality of nation
    means" + "spend-weighted inequality inside nations", the standard
    where-does-the-inequality-live diagnostic. Kernel:
    :func:`.functions.stats.theil_decomposition` (additivity to ~1e-6
    through the rounding hops, float-mirror parity, and the
    all-within / all-between degenerate cases are property-tested in
    tests/test_r6_kernels.py). Scale: one row-level join of customers
    to the 25-row nation sums (AQE-broadcast), one 1-row total
    broadcast, three bounded aggregations — no window, no self-join."""
    from ..functions.stats import theil_decomposition

    o = _spend(spark, sf_dir)
    c = fx._read(spark, sf_dir, "customer")
    n = fx._read(spark, sf_dir, "nation")
    gs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("g"), "cents")
    )
    return theil_decomposition(gs, "g", "cents").select(
        F.col("n").alias("n_customers"),
        "n_groups",
        "theil_total",
        "theil_between",
        "theil_within",
    )


@_register(
    "customer_spend_atkinson",
    f"""
WITH {_SPEND_CTE.strip()},
agg AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CASE WHEN cents <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
         SUM(CASE WHEN cents > 0 THEN
               CAST(round(CAST(ln(CAST(cents AS DOUBLE)) AS DECIMAL(38,12)),
                          6) AS DECIMAL(38,6))
             ELSE CAST(0 AS DECIMAL(38,6)) END) AS slog
  FROM spend
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CASE WHEN sx <= 0 THEN NULL
            WHEN nz > 0 THEN 1.0
            ELSE CAST(round(CAST(
                   1.0 - exp(CAST(slog AS DOUBLE) / CAST(n AS DOUBLE))
                         * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE)
                 AS DECIMAL(30,12)), 6) AS DOUBLE)
       END AS atkinson
FROM agg
""",
)
def customer_spend_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (aversion ε=1) of customer lifetime
    spend — the welfare-theoretic third leg beside the rank-based Gini
    and entropy-based Theil: A = 1 − geomean/mean reads directly as
    "society would give up A% of total spend to equalize it". Kernel:
    :func:`.functions.stats.atkinson_index` — the ln-micros discipline
    (each ln of an exact integer, decimal-rounded at 6, summed
    exactly), zero-holder → exactly 1, all-zero → NULL, [0,1) bound and
    float-mirror parity property-tested. Scale: one hash aggregation,
    one 1-row select — the cheapest query in the inequality family."""
    from ..functions.stats import atkinson_index

    return atkinson_index(_spend(spark, sf_dir), "cents").select(
        F.col("n").alias("n_customers"), "atkinson"
    )


@_register(
    "lineitem_revenue_mwu",
    """
WITH vals AS (
  SELECT CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v,
         year(l_shipdate) <= 1997 AS a
  FROM lineitem
),
cnt AS (
  SELECT v,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS ca,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS DECIMAL(38,0)) AS cb
  FROM vals GROUP BY 1
),
run AS (
  SELECT ca, cb,
         SUM(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb
  FROM cnt
)
SELECT CAST(SUM(ca) AS BIGINT) AS n_early,
       CAST(SUM(cb) AS BIGINT) AS n_late,
       CAST(SUM(CAST(ca * (2 * (cumb - cb) + cb) AS DECIMAL(38,0)))
            AS BIGINT) AS u2_early
FROM run
""",
)
def lineitem_revenue_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann–Whitney rank-sum statistic (doubled, tie-split)
    between early (ship year ≤ 1997) and late per-line revenue — the
    rank-based drift twin beside lineitem_revenue_ks on the SAME
    populations: KS reacts to any ecdf gap, U to stochastic dominance
    (u2/2 ≈ n_early·n_late/2 means no direction). Kernel:
    :func:`.functions.stats.mann_whitney_u2` — one hash aggregation on
    value + one exact DECIMAL prefix sum, all integer arithmetic
    (brute-force pair-count parity and the u2_a + u2_b = 2·na·nb
    complement identity are property-tested). Scale: identical plan
    family to the KS query — per-value counts bound every stage after
    the first aggregation."""
    from ..functions.stats import mann_whitney_u2

    li = fx._read(spark, sf_dir, "lineitem")
    vals = li.select(
        (
            F.round(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(30,6)"),
                2,
            )
            * 100
        )
        .cast("bigint")
        .alias("v"),
        (F.year("l_shipdate") <= 1997).alias("a"),
    )
    return mann_whitney_u2(vals, "v", "a").select(
        F.col("n_a").alias("n_early"),
        F.col("n_b").alias("n_late"),
        F.col("u2_a").alias("u2_early"),
    )


@_register(
    "daily_revenue_cusum_days",
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) * 100
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
params AS (
  SELECT CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS HUGEINT)
           // CAST(COUNT(*) AS HUGEINT) AS mu,
         (CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS HUGEINT)
           // CAST(COUNT(*) AS HUGEINT)) // 20 AS k
  FROM daily
),
run AS (
  SELECT d,
         SUM(CAST(cents AS HUGEINT) - mu - k)
           OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM daily, params
),
c AS (
  SELECT d,
         s - LEAST(MIN(s) OVER (ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW),
                   0) AS cusum
  FROM run
)
SELECT d, CAST(cusum AS BIGINT) AS excess_cents
FROM c, params
WHERE cusum > mu
ORDER BY d
""",
)
def daily_revenue_cusum_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-detection over daily order revenue: the days where
    the one-sided cumulative sum C_i = max(0, C_{i-1} + x_i − μ − k)
    exceeds one average day's revenue (h = μ, allowance k = μ/20) —
    the classic sequential drift alarm that catches a sustained small
    shift long before any single-day outlier screen
    (store_revenue_anomaly_days flags spikes; CUSUM flags regime
    changes). Kernel: :func:`.functions.stats.with_cusum` via the
    prefix identity C = S − min(0, min-prefix S) — an exact DECIMAL
    running sum plus a running MIN (:func:`.functions.ordered.
    with_running_min`), both two-level range-partitioned, no one-task
    window; μ and k are exact integer divisions broadcast as a 1-row
    relation. Property-tested against the textbook recursion in
    tests/test_r6_kernels.py. Scale: stages after the daily rollup are
    bounded by distinct days."""
    from ..functions.stats import with_cusum

    o = fx._read(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        (F.round(F.sum(F.col("o_totalprice").cast("decimal(30,6)")), 2) * 100)
        .cast("bigint")
        .alias("cents")
    )
    params = daily.agg(
        F.expr(
            "CAST(SUM(CAST(cents AS DECIMAL(38,0)))"
            " div COUNT(*) AS DECIMAL(38,0))"
        ).alias("mu")
    ).select("mu", F.expr("CAST(mu div 20 AS DECIMAL(38,0))").alias("k"))
    dev = daily.crossJoin(F.broadcast(params)).select(
        "d",
        "mu",
        (
            F.col("cents").cast("decimal(38,0)") - F.col("mu") - F.col("k")
        )
        .cast("decimal(38,0)")
        .alias("dev"),
    )
    out = with_cusum(dev, [F.col("d")], "dev", cusum_col="cusum")
    return (
        out.where(F.col("cusum") > F.col("mu"))
        .select("d", F.col("cusum").cast("bigint").alias("excess_cents"))
        .orderBy("d")
    )


@_register(
    "segment_second_order_km",
    """
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS dd,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
           AS rn
  FROM orders
),
subj AS (
  SELECT o_custkey,
         MIN(CASE WHEN rn = 1 THEN dd END) AS d1,
         MIN(CASE WHEN rn = 2 THEN dd END) AS d2
  FROM ranked GROUP BY 1
),
seg AS (
  SELECT c_mktsegment AS segment, d1, d2
  FROM subj JOIN customer ON o_custkey = c_custkey
),
mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS md FROM orders),
life AS (
  SELECT segment,
         CASE WHEN d2 IS NOT NULL THEN datediff('day', d1, d2)
              ELSE datediff('day', d1, md) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM seg, mx
),
per_t AS (
  SELECT segment, t, CAST(SUM(ev) AS DECIMAL(38,0)) AS d,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM life GROUP BY 1, 2
),
risk AS (
  SELECT segment, t, d, c,
         SUM(c) OVER (PARTITION BY segment ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n
  FROM per_t
),
ev AS (
  SELECT segment, t, d, n,
         CASE WHEN n > d THEN
           CAST(round(CAST(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))
                           AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
         ELSE CAST(0 AS DECIMAL(38,6)) END AS lf,
         CASE WHEN n > d THEN
           CAST(round(CAST(CAST(d AS DOUBLE)
                           / CAST(n * (n - d) AS DOUBLE)
                           AS DECIMAL(38,18)), 12) AS DECIMAL(38,12))
         ELSE CAST(0 AS DECIMAL(38,12)) END AS gw
  FROM risk WHERE d > 0
),
curve AS (
  SELECT segment, t, d, n,
         SUM(lf) OVER (PARTITION BY segment ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(gw) OVER (PARTITION BY segment ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gcum
  FROM ev
)
SELECT segment,
       CAST(t AS BIGINT) AS t_days,
       CAST(n AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN n = d THEN 0.0
            ELSE CAST(round(CAST(exp(CAST(cum AS DOUBLE))
                                 AS DECIMAL(30,12)), 6) AS DOUBLE)
       END AS survival,
       CASE WHEN n = d THEN 0.0
            ELSE CAST(round(CAST(exp(CAST(cum AS DOUBLE))
                                 * sqrt(CAST(gcum AS DOUBLE))
                                 AS DECIMAL(30,12)), 6) AS DOUBLE)
       END AS greenwood_se
FROM curve ORDER BY segment, t_days
""",
)
def segment_second_order_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Kaplan–Meier: the time-to-second-order survival curve
    of customer_second_order_km split by market segment, with Greenwood
    standard errors — "do BUILDING customers reorder faster than
    MACHINERY?" answered with censoring-correct curves AND confidence
    widths instead of naive gap ecdfs. Kernel:
    :func:`.functions.stats.kaplan_meier_by` — the segment key
    partitions every window (real partitions, not the banned
    empty-partitionBy shape), so no two-level machinery is needed;
    per-group parity with the unstratified kernel and the Greenwood
    float mirror are unit-tested in tests/test_r6_kernels.py. Scale:
    one per-customer window, one broadcast of the 1-row max date, one
    (segment, duration) aggregation — all later stages bounded by
    segments × distinct durations."""
    from ..functions.stats import kaplan_meier_by

    o = fx._read(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("dd"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("dd", "o_orderkey")
    ranked = o.select("o_custkey", "dd", F.row_number().over(w).alias("rn"))
    subj = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dd"))).alias("d1"),
        F.min(F.when(F.col("rn") == 2, F.col("dd"))).alias("d2"),
    )
    c = fx._read(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    seg = subj.join(c, subj.o_custkey == c.c_custkey)
    mx = o.agg(F.max("dd").alias("md"))
    life = seg.crossJoin(F.broadcast(mx)).select(
        "segment",
        F.when(F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1")))
        .otherwise(F.datediff(F.col("md"), F.col("d1")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "ev"
        ),
    )
    return kaplan_meier_by(life, ["segment"])


@_register(
    "part_abc_migration_matrix",
    """
WITH d AS (
  SELECT l_partkey, year(l_shipdate) AS yr,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net
  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
),
r96 AS (
  SELECT l_partkey,
         CAST(CAST(round(SUM(net), 2) * 100 AS BIGINT) AS DECIMAL(38,0))
           AS rc
  FROM d WHERE yr = 1996 GROUP BY 1
),
a96 AS (
  SELECT l_partkey,
         CASE WHEN cum * 5 <= total * 4 THEN 'A'
              WHEN cum * 20 <= total * 19 THEN 'B'
              ELSE 'C' END AS class_1996
  FROM (
    SELECT l_partkey,
           SUM(rc) OVER (ORDER BY rc DESC, l_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum,
           SUM(rc) OVER () AS total
    FROM r96
  ) x
),
r97 AS (
  SELECT l_partkey,
         CAST(CAST(round(SUM(net), 2) * 100 AS BIGINT) AS DECIMAL(38,0))
           AS rc
  FROM d WHERE yr = 1997 GROUP BY 1
),
a97 AS (
  SELECT l_partkey, rc,
         CASE WHEN cum * 5 <= total * 4 THEN 'A'
              WHEN cum * 20 <= total * 19 THEN 'B'
              ELSE 'C' END AS class_1997
  FROM (
    SELECT l_partkey, rc,
           SUM(rc) OVER (ORDER BY rc DESC, l_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum,
           SUM(rc) OVER () AS total
    FROM r97
  ) x
)
SELECT COALESCE(class_1996, 'N') AS class_1996,
       COALESCE(class_1997, 'N') AS class_1997,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(COALESCE(rc, 0)) AS BIGINT) AS rev97_cents
FROM a96 FULL JOIN a97 USING (l_partkey)
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def part_abc_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year ABC class migration: every part classified by the
    1996 revenue Pareto AND independently by the 1997 one, cross-
    tabulated — the assortment-churn matrix planners read as "which A
    parts fell to C, what's newly A" ('N' = not traded that year).
    Reuses part_demand_abc_xyz's exact machinery per year: cents in
    DECIMAL(38,0), the two-level exact prefix sum over (revenue DESC,
    partkey) via :func:`.functions.ordered.with_running_sum`, and the
    division-free multiply-form thresholds (cum·5 ≤ total·4 is A,
    cum·20 ≤ total·19 is B). Scale: one conditional scan of lineitem
    per year (filter-pruned), |parts|-bounded running sums, a
    |parts|-sized full outer join, and a ≤16-cell output."""
    from ..functions.ordered import with_running_sum

    li = fx._read(spark, sf_dir, "lineitem")
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )

    def classes(year: int, keep_rc: bool) -> DataFrame:
        revp = (
            li.where(F.year("l_shipdate") == year)
            .groupBy("l_partkey")
            .agg(
                (F.round(F.sum(net), 2) * 100)
                .cast("bigint")
                .cast("decimal(38,0)")
                .alias("rc")
            )
        )
        run, total = with_running_sum(
            revp, [F.desc("rc"), F.asc("l_partkey")], "rc", running_col="cum"
        )
        t = F.lit(total).cast("decimal(38,0)")
        cls = (
            F.when(F.col("cum") * 5 <= t * 4, "A")
            .when(F.col("cum") * 20 <= t * 19, "B")
            .otherwise("C")
            .alias(f"class_{year}")
        )
        cols = ["l_partkey", cls] + (["rc"] if keep_rc else [])
        return run.select(*cols)

    a96 = classes(1996, keep_rc=False)
    a97 = classes(1997, keep_rc=True)
    return (
        a96.join(a97, "l_partkey", "full_outer")
        .groupBy(
            F.coalesce(F.col("class_1996"), F.lit("N")).alias("class_1996"),
            F.coalesce(F.col("class_1997"), F.lit("N")).alias("class_1997"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.coalesce(F.col("rc"), F.lit(0).cast("decimal(38,0)")))
            .cast("bigint")
            .alias("rev97_cents"),
        )
        .orderBy("class_1996", "class_1997")
    )


@_register(
    "part_price_index_chained",
    """
WITH per AS (
  SELECT l_partkey,
         CAST(round(SUM(CASE WHEN year(l_shipdate) = 1996
                        THEN CAST(l_extendedprice AS DECIMAL(30,6)) END), 2)
              * 100 AS BIGINT) AS e0,
         CAST(round(SUM(CASE WHEN year(l_shipdate) = 1997
                        THEN CAST(l_extendedprice AS DECIMAL(30,6)) END), 2)
              * 100 AS BIGINT) AS e1,
         CAST(round(SUM(CASE WHEN year(l_shipdate) = 1998
                        THEN CAST(l_extendedprice AS DECIMAL(30,6)) END), 2)
              * 100 AS BIGINT) AS e2,
         CAST(SUM(CASE WHEN year(l_shipdate) = 1996
                  THEN CAST(l_quantity AS DECIMAL(30,6)) END) AS BIGINT) AS q0,
         CAST(SUM(CASE WHEN year(l_shipdate) = 1997
                  THEN CAST(l_quantity AS DECIMAL(30,6)) END) AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN year(l_shipdate) = 1998
                  THEN CAST(l_quantity AS DECIMAL(30,6)) END) AS BIGINT) AS q2
  FROM lineitem GROUP BY 1
),
h AS (
  SELECT CAST(e0 AS HUGEINT) e0, CAST(e1 AS HUGEINT) e1,
         CAST(e2 AS HUGEINT) e2, CAST(q0 AS HUGEINT) q0,
         CAST(q1 AS HUGEINT) q1, CAST(q2 AS HUGEINT) q2,
         (q0 > 0 AND q1 > 0) AS k01,
         (q1 > 0 AND q2 > 0) AS k12,
         (q0 > 0 AND q2 > 0) AS k02
  FROM per
),
s AS (
  SELECT
    CAST(SUM(CASE WHEN k01 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_01,
    CAST(SUM(CASE WHEN k12 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_12,
    CAST(SUM(CASE WHEN k02 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_02,
    SUM(CASE WHEN k01 THEN e0 END) AS se0_01,
    SUM(CASE WHEN k01 THEN (e1 * q0) // NULLIF(q1, 0) END) AS sl1,
    SUM(CASE WHEN k12 THEN e1 END) AS se1_12,
    SUM(CASE WHEN k12 THEN (e2 * q1) // NULLIF(q2, 0) END) AS sl2,
    SUM(CASE WHEN k02 THEN e0 END) AS se0_02,
    SUM(CASE WHEN k02 THEN (e2 * q0) // NULLIF(q2, 0) END) AS sld
  FROM h
),
p AS (
  SELECT n_parts_01, n_parts_12, n_parts_02,
         (sl1 * 1000000) // se0_01 AS l1,
         (sl2 * 1000000) // se1_12 AS l2,
         (sld * 1000000) // se0_02 AS ld
  FROM s
)
SELECT n_parts_01, n_parts_12, n_parts_02,
       CAST(l1 AS BIGINT) AS laspeyres_9697_ppm,
       CAST(l2 AS BIGINT) AS laspeyres_9798_ppm,
       CAST((l1 * l2) // 1000000 AS BIGINT) AS chained_9698_ppm,
       CAST(ld AS BIGINT) AS direct_9698_ppm
FROM p
""",
)
def part_price_index_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained vs direct Laspeyres 1996→1998: the two-link chain
    L(96→97)·L(97→98)/1e6 beside the direct L(96→98) — the pair that
    exposes CHAIN DRIFT, the index-number effect basket updates
    introduce (and the reason statistical agencies chain annually).
    Same exact arithmetic as part_price_index: per-part cross-period
    basket terms as floored integer division of exact cents/quantities
    (Spark decimal ``div`` == DuckDB HUGEINT ``//``), each link an
    exact ppm ratio, the chain product an exact integer division by
    1e6. Pair-eligibility (q>0 in both periods) is evaluated per link,
    so the three baskets differ — that asymmetry IS the measurement.
    Scale: ONE conditional-aggregate pass over lineitem keyed by part,
    then a 1-row reduction — no joins, no second scan (the three kept-
    sets are CASE branches over the same per-part row, with NULLIF
    guards so no division ever sees an empty period)."""
    li = fx._read(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")

    def esum(y: int, alias: str):
        return (
            (
                F.round(
                    F.sum(
                        F.when(
                            yr == y,
                            F.col("l_extendedprice").cast("decimal(30,6)"),
                        )
                    ),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias(alias)
        )

    def qsum(y: int, alias: str):
        return (
            F.sum(
                F.when(yr == y, F.col("l_quantity").cast("decimal(30,6)"))
            )
            .cast("bigint")
            .alias(alias)
        )

    per = li.groupBy("l_partkey").agg(
        esum(1996, "e0"),
        esum(1997, "e1"),
        esum(1998, "e2"),
        qsum(1996, "q0"),
        qsum(1997, "q1"),
        qsum(1998, "q2"),
    )
    h = per.select(
        *[
            F.col(c).cast("decimal(38,0)").alias(c)
            for c in ["e0", "e1", "e2", "q0", "q1", "q2"]
        ]
    ).select(
        "*",
        ((F.col("q0") > 0) & (F.col("q1") > 0)).alias("k01"),
        ((F.col("q1") > 0) & (F.col("q2") > 0)).alias("k12"),
        ((F.col("q0") > 0) & (F.col("q2") > 0)).alias("k02"),
    )
    s = h.agg(
        F.sum(F.when(F.col("k01"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_parts_01"),
        F.sum(F.when(F.col("k12"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_parts_12"),
        F.sum(F.when(F.col("k02"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_parts_02"),
        F.sum(F.when(F.col("k01"), F.col("e0"))).alias("se0_01"),
        F.sum(
            F.when(F.col("k01"), F.expr("(e1 * q0) div NULLIF(q1, 0)"))
        ).alias("sl1"),
        F.sum(F.when(F.col("k12"), F.col("e1"))).alias("se1_12"),
        F.sum(
            F.when(F.col("k12"), F.expr("(e2 * q1) div NULLIF(q2, 0)"))
        ).alias("sl2"),
        F.sum(F.when(F.col("k02"), F.col("e0"))).alias("se0_02"),
        F.sum(
            F.when(F.col("k02"), F.expr("(e2 * q0) div NULLIF(q2, 0)"))
        ).alias("sld"),
    )
    return s.select(
        "n_parts_01",
        "n_parts_12",
        "n_parts_02",
        F.expr("CAST((sl1 * 1000000) div se0_01 AS DECIMAL(38,0))").alias(
            "l1"
        ),
        F.expr("CAST((sl2 * 1000000) div se1_12 AS DECIMAL(38,0))").alias(
            "l2"
        ),
        F.expr("CAST((sld * 1000000) div se0_02 AS DECIMAL(38,0))").alias(
            "ld"
        ),
    ).select(
        "n_parts_01",
        "n_parts_12",
        "n_parts_02",
        F.col("l1").cast("bigint").alias("laspeyres_9697_ppm"),
        F.col("l2").cast("bigint").alias("laspeyres_9798_ppm"),
        F.expr("CAST((l1 * l2) div 1000000 AS BIGINT)").alias(
            "chained_9698_ppm"
        ),
        F.col("ld").cast("bigint").alias("direct_9698_ppm"),
    )


@_register(
    "segment_lapsed_customers",
    """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders
),
gaps AS (
  SELECT o_custkey, datediff('day', prev_d, d) AS gap
  FROM (
    SELECT o_custkey, d,
           lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
             AS prev_d
    FROM o
  ) x WHERE prev_d IS NOT NULL
),
r AS (
  SELECT o_custkey, gap,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY gap) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n
  FROM gaps
),
cad AS (
  SELECT o_custkey,
         CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
           AS median_gap_days
  FROM r WHERE n >= 2 GROUP BY o_custkey, n
),
last_o AS (
  SELECT o_custkey, MAX(d) AS last_d FROM o GROUP BY 1
),
mx AS (SELECT MAX(d) AS md FROM o)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_cadenced,
       CAST(SUM(CASE WHEN datediff('day', last_d, md)
                          > 3 * median_gap_days
                THEN 1 ELSE 0 END) AS BIGINT) AS n_lapsed
FROM cad
JOIN last_o USING (o_custkey)
JOIN customer ON o_custkey = c_custkey
CROSS JOIN mx
GROUP BY 1 ORDER BY 1
""",
)
def segment_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lapsing-customer counts per market segment at the churn cutoff
    the customer_order_cadence docstring names: a customer whose
    days-since-last-order exceed 3× their OWN median reorder gap is
    lapsing — a personalized-recency screen, not a global-threshold
    one. Denominator = customers with an estimable cadence (≥ 2 gaps).
    Reuses :func:`..operators.behavior.consecutive_gap_stats`
    (rank-pinned lower median, deterministic same-day zero gaps); the
    recency anchor is the dataset max date broadcast as a 1-row
    relation. Scale: the cadence windows partition by customer (one
    shuffle), the segment rollup is 5 rows; the customer join is
    AQE-broadcast at fixture scale and a plain hash join at 100 TB."""
    o = fx._read(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )
    cad = bh.consecutive_gap_stats(o, "o_custkey", "d", "o_orderkey").select(
        "o_custkey", "median_gap_days"
    )
    last_o = o.groupBy("o_custkey").agg(F.max("d").alias("last_d"))
    mx = o.agg(F.max("d").alias("md"))
    c = fx._read(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    j = (
        cad.join(last_o, "o_custkey")
        .join(c, cad.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(mx))
    )
    lapsed = F.datediff(F.col("md"), F.col("last_d")) > 3 * F.col(
        "median_gap_days"
    )
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cadenced"),
            F.sum(F.when(lapsed, 1).otherwise(0))
            .cast("bigint")
            .alias("n_lapsed"),
        )
        .orderBy("segment")
    )


@_register(
    "stockout_streak_histogram",
    f"""
WITH {fx.INVENTORY_CTE.strip()},
f AS (
  SELECT store_key, prod_key,
         datediff('day', DATE '1995-01-01', cal_dt) AS didx
  FROM inventory WHERE out_of_stock_flg = 1
),
g AS (
  SELECT store_key, prod_key,
         didx - ROW_NUMBER() OVER (PARTITION BY store_key, prod_key
                                   ORDER BY didx) AS grp
  FROM f
),
runs AS (
  SELECT store_key, prod_key, CAST(COUNT(*) AS BIGINT) AS len
  FROM g GROUP BY store_key, prod_key, grp
),
mx AS (
  SELECT store_key, prod_key, MAX(len) AS ms FROM runs GROUP BY 1, 2
)
SELECT CAST(ms AS BIGINT) AS streak_days,
       CAST(COUNT(*) AS BIGINT) AS n_store_parts
FROM mx GROUP BY 1 ORDER BY 1
""",
)
def stockout_streak_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stockout persistence: (store, part) pairs histogrammed by their
    LONGEST run of consecutive flagged days — one long outage is a
    supplier problem, many short ones a reorder-point problem, and the
    flag-sum queries (out_of_stock_week) cannot tell them apart.
    Gaps-and-islands (user_weekly_streaks' kernel pattern) on the exact
    DAY index: didx − row_number is constant along a consecutive run;
    all integer, the only window partitions by (store, part). Scale:
    one filter-pruned pass over the daily inventory relation, two hash
    aggregations, bounded histogram output."""
    inv = (
        fx.inventory(spark, sf_dir)
        .where(F.col("out_of_stock_flg") == 1)
        .select(
            "store_key",
            "prod_key",
            F.datediff(
                F.col("cal_dt"), F.lit("1995-01-01").cast("date")
            ).alias("didx"),
        )
    )
    w = Window.partitionBy("store_key", "prod_key").orderBy("didx")
    runs = (
        inv.select(
            "store_key",
            "prod_key",
            (F.col("didx") - F.row_number().over(w)).alias("grp"),
        )
        .groupBy("store_key", "prod_key", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    mx = runs.groupBy("store_key", "prod_key").agg(
        F.max("len").alias("ms")
    )
    return (
        mx.groupBy(F.col("ms").cast("bigint").alias("streak_days"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_store_parts"))
        .orderBy("streak_days")
    )


@_register(
    "region_hhi_trend",
    """
WITH rev AS (
  SELECT r_name, year(l_shipdate) AS yr, s_suppkey,
         CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,6))), 2) * 100 AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2, 3
)
SELECT r_name, CAST(yr AS INTEGER) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
                 * 1000000 AS HUGEINT)
            // NULLIF(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS HUGEINT)
                      * CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS HUGEINT), 0)
            AS BIGINT) AS hhi_ppm
FROM rev GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def region_hhi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration TREND: the supplier_revenue_hhi scalar per
    (region, ship year) — is each regional market concentrating or
    fragmenting over time? Same division-free kernel
    (:func:`.functions.stats.hhi_ppm`, Σx²·1e6 div (Σx)², one hash
    aggregation per group, NULL on zero-revenue groups); the year
    simply joins the grouping key, so the plan is identical to the
    single-year query with a wider (and still tiny) output. Scale:
    lineitem⋈supplier shuffles on suppkey, nation/region broadcast,
    the trend table is |regions|×|years| rows."""
    from ..functions.stats import hhi_ppm

    li = fx._read(spark, sf_dir, "lineitem")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    re_ = fx._read(spark, sf_dir, "region")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
        .groupBy(
            "r_name",
            F.year("l_shipdate").cast("int").alias("yr"),
            "s_suppkey",
        )
        .agg(
            (
                F.round(
                    F.sum(
                        (
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                        ).cast("decimal(30,6)")
                    ),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    return (
        hhi_ppm(rev, ["r_name", "yr"], "cents")
        .select(
            "r_name",
            "yr",
            F.col("n_units").alias("n_suppliers"),
            "hhi_ppm",
        )
        .orderBy("r_name", "yr")
    )


@_register(
    "segment_median_survival",
    """
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS dd,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
           AS rn
  FROM orders
),
subj AS (
  SELECT o_custkey,
         MIN(CASE WHEN rn = 1 THEN dd END) AS d1,
         MIN(CASE WHEN rn = 2 THEN dd END) AS d2
  FROM ranked GROUP BY 1
),
seg AS (
  SELECT c_mktsegment AS segment, d1, d2
  FROM subj JOIN customer ON o_custkey = c_custkey
),
mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS md FROM orders),
life AS (
  SELECT segment,
         CASE WHEN d2 IS NOT NULL THEN datediff('day', d1, d2)
              ELSE datediff('day', d1, md) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM seg, mx
),
per_t AS (
  SELECT segment, t, CAST(SUM(ev) AS DECIMAL(38,0)) AS d,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM life GROUP BY 1, 2
),
risk AS (
  SELECT segment, t, d, c,
         SUM(c) OVER (PARTITION BY segment ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n
  FROM per_t
),
ev AS (
  SELECT segment, t, d, n,
         CASE WHEN n > d THEN
           CAST(round(CAST(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))
                           AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
         ELSE CAST(0 AS DECIMAL(38,6)) END AS lf
  FROM risk WHERE d > 0
),
curve AS (
  SELECT segment, t, d, n,
         SUM(lf) OVER (PARTITION BY segment ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM ev
),
surv AS (
  SELECT segment, t,
         CASE WHEN n = d THEN 0.0
              ELSE CAST(round(CAST(exp(CAST(cum AS DOUBLE))
                                   AS DECIMAL(30,12)), 6) AS DOUBLE)
         END AS survival
  FROM curve
)
SELECT segment, CAST(MIN(t) AS BIGINT) AS median_t_days
FROM surv WHERE survival <= 0.5
GROUP BY 1 ORDER BY 1
""",
)
def segment_median_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median time-to-second-order per market segment: the first event
    time where the stratified KM curve (segment_second_order_km) drops
    to ≤ 0.5 — THE one-number summary of repeat-purchase speed that is
    censoring-correct (a naive median of observed gaps is biased low
    because never-reordering customers are excluded rather than
    censored). Kernel: :func:`.functions.stats.km_median_survival` over
    :func:`.functions.stats.kaplan_meier_by` — rank-pinned via MIN,
    tie-stable; segments whose curve never reaches 0.5 drop out (none
    do at the fixture scales). Plan adds one 5-row aggregation to the
    stratified-KM plan."""
    from ..functions.stats import kaplan_meier_by, km_median_survival

    o = fx._read(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("dd"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("dd", "o_orderkey")
    ranked = o.select("o_custkey", "dd", F.row_number().over(w).alias("rn"))
    subj = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dd"))).alias("d1"),
        F.min(F.when(F.col("rn") == 2, F.col("dd"))).alias("d2"),
    )
    c = fx._read(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    seg = subj.join(c, subj.o_custkey == c.c_custkey)
    mx = o.agg(F.max("dd").alias("md"))
    life = seg.crossJoin(F.broadcast(mx)).select(
        "segment",
        F.when(F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1")))
        .otherwise(F.datediff(F.col("md"), F.col("d1")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "ev"
        ),
    )
    return km_median_survival(
        kaplan_meier_by(life, ["segment"]), ["segment"]
    ).orderBy("segment")


@_register(
    "nation_revenue_ks",
    """
WITH vals AS (
  SELECT n_name AS g,
         CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v,
         year(l_shipdate) <= 1997 AS a
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
),
cnt AS (
  SELECT g, v,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS ca,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS DECIMAL(38,0)) AS cb
  FROM vals GROUP BY 1, 2
),
ann AS (
  SELECT g, v, ca, cb,
         SUM(ca) OVER (PARTITION BY g) AS na,
         SUM(cb) OVER (PARTITION BY g) AS nb
  FROM cnt
),
run AS (
  SELECT g, v, na, nb,
         SUM(ca * nb - cb * na)
           OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rd
  FROM ann
),
mg AS (
  SELECT g, na, nb, MAX(abs(rd)) AS m FROM run GROUP BY 1, 2, 3
),
at AS (
  SELECT run.g, CAST(MIN(v) AS BIGINT) AS at_cents
  FROM run JOIN mg ON run.g = mg.g AND abs(run.rd) = mg.m
  GROUP BY 1
)
SELECT mg.g AS nation,
       CAST(na AS BIGINT) AS n_early,
       CAST(nb AS BIGINT) AS n_late,
       CAST(CAST(m * 1000000 AS HUGEINT)
            // NULLIF(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT), 0)
            AS BIGINT) AS ks_ppm,
       at_cents
FROM mg JOIN at ON mg.g = at.g
ORDER BY nation
""",
)
def nation_revenue_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation early-vs-late revenue drift: the exact two-sample KS
    statistic of lineitem_revenue_ks stratified by supplier nation —
    which markets' price distributions actually moved, not just the
    global aggregate. Kernel: :func:`.functions.stats.ks_statistic_by`
    — the nation key partitions every window (group totals on a
    whole-partition frame, the ecdf-gap prefix sum on a plain
    partitioned cumulative window), so per-task state is one nation's
    distinct cents values and no two-level machinery is needed;
    one-sided groups yield NULL via NULLIF. Per-group parity with the
    unstratified kernel is unit-tested in tests/test_r6_kernels.py.
    Scale: lineitem⋈supplier shuffles on suppkey, nation broadcast,
    then everything is bounded by nations × distinct values."""
    from ..functions.stats import ks_statistic_by

    li = fx._read(spark, sf_dir, "lineitem")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    vals = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select(
            F.col("n_name").alias("g"),
            (
                F.round(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,6)"),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias("v"),
            (F.year("l_shipdate") <= 1997).alias("a"),
        )
    )
    return (
        ks_statistic_by(vals, ["g"], "v", "a")
        .select(
            F.col("g").alias("nation"),
            F.col("n_a").alias("n_early"),
            F.col("n_b").alias("n_late"),
            "ks_ppm",
            F.col("at_value").alias("at_cents"),
        )
        .orderBy("nation")
    )


@_register(
    "store_revenue_cusum_breaches",
    """
WITH daily AS (
  SELECT l_suppkey AS store_key, CAST(l_shipdate AS DATE) AS d,
         CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,6))), 2) * 100 AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2
),
ann AS (
  SELECT store_key, d, cents,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)))
                OVER (PARTITION BY store_key) AS HUGEINT)
           // CAST(COUNT(*) OVER (PARTITION BY store_key) AS HUGEINT) AS mu
  FROM daily
),
dev AS (
  SELECT store_key, d, mu,
         CAST(cents AS HUGEINT) - mu - (mu // 20) AS dv
  FROM ann
),
run AS (
  SELECT store_key, d, mu,
         SUM(dv) OVER (PARTITION BY store_key ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s
  FROM dev
),
c AS (
  SELECT store_key, d, mu,
         s - LEAST(MIN(s) OVER (PARTITION BY store_key ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW),
                   0) AS cusum
  FROM run
)
SELECT CAST(store_key AS BIGINT) AS store_key,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN cusum > mu THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach_days,
       CAST(COALESCE(MAX(CASE WHEN cusum > mu THEN cusum END), 0)
            AS BIGINT) AS max_excess_cents
FROM c GROUP BY 1 ORDER BY 1
""",
)
def store_revenue_cusum_breaches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-store CUSUM regime-change screen: for each store (supplier),
    the count of days where the one-sided cumulative deviation from the
    store's OWN mean daily revenue exceeds one average day (h = μ,
    allowance k = μ/20), plus the worst excess — the stratified twin of
    daily_revenue_cusum_days that localizes WHICH stores shifted, while
    the per-store baseline keeps big and small stores comparable.
    Kernel: :func:`.functions.stats.with_cusum_by` — both prefix passes
    (running sum, running min) ride ONE (store, day) partitioned
    window shuffle; μ and k are exact integer divisions joined back on
    the store key. Per-group parity with the textbook recursion is
    property-tested in tests/test_r6_kernels.py. Scale: everything
    after the daily rollup is bounded by stores × days, and per-task
    window state is one store's day series."""
    from ..functions.stats import with_cusum_by

    li = fx._read(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_suppkey").alias("store_key"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(
        (
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,6)")
                ),
                2,
            )
            * 100
        )
        .cast("bigint")
        .alias("cents")
    )
    # per-store mu as a whole-partition window (the allowed frame class)
    # over the SAME store partitioning the CUSUM windows use: one
    # exchange feeds mu, dev, and both prefix passes — the groupBy+join
    # alternative plans a second scan of lineitem (no exchange reuse
    # across the join's two aggregated subtrees; verified in EXPLAIN)
    wg = Window.partitionBy("store_key")
    ann = daily.withColumn(
        "tot", F.sum(F.col("cents").cast("decimal(38,0)")).over(wg)
    ).withColumn("nd", F.count(F.lit(1)).over(wg))
    dev = ann.select(
        "store_key",
        "d",
        "cents",
        F.expr("CAST(tot div nd AS DECIMAL(38,0))").alias("mu"),
    ).select(
        "store_key",
        "d",
        "mu",
        (
            F.col("cents").cast("decimal(38,0)")
            - F.col("mu")
            - F.expr("mu div 20")
        )
        .cast("decimal(38,0)")
        .alias("dev"),
    )
    c = with_cusum_by(dev, ["store_key"], [F.col("d")], "dev")
    breach = F.col("cusum") > F.col("mu")
    return (
        c.groupBy(F.col("store_key").cast("bigint").alias("store_key"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.when(breach, 1).otherwise(0))
            .cast("bigint")
            .alias("n_breach_days"),
            F.coalesce(
                F.max(F.when(breach, F.col("cusum"))),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("bigint")
            .alias("max_excess_cents"),
        )
        .orderBy("store_key")
    )


@_register(
    "nation_revenue_mwu",
    """
WITH vals AS (
  SELECT n_name AS g,
         CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v,
         year(l_shipdate) <= 1997 AS a
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
),
cnt AS (
  SELECT g, v,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS ca,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS DECIMAL(38,0)) AS cb
  FROM vals GROUP BY 1, 2
),
run AS (
  SELECT g, ca, cb,
         SUM(cb) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb
  FROM cnt
)
SELECT g AS nation,
       CAST(SUM(ca) AS BIGINT) AS n_early,
       CAST(SUM(cb) AS BIGINT) AS n_late,
       CAST(SUM(CAST(ca * (2 * (cumb - cb) + cb) AS DECIMAL(38,0)))
            AS BIGINT) AS u2_early
FROM run GROUP BY 1 ORDER BY 1
""",
)
def nation_revenue_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Mann–Whitney drift: the doubled exact rank-sum
    statistic between early and late revenue per supplier nation — the
    directional companion to nation_revenue_ks on the same
    stratification (u2/2 far above n_early·n_late/2 = late revenues
    stochastically larger). Kernel:
    :func:`.functions.stats.mann_whitney_u2_by` — one (nation, value)
    aggregation, one nation-partitioned cumulative window, one bounded
    rollup; all integer arithmetic, per-group parity with the
    unstratified kernel unit-tested. Scale: identical plan family to
    the stratified KS — bounded by nations × distinct cents values
    after the first aggregation."""
    from ..functions.stats import mann_whitney_u2_by

    li = fx._read(spark, sf_dir, "lineitem")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    vals = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select(
            F.col("n_name").alias("g"),
            (
                F.round(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,6)"),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias("v"),
            (F.year("l_shipdate") <= 1997).alias("a"),
        )
    )
    return (
        mann_whitney_u2_by(vals, ["g"], "v", "a")
        .select(
            F.col("g").alias("nation"),
            F.col("n_a").alias("n_early"),
            F.col("n_b").alias("n_late"),
            F.col("u2_a").alias("u2_early"),
        )
        .orderBy("nation")
    )


@_register(
    "purchase_attribution_last_touch",
    f"""
WITH {fx.EVENTS_STREAM_CTE.strip()},
ann AS (
  SELECT event_type, epoch_us(ts) AS us,
         last_value(CASE WHEN event_type <> 'purchase'
                    THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS attr_us,
         last_value(CASE WHEN event_type <> 'purchase'
                    THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS attr_type
  FROM events_norm
)
SELECT CASE WHEN attr_us IS NOT NULL
                 AND us - attr_us <= 7 * 86400 * 1000000::BIGINT
            THEN attr_type ELSE 'none' END AS attributed_to,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM ann WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
)
def purchase_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch purchase attribution: each purchase credited to the
    user's most recent non-purchase event within a 7-day lookback
    ('none' when no touch qualifies) — the marketing-analytics join
    pattern behind channel ROI, done WITHOUT a self-join: the
    most-recent-touch is an ignore-nulls last_value over a
    PRECEDING-only running frame (the allowed frame class — the banned
    shape is partial frames ending at UNBOUNDED FOLLOWING), so one
    user-partitioned window pass replaces the purchases×events range
    join. Timestamps compare as exact epoch microseconds on both
    engines; the (ts, event_id) ordering pins same-timestamp touches
    deterministically. Scale: one shuffle on user_id, then a bounded
    5-row rollup; the window state per task is one user's event
    history. Kernel: :func:`..operators.behavior.attribute_last_touch`
    (credit math unit-tested on synthetic journeys in
    tests/test_attribution_unit.py)."""
    return bh.attribute_last_touch(fx.events_stream(spark, sf_dir))


@_register(
    "purchase_attribution_linear",
    f"""
WITH {fx.EVENTS_STREAM_CTE.strip()},
ann AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         last_value(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_us,
         last_value(CASE WHEN event_type = 'purchase'
                    THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_pid
  FROM events_norm
),
touches AS (
  SELECT event_type AS channel, next_pid
  FROM ann
  WHERE event_type <> 'purchase'
    AND next_us IS NOT NULL
    AND next_us - us <= 7 * 86400 * 1000000::BIGINT
),
k AS (
  SELECT next_pid, CAST(COUNT(*) AS HUGEINT) AS n_t
  FROM touches GROUP BY 1
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CAST(1000000 AS HUGEINT) // n_t) AS BIGINT)
         AS credit_ppm
FROM touches JOIN k USING (next_pid)
GROUP BY 1 ORDER BY 1
""",
)
def purchase_attribution_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear (multi-touch) attribution: every non-purchase event whose
    user purchases within the next 7 days shares that purchase's credit
    equally — per channel, the touch count and the exact total credit
    in ppm-of-a-purchase (floor division; a purchase's credit sums to
    ≤1e6 by exactly the remainder ppm). The forward-looking
    "next purchase after this touch" is an ignore-nulls last_value over
    a PRECEDING-only frame on the DESCENDING (ts, event_id) sort — the
    repo's standard inversion (store_revenue_interpolated) that avoids
    both the O(rows²) partial unbounded-FOLLOWING frame and the
    touches×purchases range join. Per-purchase touch counts are one
    bounded aggregation joined back on the purchase id. Scale: two
    user-partitioned window columns in one pass, one |purchases|-sized
    join — state per task is one user's event history. Kernel:
    :func:`..operators.behavior.attribute_linear` (credit conservation
    per purchase unit-tested in tests/test_attribution_unit.py)."""
    return bh.attribute_linear(fx.events_stream(spark, sf_dir))


@_register(
    "event_type_steady_state",
    bh.markov_oracle_sql(fx.EVENTS_STREAM_CTE, iterations=5),
)
def event_type_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does user behavior settle? The stationary distribution of
    the event-type Markov chain (markov_transitions' matrix), computed
    as 5 fixed-point power-iteration steps from the uniform start —
    the long-run share of each event type implied by the observed
    transition structure, in exact 1e12-scaled mass. Kernel:
    :func:`..operators.behavior.markov_power_iteration` — the PageRank
    determinism recipe ((mass·c) div rowsum, DECIMAL(38,0) sums) on the
    |types|²-bounded transition relation; the oracle unrolls the same
    5 steps (pagerank_oracle_sql pattern). Scale: ONE data-sized pass
    (the per-user lag window building transition counts); every
    iteration after touches ≤ |types|² rows."""
    ev = fx.events_stream(spark, sf_dir)
    return bh.markov_power_iteration(ev, iterations=5)


@_register(
    "lineitem_revenue_mwu_z",
    """
WITH vals AS (
  SELECT CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v,
         year(l_shipdate) <= 1997 AS a
  FROM lineitem
),
cnt AS (
  SELECT v,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DECIMAL(38,0)) AS ca,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS DECIMAL(38,0)) AS cb
  FROM vals GROUP BY 1
),
run AS (
  SELECT ca, cb,
         SUM(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumb
  FROM cnt
),
agg AS (
  SELECT CAST(SUM(ca) AS HUGEINT) AS na,
         CAST(SUM(cb) AS HUGEINT) AS nb,
         CAST(SUM(CAST(ca * (2 * (cumb - cb) + cb) AS DECIMAL(38,0)))
              AS HUGEINT) AS u2,
         CAST(SUM(CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)
                       AS DECIMAL(38,0))) AS HUGEINT) AS stie
  FROM run
)
SELECT CAST(na AS BIGINT) AS n_early,
       CAST(nb AS BIGINT) AS n_late,
       CAST(u2 AS BIGINT) AS u2_early,
       CASE WHEN na > 0 AND nb > 0 AND
                 CAST(na + nb + 1 AS DOUBLE)
                 - CAST(stie AS DOUBLE)
                   / CAST((na + nb) * (na + nb - 1) AS DOUBLE) > 0
            THEN CAST(round(CAST(
                   CAST(u2 - na * nb AS DOUBLE)
                   / (2.0 * sqrt((CAST(na * nb AS DOUBLE) / 12.0)
                      * (CAST(na + nb + 1 AS DOUBLE)
                         - CAST(stie AS DOUBLE)
                           / CAST((na + nb) * (na + nb - 1) AS DOUBLE))))
                 AS DECIMAL(30,12)), 6) AS DOUBLE)
            ELSE NULL END AS z
FROM agg
""",
)
def lineitem_revenue_mwu_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem_revenue_mwu with the tie-corrected normal-approximation
    z-score — the number an analyst actually reads off a rank-sum test
    ("how many sigmas of stochastic dominance is the late period
    showing"). Kernel: :func:`.functions.stats.mann_whitney_z` — the
    variance's tie term Σ(t³−t) rides the SAME per-value aggregation
    as the U statistic, so the z costs nothing extra; every input to
    the one double expression is an exact integer (bit-identical
    cross-engine, scale-6 rounding hop on the output; no continuity
    correction, identically on both sides). Float-mirror parity and
    the zero-variance/empty-side NULL cases are property-tested in
    tests/test_r6_kernels.py."""
    from ..functions.stats import mann_whitney_z

    li = fx._read(spark, sf_dir, "lineitem")
    vals = li.select(
        (
            F.round(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(30,6)"),
                2,
            )
            * 100
        )
        .cast("bigint")
        .alias("v"),
        (F.year("l_shipdate") <= 1997).alias("a"),
    )
    return mann_whitney_z(vals, "v", "a").select(
        F.col("n_a").alias("n_early"),
        F.col("n_b").alias("n_late"),
        F.col("u2_a").alias("u2_early"),
        "z",
    )


@_register(
    "supplier_revenue_weighted_gini",
    """
WITH rev AS (
  SELECT l_suppkey,
         CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,6))), 2) * 100 AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
),
run AS (
  SELECT CAST(cents AS HUGEINT) AS x,
         CAST(w AS HUGEINT) AS w,
         CAST(cents AS HUGEINT) * CAST(w AS HUGEINT) AS wx,
         SUM(CAST(cents AS HUGEINT) * CAST(w AS HUGEINT))
           OVER (ORDER BY cents, l_suppkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM rev
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(w) AS HUGEINT) AS tw,
         CAST(SUM(w * (2 * s - wx)) AS HUGEINT) AS num,
         CAST(SUM(wx) AS HUGEINT) AS s_n
  FROM run
)
SELECT n AS n_suppliers,
       CAST(tw AS BIGINT) AS total_w,
       CAST(((tw * s_n - num) * 1000000) // NULLIF(tw * s_n, 0) AS BIGINT)
         AS gini_ppm
FROM agg
""",
)
def supplier_revenue_weighted_gini(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activity-weighted revenue inequality across suppliers: the Gini
    of per-supplier net revenue with each supplier weighted by its
    lineitem count — "is revenue concentrated beyond what activity
    volume explains?" (the unweighted Gini treats a 5-line supplier
    and a 5000-line one as equal population units). Kernel:
    :func:`.functions.stats.gini_weighted_ppm` — trapezoid Lorenz form
    over one exact DECIMAL prefix sum of w·x; tie blocks are provably
    order-insensitive, the w≡1 case reproduces gini_ppm bit-for-bit
    and integer weights equal the replicated multiset (both
    property-tested). Scale: one lineitem aggregation to |suppliers|
    rows, the two-level running sum, one scalar agg."""
    from ..functions.stats import gini_weighted_ppm

    li = fx._read(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        (
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,6)")
                ),
                2,
            )
            * 100
        )
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("w"),
    )
    return gini_weighted_ppm(rev, "cents", "w", "l_suppkey").select(
        F.col("n").alias("n_suppliers"), "total_w", "gini_ppm"
    )


@_register(
    "purchase_attribution_u_shaped",
    f"""
WITH {fx.EVENTS_STREAM_CTE.strip()},
ann AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         last_value(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_us,
         last_value(CASE WHEN event_type = 'purchase'
                    THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_pid
  FROM events_norm
),
touches AS (
  SELECT event_type AS channel, event_id, us, next_pid
  FROM ann
  WHERE event_type <> 'purchase'
    AND next_us IS NOT NULL
    AND next_us - us <= 7 * 86400 * 1000000::BIGINT
),
pos AS (
  SELECT channel,
         ROW_NUMBER() OVER (PARTITION BY next_pid
                            ORDER BY us, event_id) AS r,
         CAST(COUNT(*) OVER (PARTITION BY next_pid) AS HUGEINT) AS k
  FROM touches
),
credit AS (
  SELECT channel,
         CASE WHEN k = 1 THEN CAST(1000000 AS HUGEINT)
              WHEN k = 2 THEN CAST(500000 AS HUGEINT)
              WHEN r = 1 OR r = k THEN CAST(400000 AS HUGEINT)
              ELSE CAST(200000 AS HUGEINT) // (k - 2) END AS c
  FROM pos
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(c) AS BIGINT) AS credit_ppm
FROM credit GROUP BY 1 ORDER BY 1
""",
)
def purchase_attribution_u_shaped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped (position-based) attribution — the third standard model
    beside the last-touch and linear pair: the FIRST touch in a
    purchase's 7-day window earns 40%, the LAST 40%, the middles split
    the remaining 20% (single-touch 100%, two-touch 50/50). Credit is
    exact integer ppm (the middle split is floor division — a
    purchase's credit sums to ≤1e6 by the remainder, identically on
    both engines). Same next-purchase window as the linear model, plus
    one window pass partitioned by the PURCHASE id (a real key — rank
    and count share the partitioning, one stage). Scale: two
    user-partitioned window columns, one purchase-partitioned window,
    bounded rollup — still no touches×purchases join anywhere. Kernel:
    :func:`..operators.behavior.attribute_u_shaped` (the 100/50-50/
    40-20-40 position cases are unit-tested on synthetic journeys in
    tests/test_attribution_unit.py)."""
    return bh.attribute_u_shaped(fx.events_stream(spark, sf_dir))


@_register(
    "purchase_attribution_first_touch",
    f"""
WITH {fx.EVENTS_STREAM_CTE.strip()},
ann AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         last_value(CASE WHEN event_type = 'purchase'
                    THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_us,
         last_value(CASE WHEN event_type = 'purchase'
                    THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_pid
  FROM events_norm
),
touches AS (
  SELECT event_type AS channel, event_id, us, next_pid
  FROM ann
  WHERE event_type <> 'purchase'
    AND next_us IS NOT NULL
    AND next_us - us <= 7 * 86400 * 1000000::BIGINT
),
first AS (
  SELECT channel,
         ROW_NUMBER() OVER (PARTITION BY next_pid
                            ORDER BY us, event_id) AS r
  FROM touches
),
attributed AS (
  SELECT channel AS attributed_to, CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM first WHERE r = 1 GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM events_norm
  WHERE event_type = 'purchase'
),
s AS (
  SELECT CAST(COALESCE(SUM(n_purchases), 0) AS BIGINT) AS s FROM attributed
)
SELECT attributed_to, n_purchases FROM attributed
UNION ALL
SELECT 'none', CAST(t - s AS BIGINT) FROM tot, s WHERE t - s > 0
ORDER BY attributed_to
""",
)
def purchase_attribution_first_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch attribution — the acquisition-credit twin of the
    last-touch model (which channel STARTED the journey that
    converted, vs which closed it): each purchase credited to the
    earliest qualifying touch in its 7-day window, 'none' when no
    touch qualifies. Kernel:
    :func:`..operators.behavior.attribute_first_touch` — rank 1 of the
    purchase-partitioned touch ordering; the 'none' count is a 1-row
    broadcast subtraction, no anti-join (boundary and totals-agreement
    cases unit-tested in tests/test_attribution_unit.py). Scale:
    identical plan family to the other attribution models."""
    return bh.attribute_first_touch(fx.events_stream(spark, sf_dir))


@_register(
    "customer_spend_atkinson2",
    f"""
WITH {_SPEND_CTE.strip()},
agg AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CASE WHEN cents <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
         SUM(CASE WHEN cents > 0 THEN
               CAST(round(CAST(1.0 / CAST(cents AS DOUBLE)
                               AS DECIMAL(38,18)), 18) AS DECIMAL(38,18))
             ELSE CAST(0 AS DECIMAL(38,18)) END) AS sr
  FROM spend
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CASE WHEN sx <= 0 THEN NULL
            WHEN nz > 0 THEN 1.0
            ELSE CAST(round(CAST(
                   1.0 - CAST(n * n AS DOUBLE)
                         / (CAST(sr AS DOUBLE) * CAST(sx AS DOUBLE))
                 AS DECIMAL(30,12)), 6) AS DOUBLE)
       END AS atkinson2
FROM agg
""",
)
def customer_spend_atkinson2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson index at aversion ε=2 of customer lifetime spend — the
    harmonic-mean sibling of the ε=1 query: A₂ = 1 −
    harmonic/mean weights the smallest spenders hardest, so A₂ ≥ A₁
    always (the generalized-mean inequality; property-tested). Kernel:
    :func:`.functions.stats.atkinson2_index` — per-customer reciprocals
    are doubles of exact integers decimal-rounded at 18 places (cents
    ≥ 1 → 1/x ≤ 1) and summed exactly; one double ratio at the end
    through the scale-6 hop. Same one-aggregation plan as ε=1."""
    from ..functions.stats import atkinson2_index

    return atkinson2_index(_spend(spark, sf_dir), "cents").select(
        F.col("n").alias("n_customers"), "atkinson2"
    )


@_register(
    "segment_km_confidence_bands",
    """
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS dd,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
           AS rn
  FROM orders
),
subj AS (
  SELECT o_custkey,
         MIN(CASE WHEN rn = 1 THEN dd END) AS d1,
         MIN(CASE WHEN rn = 2 THEN dd END) AS d2
  FROM ranked GROUP BY 1
),
seg AS (
  SELECT c_mktsegment AS segment, d1, d2
  FROM subj JOIN customer ON o_custkey = c_custkey
),
mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS md FROM orders),
life AS (
  SELECT segment,
         CASE WHEN d2 IS NOT NULL THEN datediff('day', d1, d2)
              ELSE datediff('day', d1, md) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM seg, mx
),
per_t AS (
  SELECT segment, t, CAST(SUM(ev) AS DECIMAL(38,0)) AS d,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM life GROUP BY 1, 2
),
risk AS (
  SELECT segment, t, d, c,
         SUM(c) OVER (PARTITION BY segment ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n
  FROM per_t
),
ev AS (
  SELECT segment, t, d, n,
         CASE WHEN n > d THEN
           CAST(round(CAST(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))
                           AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
         ELSE CAST(0 AS DECIMAL(38,6)) END AS lf,
         CASE WHEN n > d THEN
           CAST(round(CAST(CAST(d AS DOUBLE)
                           / CAST(n * (n - d) AS DOUBLE)
                           AS DECIMAL(38,18)), 12) AS DECIMAL(38,12))
         ELSE CAST(0 AS DECIMAL(38,12)) END AS gw
  FROM risk WHERE d > 0
),
curve AS (
  SELECT segment, t, d, n,
         SUM(lf) OVER (PARTITION BY segment ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(gw) OVER (PARTITION BY segment ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gcum
  FROM ev
),
km AS (
  SELECT segment,
         CAST(t AS BIGINT) AS t_days,
         CAST(n AS BIGINT) AS n_at_risk,
         CAST(d AS BIGINT) AS n_events,
         CASE WHEN n = d THEN 0.0
              ELSE CAST(round(CAST(exp(CAST(cum AS DOUBLE))
                                   AS DECIMAL(30,12)), 6) AS DOUBLE)
         END AS survival,
         CASE WHEN n = d THEN 0.0
              ELSE CAST(round(CAST(exp(CAST(cum AS DOUBLE))
                                   * sqrt(CAST(gcum AS DOUBLE))
                                   AS DECIMAL(30,12)), 6) AS DOUBLE)
         END AS greenwood_se
  FROM curve
)
SELECT segment, t_days, n_at_risk, n_events, survival, greenwood_se,
       CAST(round(CAST(GREATEST(survival - 1.96 * greenwood_se, 0.0)
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS ci_lo,
       CAST(round(CAST(LEAST(survival + 1.96 * greenwood_se, 1.0)
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS ci_hi
FROM km ORDER BY segment, t_days
""",
)
def segment_km_confidence_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The stratified KM curve with 95% Greenwood confidence bands —
    segment_second_order_km plus the release-ready ci_lo/ci_hi columns
    ("BUILDING reorders faster than MACHINERY, and the bands don't
    overlap after day N"). Kernel:
    :func:`.functions.stats.km_confidence_bands` — a linear clamp
    (max/min against [0,1]) through the scale-6 hop, the literally
    identical expression on both engines over identical S/se inputs
    (clamp ordering and terminal-zero behavior unit-tested). Plan:
    adds two projections to the stratified-KM plan — no new shuffle."""
    from ..functions.stats import kaplan_meier_by, km_confidence_bands

    o = fx._read(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("dd"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("dd", "o_orderkey")
    ranked = o.select("o_custkey", "dd", F.row_number().over(w).alias("rn"))
    subj = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dd"))).alias("d1"),
        F.min(F.when(F.col("rn") == 2, F.col("dd"))).alias("d2"),
    )
    c = fx._read(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    seg = subj.join(c, subj.o_custkey == c.c_custkey)
    mx = o.agg(F.max("dd").alias("md"))
    life = seg.crossJoin(F.broadcast(mx)).select(
        "segment",
        F.when(F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1")))
        .otherwise(F.datediff(F.col("md"), F.col("d1")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "ev"
        ),
    )
    return km_confidence_bands(kaplan_meier_by(life, ["segment"]))


@_register(
    "basket_brand_entropy",
    """
WITH items AS (
  SELECT l_orderkey AS order_key, p_brand AS item_class
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
per AS (
  SELECT order_key, item_class, CAST(COUNT(*) AS DECIMAL(38,0)) AS n_t
  FROM items GROUP BY 1, 2
),
ann AS (
  SELECT order_key, n_t,
         SUM(n_t) OVER (PARTITION BY order_key) AS n
  FROM per
),
contrib AS (
  SELECT order_key, n,
         CAST(n_t * CAST(round(CAST(ln(CAST(n AS DOUBLE)
                                       / CAST(n_t AS DOUBLE))
                                    AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
              AS DECIMAL(38,6)) AS c
  FROM ann
),
per_order AS (
  SELECT CAST(n AS BIGINT) AS basket_size,
         CAST(round(CAST(CAST(SUM(c) AS DOUBLE) / CAST(n AS DOUBLE)
              AS DECIMAL(30,12)), 6) AS DECIMAL(38,6)) AS h
  FROM contrib GROUP BY order_key, n
)
SELECT basket_size,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(round(CAST(CAST(SUM(h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS avg_entropy
FROM per_order GROUP BY 1 ORDER BY 1
""",
)
def basket_brand_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket diversity by size: mean Shannon entropy of each order's
    brand composition, per basket size — are big baskets stock-ups
    (entropy flat) or cross-brand shops (entropy tracking ln(size))?
    The market-basket complement to part_pair_lift's pair view.
    Kernel: :func:`..operators.behavior.basket_entropy_by_size` — the
    doc_token_entropy discipline per order (exact-integer ln ratios,
    decimal-rounded contributions, per-order H hopped to DECIMAL(38,6)
    BEFORE the class average, so the mean is an exact sum divided
    once; known compositions unit-tested). Scale: one (order, brand)
    aggregation, one order-partitioned window, bounded rollups; the
    part join shuffles on partkey."""
    li = fx._read(spark, sf_dir, "lineitem")
    pt = fx._read(spark, sf_dir, "part")
    items = li.join(pt, li.l_partkey == pt.p_partkey).select(
        F.col("l_orderkey").alias("order_key"),
        F.col("p_brand").alias("item_class"),
    )
    return bh.basket_entropy_by_size(items)
