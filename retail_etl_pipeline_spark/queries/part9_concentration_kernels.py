"""Registry part9: query registrations, in original registry order.

Sections:
- Market concentration (HHI), price indices (Laspeyres/Paasche/Fisher),
- Round-6 corpus-pipeline additions: quality-based downsampling, per-source
- TPC-H Q11/Q16/Q20 over the synthesized partsupp (sources/synthetic.py:

Split from the monolithic registry.py (round 7); the
registration ORDER is load-bearing (the driver correctness
rotation walks QUERIES in insertion order) — append only,
never reorder (tests/test_rotation_guard.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..functions.metrics import money
from ..operators import behavior as bh
from ..operators import corpus as cp
from ..operators import dedup as dd
from ..operators import fixtures_adapter as fx
from ..operators import privacy as pv
from ..operators import reconcile as rc
from ..operators import sampling as sp
from ..operators import text as tx
from ..sources.synthetic import PARTSUPP_CTE_SQL
from ..sources.synthetic import partsupp_synthetic
from ._base import (_register)  # noqa: F401

# ---------------------------------------------------------------------------
# Market concentration (HHI), price indices (Laspeyres/Paasche/Fisher),
# ABC/XYZ inventory classification, Kaplan-Meier survival — four
# econometric/supply-chain families over the same exact-decimal
# discipline (round-5 continuation batch 3).
# ---------------------------------------------------------------------------


@_register(
    "supplier_revenue_hhi",
    """
WITH rev AS (
  SELECT r_name, s_suppkey,
         CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,6))), 2) * 100 AS BIGINT) AS cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT) AS total_cents,
       CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0)))
                 * 1000000 AS HUGEINT)
            // NULLIF(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS HUGEINT)
                      * CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS HUGEINT), 0)
            AS BIGINT) AS hhi_ppm
FROM rev GROUP BY 1 ORDER BY 1
""",
)
def supplier_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue per
    region — the antitrust-style market-structure scalar (10_000 ppm =
    perfectly fragmented at 100 suppliers, 1_000_000 = monopoly).
    HHI = Σ sᵢ² over supplier shares, computed division-free as
    Σxᵢ²·1e6 div (Σx)² with net-revenue cents in DECIMAL(38,0) — both
    sums ride ONE hash aggregation per region, so there is no per-
    supplier share division and no float accumulation anywhere. Scale:
    lineitem⋈supplier shuffles on suppkey (well-distributed);
    nation/region are broadcast; the region-level agg is 5 rows. The
    kernel invariants (monopoly → 1e6, n equal shares → 1e6 div n) are
    unit-tested in tests/test_engagement_inequality_unit.py."""
    li = fx._read(spark, sf_dir, "lineitem")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    re_ = fx._read(spark, sf_dir, "region")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
        .groupBy("r_name", "s_suppkey")
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
    from ..functions.stats import hhi_ppm

    return (
        hhi_ppm(rev, ["r_name"], "cents")
        .select(
            "r_name",
            F.col("n_units").alias("n_suppliers"),
            F.col("total").alias("total_cents"),
            "hhi_ppm",
        )
        .orderBy("r_name")
    )


@_register(
    "part_price_index",
    """
WITH per AS (
  SELECT l_partkey,
         CAST(round(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996
                        THEN CAST(l_extendedprice AS DECIMAL(30,6)) END), 2)
              * 100 AS BIGINT) AS e0,
         CAST(round(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
                        THEN CAST(l_extendedprice AS DECIMAL(30,6)) END), 2)
              * 100 AS BIGINT) AS e1,
         CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996
                  THEN CAST(l_quantity AS DECIMAL(30,6)) END) AS BIGINT) AS q0,
         CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1997
                  THEN CAST(l_quantity AS DECIMAL(30,6)) END) AS BIGINT) AS q1
  FROM lineitem GROUP BY 1
),
kept AS (
  SELECT CAST(e0 AS HUGEINT) e0, CAST(e1 AS HUGEINT) e1,
         CAST(q0 AS HUGEINT) q0, CAST(q1 AS HUGEINT) q1
  FROM per
  WHERE q0 IS NOT NULL AND q1 IS NOT NULL AND q0 > 0 AND q1 > 0
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(e0) AS se0, SUM(e1) AS se1,
         SUM((e1 * q0) // q1) AS sl,
         SUM((e0 * q1) // q0) AS sp
  FROM kept
)
SELECT n_parts,
       CAST((sl * 1000000) // se0 AS BIGINT) AS laspeyres_ppm,
       CAST((se1 * 1000000) // sp AS BIGINT) AS paasche_ppm,
       CAST(round(CAST(sqrt(CAST(CAST((sl * 1000000) // se0 AS BIGINT)
                                 AS DOUBLE)
                            * CAST(CAST((se1 * 1000000) // sp AS BIGINT)
                                   AS DOUBLE)) / 1000000.0
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS fisher_index
FROM s
""",
)
def part_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shelf-price inflation 1996→1997 as the three classic index
    numbers: Laspeyres (base-year basket at current prices), Paasche
    (current basket at base prices), and their geometric mean (Fisher's
    ideal index). Per part, yearly quantity and extended-price sums are
    exact integers; the unit-price ratio never materializes — each
    part's "basket at other-period prices" term is the exact floored
    integer division (e₁·q₀) div q₁ (Spark decimal ``div`` ==
    DuckDB HUGEINT ``//``, the customer_spend_gini discipline), so both
    indices are ratios of exact BIGINT sums in ppm. Fisher is the only
    double op: sqrt of a product of the two exact ppms, rounded through
    the scale-6 decimal hop. Parts traded in only one of the two years
    drop out (an index needs both a base and a current observation).
    Scale: one conditional-aggregate pass over lineitem partitioned by
    partkey, then a one-row reduction — no joins at all."""
    li = fx._read(spark, sf_dir, "lineitem")
    yr = F.year(F.to_date("l_shipdate"))
    per = (
        li.groupBy("l_partkey")
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(
                            yr == 1996,
                            F.col("l_extendedprice").cast("decimal(30,6)"),
                        )
                    ),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias("e0"),
            (
                F.round(
                    F.sum(
                        F.when(
                            yr == 1997,
                            F.col("l_extendedprice").cast("decimal(30,6)"),
                        )
                    ),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias("e1"),
            F.sum(
                F.when(yr == 1996, F.col("l_quantity").cast("decimal(30,6)"))
            )
            .cast("bigint")
            .alias("q0"),
            F.sum(
                F.when(yr == 1997, F.col("l_quantity").cast("decimal(30,6)"))
            )
            .cast("bigint")
            .alias("q1"),
        )
        .where(
            F.col("q0").isNotNull()
            & F.col("q1").isNotNull()
            & (F.col("q0") > 0)
            & (F.col("q1") > 0)
        )
        .select(
            F.col("e0").cast("decimal(38,0)").alias("e0"),
            F.col("e1").cast("decimal(38,0)").alias("e1"),
            F.col("q0").cast("decimal(38,0)").alias("q0"),
            F.col("q1").cast("decimal(38,0)").alias("q1"),
        )
    )
    from ..functions.stats import round6

    return (
        per.select(
            "e0",
            "e1",
            F.expr("(e1 * q0) div q1").cast("decimal(38,0)").alias("cl"),
            F.expr("(e0 * q1) div q0").cast("decimal(38,0)").alias("cp"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("e0").alias("se0"),
            F.sum("e1").alias("se1"),
            F.sum("cl").alias("sl"),
            F.sum("cp").alias("sp"),
        )
        .select(
            "n_parts",
            F.expr("CAST((sl * 1000000) div se0 AS BIGINT)").alias(
                "laspeyres_ppm"
            ),
            F.expr("CAST((se1 * 1000000) div sp AS BIGINT)").alias(
                "paasche_ppm"
            ),
        )
        .select(
            "n_parts",
            "laspeyres_ppm",
            "paasche_ppm",
            round6(
                F.sqrt(
                    F.col("laspeyres_ppm").cast("double")
                    * F.col("paasche_ppm").cast("double")
                )
                / F.lit(1000000.0)
            ).alias("fisher_index"),
        )
    )


@_register(
    "part_demand_abc_xyz",
    """
WITH d AS (
  SELECT l_partkey,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS net,
         CAST(l_quantity AS DECIMAL(30,6)) AS qty,
         CAST(datediff('day', DATE '1995-01-02',
                       CAST(date_trunc('week', CAST(l_shipdate AS DATE))
                            AS DATE)) AS BIGINT) // 7 AS widx
  FROM lineitem
),
revp AS (
  SELECT l_partkey,
         CAST(CAST(round(SUM(net), 2) * 100 AS BIGINT) AS DECIMAL(38,0))
           AS rc
  FROM d GROUP BY 1
),
run AS (
  SELECT l_partkey, rc,
         SUM(rc) OVER (ORDER BY rc DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(rc) OVER () AS total
  FROM revp
),
abc AS (
  SELECT l_partkey, rc,
         CASE WHEN cum * 5 <= total * 4 THEN 'A'
              WHEN cum * 20 <= total * 19 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM run
),
weekly AS (
  SELECT l_partkey, widx, CAST(SUM(qty) AS BIGINT) AS wq
  FROM d GROUP BY 1, 2
),
span AS (
  SELECT CAST(MAX(widx) - MIN(widx) + 1 AS HUGEINT) AS nw FROM d
),
xyz AS (
  SELECT l_partkey,
         CASE WHEN cv <= 0.5 THEN 'X' WHEN cv <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM (
    SELECT l_partkey,
           CAST(round(CAST(sqrt(CAST(nw * sq2 - sq1 * sq1 AS DOUBLE))
                           / CAST(sq1 AS DOUBLE) AS DECIMAL(30,12)), 6)
                AS DOUBLE) AS cv
    FROM (
      SELECT l_partkey,
             CAST(SUM(CAST(wq AS HUGEINT)) AS HUGEINT) AS sq1,
             CAST(SUM(CAST(wq AS HUGEINT) * CAST(wq AS HUGEINT))
                  AS HUGEINT) AS sq2
      FROM weekly GROUP BY 1
    ) m, span
    WHERE m.sq1 > 0
  ) c
)
SELECT abc_class, xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rc) AS BIGINT) AS class_rev_cents
FROM abc JOIN xyz USING (l_partkey)
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def part_demand_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supply-chain planner's 3×3: ABC revenue classes (A = parts
    inside the top 80% of cumulative net revenue, B to 95%, C the
    tail) crossed with XYZ demand-variability classes (coefficient of
    variation of WEEKLY demand: X ≤ 0.5 steady, Y ≤ 1.0, Z erratic) —
    the matrix that decides which parts get safety stock vs
    make-to-order. ABC cumulative shares ride the exact two-level
    DECIMAL prefix sum over (revenue DESC, partkey) with the
    division-free multiply-form thresholds (the pareto_customers
    discipline); XYZ uses the moment-sum CV over the LINEAR week index
    (weeks with zero demand are implicit zeros in Σq/Σq² — the global
    week span supplies n, so no calendar densification scan), sqrt of
    an exact integer in double, decimal-rounded before the class
    compare. Scale: ONE shuffled pass over lineitem — everything (part
    revenue, weekly demand, the global week span) derives from a single
    (part, week) aggregation whose unrounded decimal partials re-sum
    exactly to the per-part totals; after it only |parts|-bounded
    reductions, the running sum and a broadcast 1-row span remain — no
    data-sized join or window, no second fact scan."""
    from ..functions.stats import round6
    from ..functions.ordered import with_running_sum

    li = fx._read(spark, sf_dir, "lineitem")
    d = li.select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(30,6)")
        .alias("net"),
        F.col("l_quantity").cast("decimal(30,6)").alias("qty"),
        # shared week-index fragment (operators/behavior.py) — the SAME
        # epoch/truncation rule as user_weekly_streaks
        F.expr(bh.linear_week_index_sql("to_date(l_shipdate)")).alias(
            "widx"
        ),
    )
    # the ONE data-sized aggregation: weekly grain carries UNROUNDED
    # exact decimal revenue partials, so the per-part rounding below
    # equals rounding the direct per-part sum. Persisted: three
    # consumers (revenue ranks, CV moments, week span) read the bounded
    # |parts x weeks| relation instead of re-scanning the fact table
    # (the shared-shingle-relation contract; bench/tests clearCache
    # between queries)
    base = (
        d.groupBy("l_partkey", "widx")
        .agg(
            F.sum("net").alias("wnet"),
            F.sum("qty").cast("bigint").alias("wq"),
        )
        .persist()
    )
    revp = base.groupBy("l_partkey").agg(
        (F.round(F.sum("wnet"), 2) * 100)
        .cast("bigint")
        .cast("decimal(38,0)")
        .alias("rc")
    )
    run, total = with_running_sum(
        revp, [F.desc("rc"), F.asc("l_partkey")], "rc", running_col="cum"
    )
    abc = run.select(
        "l_partkey",
        "rc",
        F.when(
            F.col("cum") * 5 <= F.lit(total).cast("decimal(38,0)") * 4, "A"
        )
        .when(
            F.col("cum") * 20 <= F.lit(total).cast("decimal(38,0)") * 19,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    # span from the SAME (part, week) aggregate — the exchange is
    # reused, not a third scan of the fact table
    span = base.agg(
        (F.max("widx") - F.min("widx") + 1)
        .cast("decimal(38,0)")
        .alias("nw")
    )
    wv = F.col("wq").cast("decimal(38,0)")
    xyz = (
        base.groupBy("l_partkey")
        .agg(F.sum(wv).alias("sq"), F.sum(wv * wv).alias("sqq"))
        # CV is undefined at zero total demand (0/0 -> NaN, which the
        # decimal hop cannot carry); such parts can't exist in TPC-H
        # (qty >= 1) but a degenerate input must not crash the cast
        .where(F.col("sq") > 0)
        .crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            round6(
                F.sqrt(F.expr("CAST(nw * sqq - sq * sq AS DOUBLE)"))
                / F.col("sq").cast("double")
            ).alias("cv"),
        )
        .select(
            "l_partkey",
            F.when(F.col("cv") <= 0.5, "X")
            .when(F.col("cv") <= 1.0, "Y")
            .otherwise("Z")
            .alias("xyz_class"),
        )
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rc").cast("bigint").alias("class_rev_cents"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@_register(
    "customer_second_order_km",
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
mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS md FROM orders),
life AS (
  SELECT CASE WHEN d2 IS NOT NULL THEN datediff('day', d1, d2)
              ELSE datediff('day', d1, md) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM subj, mx
),
per_t AS (
  SELECT t, CAST(SUM(ev) AS DECIMAL(38,0)) AS d,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM life GROUP BY 1
),
risk AS (
  SELECT t, d, c,
         SUM(c) OVER (ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n
  FROM per_t
),
ev AS (
  SELECT t, d, n,
         CASE WHEN n > d THEN
           CAST(round(CAST(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))
                           AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))
         ELSE CAST(0 AS DECIMAL(38,6)) END AS lf
  FROM risk WHERE d > 0
),
curve AS (
  SELECT t, d, n,
         SUM(lf) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM ev
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN n = d THEN 0.0
            ELSE CAST(round(CAST(exp(CAST(cum AS DOUBLE))
                                 AS DECIMAL(30,12)), 6) AS DOUBLE)
       END AS survival
FROM curve ORDER BY t_days
""",
)
def customer_second_order_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of time-to-second-order: per event
    time (days after the first order), the at-risk count, events, and
    the product-limit survival probability — the censoring-correct
    repeat-purchase curve behind "X% of new customers reorder within N
    days" (customers who never reorder are right-censored at the
    dataset's last order date, which a naive gap ecdf would silently
    drop or miscount). Subjects come from one per-customer window
    (first/second order date); the curve is
    :func:`..functions.stats.kaplan_meier` — exact DECIMAL suffix sum
    for the risk set, decimal-rounded ln terms, cumulative exact sum,
    exp at the end (censoring semantics and the terminal S=0 case are
    unit-tested on synthetic lifetimes in
    tests/test_engagement_inequality_unit.py). Scale: the only
    data-sized stages are the per-customer window and one groupBy on
    duration; everything after is bounded by distinct durations."""
    from ..functions.stats import kaplan_meier

    o = fx._read(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("dd"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("dd", "o_orderkey")
    ranked = o.select(
        "o_custkey", "dd", F.row_number().over(w).alias("rn")
    )
    subj = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("dd"))).alias("d1"),
        F.min(F.when(F.col("rn") == 2, F.col("dd"))).alias("d2"),
    )
    mx = o.agg(F.max("dd").alias("md"))
    life = subj.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
        )
        .otherwise(F.datediff(F.col("md"), F.col("d1")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    return kaplan_meier(life)


# ---------------------------------------------------------------------------
# Round-6 corpus-pipeline additions: quality-based downsampling, per-source
# token budgeting, near-dup canonical selection, LSH decontamination — the
# four selection/cleaning steps between "score the corpus" (quality_score,
# neardup_components, eval_contamination, all registered earlier) and
# "train on it".
# ---------------------------------------------------------------------------

_DOCS_QUALITY_TOKENS_CTE = f"""
q AS ({{quality}}),
d AS (
  SELECT documents.doc_id, source,
         CAST(len({tx.TOKENS_SQL.format(c='text')}) AS BIGINT) AS n_tokens,
         quality_score
  FROM documents JOIN q ON documents.doc_id = q.doc_id
)"""


@_register(
    "documents_quality_downsample",
    f"""
WITH {_DOCS_QUALITY_TOKENS_CTE.format(quality=tx.QUALITY_SCORE_SQL.strip()).strip()},
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rn
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
       MIN(quality_score) AS min_kept_quality
FROM ranked
WHERE rn <= 20
GROUP BY 1
ORDER BY source
""",
)
def documents_quality_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-based downsampling: keep the top-20 documents PER SOURCE
    by quality_score (doc_id tie-break — the score is rounded at 4
    decimals on both engines, so ties are real), reporting per-source
    kept counts/tokens/threshold. The standard curation step between
    scoring and training: a fixed per-source keep depth instead of a
    global score cutoff, so no source is silently wiped out by another
    source's score distribution. Plan: one scan computes tokens +
    quality (pure projections), ONE window partitioned by source (real
    key), and Spark executes the rn <= 20 filter as WindowGroupLimit —
    per-task state is 20 rows per source, not the source's documents.
    Scale: output bounded by |sources|."""
    docs = fx._read(spark, sf_dir, "documents")
    q = tx.quality_score(docs).select("doc_id", "quality_score")
    d = docs.select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tokens")
    ).join(q, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.min("quality_score").alias("min_kept_quality"),
        )
        .orderBy("source")
    )


@_register(
    "source_token_budget_cut",
    f"""
WITH {_DOCS_QUALITY_TOKENS_CTE.format(quality=tx.QUALITY_SCORE_SQL.strip()).strip()},
ranked AS (
  SELECT *,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY quality_score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
FROM ranked
WHERE cum <= 10000
GROUP BY 1
ORDER BY source
""",
)
def source_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: per source, take documents in quality
    order until a 10k-token budget is spent (greedy prefix on the exact
    integer running token sum — a source whose best document alone
    exceeds the budget contributes no rows, deterministically on both
    engines). The data-mix primitive behind "N tokens per source"
    training recipes; the per-source budget would be the source-mix
    weight at production scale. Plan: same single scan + source
    window as documents_quality_downsample with a running SUM instead
    of row_number; exact integer cumsum, no float drift in the cut.
    Scale: output bounded by |sources|."""
    docs = fx._read(spark, sf_dir, "documents")
    q = tx.quality_score(docs).select("doc_id", "quality_score")
    d = docs.select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tokens")
    ).join(q, "doc_id")
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum", F.sum("n_tokens").over(w))
        .where(F.col("cum") <= 10000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("source")
    )


@_register(
    "source_temperature_mix_budget",
    f"""
WITH {_DOCS_QUALITY_TOKENS_CTE.format(quality=tx.QUALITY_SCORE_SQL.strip()).strip()},
tot AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
  FROM d GROUP BY 1
),
s AS (
  SELECT source, src_tokens,
         CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS sq
  FROM tot
),
g AS (SELECT CAST(SUM(sq) AS BIGINT) AS stot FROM s),
budgets AS (
  SELECT source, src_tokens,
         CAST((60000 * CAST(sq AS HUGEINT)) // NULLIF(stot, 0) AS BIGINT)
           AS budget_tokens
  FROM s, g
),
ranked AS (
  SELECT d.*,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY quality_score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
  FROM d
)
SELECT ranked.source,
       budgets.budget_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
FROM ranked
JOIN budgets ON ranked.source = budgets.source
WHERE cum <= budget_tokens
GROUP BY 1, 2
ORDER BY ranked.source
""",
)
def source_temperature_mix_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-flattened data mix (the multilingual-training
    standard, target share ∝ share^0.5): each source's token budget is
    60k x sqrt(its tokens) / Σ sqrt(tokens) — big sources are damped,
    small sources boosted, nobody wiped out — then the greedy
    quality-ordered prefix cut per source (source_token_budget_cut's
    machinery under a derived budget). Engine-stable without being
    integer-only: sqrt over a BIGINT-exact double is IEEE
    correctly-rounded (bit-identical on both engines), FLOOR pins it to
    an integer, and everything after is exact HUGEINT/DECIMAL
    arithmetic — the one transcendental gets the KM/Greenwood
    hop-immediately treatment. Plan: the per-doc relation feeds both
    the per-source totals (one bounded agg -> 1-row broadcast) and the
    source-partitioned running-sum window; budgets broadcast back.
    Scale: output bounded by |sources|; one data-sized shuffle."""
    docs = fx._read(spark, sf_dir, "documents")
    q = tx.quality_score(docs).select("doc_id", "quality_score")
    d = docs.select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tokens")
    ).join(q, "doc_id")
    tot = d.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("src_tokens")
    )
    s = tot.select(
        "source",
        "src_tokens",
        F.floor(F.sqrt(F.col("src_tokens").cast("double")))
        .cast("bigint")
        .alias("sq"),
    )
    g = s.agg(F.sum("sq").cast("bigint").alias("stot"))
    budgets = s.join(F.broadcast(g)).select(
        "source",
        F.expr(
            "CAST((60000 * cast(sq as decimal(38,0)))"
            " div NULLIF(stot, 0) AS BIGINT)"
        ).alias("budget_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum", F.sum("n_tokens").over(w))
        .join(F.broadcast(budgets), "source")
        .where(F.col("cum") <= F.col("budget_tokens"))
        .groupBy("source", "budget_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


@_register(
    "source_weighted_mix_budget",
    f"""
WITH {_DOCS_QUALITY_TOKENS_CTE.format(quality=tx.QUALITY_SCORE_SQL.strip()).strip()},
per AS (
  SELECT source,
         CAST(SUM(CASE WHEN text IS NULL THEN 0
                  ELSE len({tx.TOKENS_SQL.format(c='text')}) END)
              AS BIGINT) AS src_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT CAST(SUM(src_tokens) AS BIGINT) AS tot_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per
),
wts AS (
  SELECT source, src_tokens,
         CAST(((1000000 // n_sources) * 1000000)
              // NULLIF((CAST(src_tokens AS HUGEINT) * 1000000)
                        // NULLIF(tot_tokens, 0), 0) AS BIGINT)
           AS weight_ppm
  FROM per, tot
),
mass AS (
  SELECT source, weight_ppm,
         CAST(src_tokens AS HUGEINT) * weight_ppm AS m
  FROM wts
),
gm AS (SELECT SUM(m) AS mt FROM mass),
budgets AS (
  SELECT source, weight_ppm,
         CAST((60000 * m) // NULLIF(mt, 0) AS BIGINT) AS budget_tokens
  FROM mass, gm
),
ranked AS (
  SELECT d.*,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY quality_score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
  FROM d
)
SELECT ranked.source,
       budgets.weight_ppm,
       budgets.budget_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
FROM ranked
JOIN budgets ON ranked.source = budgets.source
WHERE cum <= budget_tokens
GROUP BY 1, 2, 3
ORDER BY ranked.source
""",
)
def source_weighted_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full data-mix recipe closed end-to-end (VERDICT r6 item 5):
    ``source_mix_weights``'s uniform-target resampling weights DRIVE the
    per-source token budgets, which drive the greedy quality-prefix cut
    — weights -> budgets -> cut, composing the two existing operators.

    budget_s = 60000 x (tokens_s x weight_ppm_s) / Σ(tokens x weight)
    — the weight-rebalanced token MASS of each source decides its slice
    of the pool, so a uniform-target weight vector yields near-equal
    budgets with the ppm floor effects propagated exactly (every step
    integer/decimal; Spark div == DuckDB // toward-zero). Swapping in
    any other target mix is the same plan with a different weight
    column. Plan: the weights relation is |sources|-bounded and
    broadcast back into the source-partitioned running-sum window; one
    data-sized shuffle total, same as source_temperature_mix_budget."""
    docs = fx._read(spark, sf_dir, "documents")
    wts = cp.source_mix_weights(docs).select(
        "source", "n_tokens", "weight_ppm"
    )
    mass = wts.select(
        "source",
        "weight_ppm",
        F.expr("cast(n_tokens as decimal(38,0)) * weight_ppm").alias("m"),
    )
    gm = mass.agg(F.sum("m").alias("mt"))
    budgets = mass.join(F.broadcast(gm)).select(
        "source",
        "weight_ppm",
        F.expr("CAST((60000 * m) div NULLIF(mt, 0) AS BIGINT)").alias(
            "budget_tokens"
        ),
    )
    q = tx.quality_score(docs).select("doc_id", "quality_score")
    d = docs.select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tokens")
    ).join(q, "doc_id")
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum", F.sum("n_tokens").over(w))
        .join(F.broadcast(budgets), "source")
        .where(F.col("cum") <= F.col("budget_tokens"))
        .groupBy("source", "weight_ppm", "budget_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


@_register(
    "neardup_canonical_keep",
    dd.neardup_canonical_keep_sql(tx.QUALITY_SCORE_SQL),
)
def neardup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which document each near-dup cluster KEEPS: the highest-quality
    member (operators/dedup.neardup_canonical_keep — dedup pipelines
    keep the best representative, not an arbitrary one). Completes the
    registered dedup chain: pairs (minhash_neardup) -> clusters
    (neardup_components) -> keep/drop decision (this)."""
    return dd.neardup_canonical_keep(fx._read(spark, sf_dir, "documents"))


@_register("eval_contamination_lsh", cp.EVAL_CONTAMINATION_LSH_SQL)
def eval_contamination_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate decontamination: train docs sharing an LSH band
    bucket with any held-out eval doc (operators/corpus.
    eval_contamination_lsh) — catches paraphrased eval leakage the
    exact-shingle eval_contamination misses."""
    return cp.eval_contamination_lsh(fx._read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TPC-H Q11/Q16/Q20 over the synthesized partsupp (sources/synthetic.py:
# partsupp_synthetic — the public dbgen supplier-assignment formula plus
# the repo's multiplicative-hash value columns; money in integer CENTS).
# These were the last "remaining gaps" in the TPC-H family (DEVNOTES) —
# excluded until round 6 only for lack of a partsupp fixture. Both engines
# derive the SAME relation from part x supplier (row-for-row identical,
# verified in test_operators_unit; at sf0.001's 10 suppliers the dbgen
# step can repeat a (part, supplier) pair — identically on both engines,
# so every aggregate stays comparable), so the oracle checks the query
# logic, not the generator.
# ---------------------------------------------------------------------------



def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return partsupp_synthetic(
        fx._read(spark, sf_dir, "part"), fx._read(spark, sf_dir, "supplier")
    )


@_register(
    "tpch_q11_important_stock",
    f"""
WITH {PARTSUPP_CTE_SQL},
nat AS (
  SELECT ps_partkey,
         CAST(ps_supplycost_cents * ps_availqty AS HUGEINT) AS v
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_9'
),
pv AS (
  SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
  FROM nat GROUP BY 1
),
tot AS (SELECT CAST(SUM(v) // 1000 AS BIGINT) AS thr FROM nat)
SELECT ps_partkey, value_cents
FROM pv, tot
WHERE value_cents > thr
ORDER BY value_cents DESC, ps_partkey
""",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification) on the synthesized
    partsupp: per-part inventory value (supplycost_cents * availqty)
    held by suppliers of one nation, keeping parts above 0.1% of the
    nation's total value. The threshold is EXACT integer division of
    the total (div 1000) — no float fraction, so the cut is
    engine-stable at any scale. Plan: partsupp is a projection of
    part x {{0..3}} (no shuffle to build), supplier/nation broadcast,
    ONE hash aggregation by part, and the 1-row total broadcast back —
    the per-part and total sums both combine map-side. Scale: output
    bounded by |parts|; the only data-sized shuffle is the part-key
    aggregation."""
    ps = _partsupp(spark, sf_dir)
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    nat = (
        ps.join(
            F.broadcast(
                su.join(na, su.s_nationkey == na.n_nationkey)
                .where(F.col("n_name") == "NATION_9")
                .select("s_suppkey")
            ),
            ps.ps_suppkey == F.col("s_suppkey"),
        )
        .select(
            "ps_partkey",
            (
                F.col("ps_supplycost_cents").cast("decimal(38,0)")
                * F.col("ps_availqty")
            ).alias("v"),
        )
    )
    pv = nat.groupBy("ps_partkey").agg(
        F.sum("v").cast("bigint").alias("value_cents")
    )
    tot = nat.agg(F.expr("sum(v) div 1000").cast("bigint").alias("thr"))
    return (
        pv.join(F.broadcast(tot))
        .where(F.col("value_cents") > F.col("thr"))
        .select("ps_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), F.asc("ps_partkey"))
    )


@_register(
    "tpch_q16_supplier_part_counts",
    f"""
WITH {PARTSUPP_CTE_SQL}
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def tpch_q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) on the synthesized
    partsupp: distinct supplier count per (brand, type, size) for parts
    outside one brand/type and eight sizes, excluding suppliers in bad
    standing. Fixture adaptation: the spec's complaint-comment exclusion
    becomes s_acctbal < 0 (the fixture has no comment columns — same
    adaptation rule as the other TPC-H queries, DEVNOTES r1). Plan:
    the exclusion list is a broadcast anti-join (bounded by |suppliers|);
    the distinct-count aggregation is the only data-sized shuffle and
    Spark's two-phase distinct rewrite keeps it partial-aggregated.
    Scale: output bounded by brand x type x size."""
    ps = _partsupp(spark, sf_dir)
    pt = fx._read(spark, sf_dir, "part")
    su = fx._read(spark, sf_dir, "supplier")
    bad = su.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(
            pt.where(
                (F.col("p_brand") != "Brand#1")
                & (F.col("p_type") != "PROMO")
                & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
            ).select("p_partkey", "p_brand", "p_type", "p_size"),
            ps.ps_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(bad),
            ps.ps_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


@_register(
    "tpch_q20_excess_stock_suppliers",
    f"""
WITH {PARTSUPP_CTE_SQL},
shipped AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01'
    AND l_shipdate < DATE '1998-01-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       CAST(COUNT(*) AS BIGINT) AS n_excess_parts
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN partsupp ON ps_suppkey = s_suppkey
JOIN part ON ps_partkey = p_partkey
JOIN shipped ON l_partkey = ps_partkey
WHERE n_name = 'NATION_11'
  AND p_name LIKE 'red%'
  AND 2 * ps_availqty > sum_qty
GROUP BY 1, 2
ORDER BY s_suppkey
""",
)
def tpch_q20_excess_stock_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (potential part promotion) on the synthesized partsupp:
    suppliers of one nation holding excess stock (availqty > half the
    1997 shipped quantity) of 'red' parts, with the count of such
    parts per supplier. Fixture adaptations, both documented: shipped
    quantity aggregates per PART (lineitem's l_suppkey was generated
    independently of the dbgen pair formula, so per-(part,supplier)
    totals barely intersect the synthetic pairs), and the half
    comparison is the exact integer form 2*availqty > sum_qty (the
    spec's 0.5 factor without a float). Parts with no 1997 shipments
    drop out via the inner join — the spec's NULL-comparison
    semantics. Plan: one filter-pruned lineitem aggregation by part,
    broadcast red-part and nation-supplier lists, partsupp as a
    projection; output bounded by |suppliers|."""
    ps = _partsupp(spark, sf_dir)
    li = fx._read(spark, sf_dir, "lineitem")
    pt = fx._read(spark, sf_dir, "part")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    d = F.to_date("l_shipdate")
    shipped = (
        li.where(
            (d >= F.lit("1997-01-01")) & (d < F.lit("1998-01-01"))
        )
        .groupBy(F.col("l_partkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("sum_qty")
        )
    )
    nat_sup = (
        su.join(na, su.s_nationkey == na.n_nationkey)
        .where(F.col("n_name") == "NATION_11")
        .select("s_suppkey", "s_name")
    )
    red = pt.where(F.col("p_name").like("red%")).select("p_partkey")
    return (
        ps.join(F.broadcast(red), ps.ps_partkey == red.p_partkey)
        .join(shipped, ps.ps_partkey == shipped.l_partkey)
        .where(2 * F.col("ps_availqty") > F.col("sum_qty"))
        .join(F.broadcast(nat_sup), ps.ps_suppkey == nat_sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
        .orderBy("s_suppkey")
    )


@_register(
    "tpch_q2_min_cost_supplier",
    f"""
WITH {PARTSUPP_CTE_SQL}
SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost_cents
FROM part, supplier, partsupp, nation, region
WHERE p_partkey = ps_partkey
  AND s_suppkey = ps_suppkey
  AND p_size = 15
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost_cents = (
    SELECT MIN(ps2.ps_supplycost_cents)
    FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey
      AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) on the synthesized partsupp —
    the classic correlated-subquery shape: for each size-15 part, the
    EUROPE supplier(s) quoting the region-minimum supply cost. The
    oracle runs the TEXTBOOK correlated scalar subquery; this plan is
    the de-correlated rewrite (the Q21 discipline): build the
    region-filtered (part, supplier, cost) relation ONCE, take
    MIN(cost) per part with one |parts|-bounded aggregate, and
    join back on (part, cost) — a green row proves the rewrite.
    Deterministic top-100: (s_acctbal DESC, n_name, s_name, p_partkey)
    is a total order here (acctbal unique per supplier, one row per
    (part, supplier) pair at this scale). Plan: partsupp is a
    projection; supplier/nation/region broadcast; ONE part-keyed
    aggregate; TakeOrdered final. Scale: everything after the
    projection is bounded by |parts in region x suppliers-per-part|."""
    ps = _partsupp(spark, sf_dir)
    pt = fx._read(spark, sf_dir, "part")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    re_ = fx._read(spark, sf_dir, "region")
    eu_sup = (
        su.join(na, su.s_nationkey == na.n_nationkey)
        .join(
            re_.where(F.col("r_name") == "EUROPE"),
            na.n_regionkey == re_.r_regionkey,
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = ps.join(F.broadcast(eu_sup), ps.ps_suppkey == eu_sup.s_suppkey)
    # both sides derive from the same partsupp plan: rename the grouped
    # side's key or the join-back condition is ambiguous (self-join rule)
    min_cost = (
        offers.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_cents").alias("min_cost"))
        .withColumnRenamed("ps_partkey", "mc_partkey")
    )
    return (
        offers.join(
            min_cost,
            (offers.ps_partkey == F.col("mc_partkey"))
            & (offers.ps_supplycost_cents == F.col("min_cost")),
        )
        .join(
            F.broadcast(
                pt.where(F.col("p_size") == 15).select("p_partkey")
            ),
            offers.ps_partkey == F.col("p_partkey"),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            "ps_supplycost_cents",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# round-7: k-sample rank test — Kruskal-Wallis across all nations
# ---------------------------------------------------------------------------


@_register(
    "nation_revenue_kruskal",
    """
WITH vals AS (
  SELECT n_name AS g,
         CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
),
cnt AS (
  SELECT g, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM vals GROUP BY 1, 2
),
perv AS (
  SELECT v, CAST(SUM(c) AS DECIMAL(38,0)) AS cv FROM cnt GROUP BY 1
),
run AS (
  SELECT v, cv,
         SUM(cv) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumv
  FROM perv
),
ranked AS (
  SELECT g, c,
         CAST((2 * (cumv - cv) + cv + 1) * c AS DECIMAL(38,0)) AS r2part
  FROM cnt JOIN run USING (v)
),
per_g AS (
  SELECT g,
         CAST(SUM(c) AS DECIMAL(38,0)) AS n_g,
         CAST(SUM(r2part) AS DECIMAL(38,0)) AS r2
  FROM ranked GROUP BY 1
),
gl AS (
  -- COALESCE: zero input rows must yield n=0 (matching the Spark
  -- kernel's zero-coalesced count), not NULL
  SELECT list(struct_pack(g := g, n_g := n_g, r2 := r2) ORDER BY g) AS gs,
         CAST(COALESCE(SUM(n_g), 0) AS DECIMAL(38,0)) AS n,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM per_g
),
t AS (
  SELECT CAST(COALESCE(SUM(cv*cv*cv - cv), 0) AS DECIMAL(38,0)) AS stie
  FROM perv
),
calc AS (
  SELECT k, n, stie,
         (3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)))
           * list_reduce(
               list_transform(gs, x ->
                 CAST(x.r2 AS DOUBLE) * CAST(x.r2 AS DOUBLE)
                   / CAST(x.n_g AS DOUBLE)),
               (a, b) -> a + b)
           - 3 * (CAST(n AS DOUBLE) + 1) AS h,
         1.0 - CAST(stie AS DOUBLE)
             / CAST(CAST(n*n*n - n AS DECIMAL(38,0)) AS DOUBLE) AS corr
  FROM gl, t
)
SELECT k AS n_groups,
       CAST(n AS BIGINT) AS n_total,
       CASE WHEN n > 1
            THEN CAST(round(CAST(h AS DECIMAL(30,12)), 6) AS DOUBLE) END
         AS h,
       CASE WHEN n > 1 AND corr > 0
            THEN CAST(round(CAST(h / corr AS DECIMAL(30,12)), 6) AS DOUBLE)
            END AS h_tie_corrected
FROM calc
""",
)
def nation_revenue_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample rank drift: exact-rank Kruskal-Wallis H of per-line
    revenue (integer cents) across ALL supplier nations at once — "is
    ANY nation's revenue distribution shifted?", the one-test companion
    to the pairwise nation_revenue_ks/mwu family on the same
    stratification. Kernel: functions/stats.kruskal_wallis — doubled
    tie-average ranks stay exact integers; the single cross-group
    double formula folds SEQUENTIALLY over a nation-ordered array
    (Spark aggregate == DuckDB list_reduce, bit-identical)."""
    from ..functions.stats import kruskal_wallis

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
        )
    )
    return kruskal_wallis(vals, "v", "g")


# ---------------------------------------------------------------------------
# round-8: k-sample median test — Mood's chi-square across all nations
# ---------------------------------------------------------------------------

_MEDIAN_TERM_SQL = (
    "((CAST(x.le_g AS DOUBLE)"
    " - CAST(x.n_g AS DOUBLE) * CAST(le AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(x.le_g AS DOUBLE)"
    " - CAST(x.n_g AS DOUBLE) * CAST(le AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / (CAST(x.n_g AS DOUBLE) * CAST(le AS DOUBLE) / CAST(n AS DOUBLE))"
    " + ((CAST(x.n_g - x.le_g AS DOUBLE)"
    " - CAST(x.n_g AS DOUBLE) * CAST(n - le AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(x.n_g - x.le_g AS DOUBLE)"
    " - CAST(x.n_g AS DOUBLE) * CAST(n - le AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / (CAST(x.n_g AS DOUBLE) * CAST(n - le AS DOUBLE) / CAST(n AS DOUBLE))"
)


@_register(
    "nation_revenue_median_test",
    f"""
WITH vals AS (
  SELECT n_name AS g,
         CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
),
cnt AS (
  SELECT g, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM vals GROUP BY 1, 2
),
perv AS (
  SELECT v, CAST(SUM(c) AS DECIMAL(38,0)) AS cv FROM cnt GROUP BY 1
),
run AS (
  SELECT v, cv,
         SUM(cv) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumv
  FROM perv
),
nn AS (
  SELECT CAST(COALESCE(SUM(cv), 0) AS DECIMAL(38,0)) AS nt FROM perv
),
-- pooled LOWER median: the ((n+1) div 2)-th smallest pooled value;
-- HUGEINT division (DECIMAL // routes through double in DuckDB)
med AS (
  SELECT MIN(v) AS med
  FROM run, nn
  WHERE cumv >= (CAST(nt AS HUGEINT) + 1) // 2
),
per_g AS (
  SELECT g,
         CAST(SUM(c) AS DECIMAL(38,0)) AS n_g,
         CAST(COALESCE(SUM(CASE WHEN v <= med THEN c END), 0)
              AS DECIMAL(38,0)) AS le_g
  FROM cnt, med GROUP BY 1
),
gl AS (
  SELECT list(struct_pack(g := g, n_g := n_g, le_g := le_g) ORDER BY g)
           AS gs,
         CAST(COALESCE(SUM(n_g), 0) AS DECIMAL(38,0)) AS n,
         CAST(COALESCE(SUM(le_g), 0) AS DECIMAL(38,0)) AS le,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM per_g
),
calc AS (
  SELECT k, n, le,
         list_reduce(
           list_transform(gs, x -> {_MEDIAN_TERM_SQL}),
           (a, b) -> a + b) AS chi2
  FROM gl
)
SELECT k AS n_groups,
       CAST(n AS BIGINT) AS n_total,
       CAST(med AS BIGINT) AS pooled_median,
       CASE WHEN k > 0 THEN k - 1 END AS dof,
       CASE WHEN n > 0 AND le > 0 AND n - le > 0
            THEN CAST(round(CAST(chi2 AS DECIMAL(30,12)), 6) AS DOUBLE) END
         AS chi2
FROM calc, med
""",
)
def nation_revenue_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample MEDIAN drift: Mood's chi-square of per-line revenue
    (integer cents) across ALL supplier nations — the robust companion
    to nation_revenue_kruskal on the same stratification (only counts
    above/below the pooled median move it, so one wild outlier shifts
    the statistic by at most one cell count). Kernel:
    functions/stats.mood_median_test — the pooled lower median resolves
    from the SAME exact decimal prefix sum KW uses, every contingency
    cell is an exact integer, and the chi-square terms fold over a
    nation-ordered array (Spark aggregate == DuckDB list_reduce).

    (revenue_trend_jt, the ORDERED-alternative companion, is defined
    below this median test — same value encoding, ship-year groups.)"""
    from ..functions.stats import mood_median_test

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
        )
    )
    return mood_median_test(vals, "v", "g")


# ---------------------------------------------------------------------------
# round-8: ordered-alternative trend test — Jonckheere-Terpstra across
# ship years
# ---------------------------------------------------------------------------

@_register(
    "revenue_trend_jt",
    """
WITH vals AS (
  SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS g,
         CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v
  FROM lineitem
),
cnt AS (
  SELECT g, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM vals GROUP BY 1, 2
),
perv AS (
  SELECT v, CAST(SUM(c) AS DECIMAL(38,0)) AS cv FROM cnt GROUP BY 1
),
gs AS (SELECT DISTINCT g FROM cnt),
grid AS (
  SELECT gs.g, perv.v, CAST(COALESCE(cnt.c, 0) AS DECIMAL(38,0)) AS c0
  FROM perv CROSS JOIN gs
  LEFT JOIN cnt ON cnt.g = gs.g AND cnt.v = perv.v
),
wt AS (
  SELECT g, v, c0,
         CAST(COALESCE(SUM(c0) OVER (
           PARTITION BY v ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DECIMAL(38,0)) AS t
  FROM grid
),
wb AS (
  SELECT c0, t,
         CAST(COALESCE(SUM(t) OVER (
           PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DECIMAL(38,0)) AS b
  FROM wt
),
j2 AS (
  SELECT CAST(COALESCE(SUM(CAST(c0 * (2 * b + t) AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS jt2
  FROM wb
),
per_g AS (
  SELECT g, CAST(SUM(c) AS DECIMAL(38,0)) AS n_g FROM cnt GROUP BY 1
),
gagg AS (
  SELECT CAST(COALESCE(SUM(n_g), 0) AS DECIMAL(38,0)) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(COALESCE(SUM(CAST(n_g * n_g AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS su_sq,
         CAST(COALESCE(SUM(CAST(n_g * (n_g - 1) * (2 * n_g + 5)
                                AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS su1,
         CAST(COALESCE(SUM(CAST(n_g * (n_g - 1) * (n_g - 2)
                                AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS su2,
         CAST(COALESCE(SUM(CAST(n_g * (n_g - 1) AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS su3
  FROM per_g
),
tagg AS (
  SELECT CAST(COALESCE(SUM(CAST(cv * (cv - 1) * (2 * cv + 5)
                                AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS st1,
         CAST(COALESCE(SUM(CAST(cv * (cv - 1) * (cv - 2)
                                AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS st2,
         CAST(COALESCE(SUM(CAST(cv * (cv - 1) AS DECIMAL(38,0))), 0)
              AS DECIMAL(38,0)) AS st3
  FROM perv
),
calc AS (
  SELECT jt2, n, k,
         CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
              - CAST(su_sq AS HUGEINT) AS DOUBLE) / 2 AS e2,
         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
            * (2 * CAST(n AS DOUBLE) + 5)
            - CAST(su1 AS DOUBLE) - CAST(st1 AS DOUBLE)) / 72
           + CAST(su2 AS DOUBLE) * CAST(st2 AS DOUBLE)
             / (36 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                * (CAST(n AS DOUBLE) - 2))
           + CAST(su3 AS DOUBLE) * CAST(st3 AS DOUBLE)
             / (8 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS var
  FROM j2, gagg, tagg
)
SELECT k AS n_groups,
       CAST(n AS BIGINT) AS n_total,
       CAST(jt2 AS BIGINT) AS jt2,
       CASE WHEN n > 2 AND var > 0
            THEN CAST(round(CAST((CAST(jt2 AS DOUBLE) - e2)
                                 / (2 * sqrt(var)) AS DECIMAL(30,12)), 6)
                      AS DOUBLE) END AS z
FROM calc
""",
)
def revenue_trend_jt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED-alternative trend: Jonckheere-Terpstra test of whether
    per-line revenue (integer cents) is monotonically shifting across
    SHIP YEARS — the trend companion to nation_revenue_kruskal (KW asks
    "does ANY group differ?"; JT asks "do the groups drift in key
    order?", the question a drift monitor actually wants). Kernel:
    functions/stats.jonckheere_terpstra — doubled J stays an exact
    integer via two window prefix sums over the zero-filled
    |years| x |distinct values| grid; the tie-corrected null variance
    (Hollander & Wolfe 6.19) assembles from exact DECIMAL group-size
    and tie-count sums, doubles only in the final one-row z."""
    from ..functions.stats import jonckheere_terpstra

    li = fx._read(spark, sf_dir, "lineitem")
    vals = li.select(
        F.year(F.col("l_shipdate")).cast("int").alias("g"),
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
    )
    return jonckheere_terpstra(vals, "v", "g")


@_register("gopher_keep_rate_by_source", tx.GOPHER_KEEP_RATE_SQL)
def gopher_keep_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-gate health: each ingestion source's Gopher
    keep rate in exact ppm plus per-rule failure counts and tokenless
    implicit rejects — the table that catches a feed turning into boilerplate
    before it pollutes the training mix. All-integer contingency over
    the rule battery's flags; one |sources|-bounded aggregation."""
    return tx.gopher_keep_rate_by_source(
        fx._read(spark, sf_dir, "documents")
    )
