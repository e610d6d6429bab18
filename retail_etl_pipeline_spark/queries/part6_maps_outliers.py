"""Registry part6: query registrations, in original registry order.

Sections:
- MapType surface: from_json into map<string,bigint> + map functions —
- Grouping markers on multi-level rollups + ANSI-safe try_cast parsing —
- Product analytics: rolling active users via bounded contribution
- Split-leakage audit: near-dup clusters spanning train/val/test — the
- Remaining built-in surfaces with honest oracles: bitmap aggregates
- explode_outer: the keep-empty-rows generator variant — an enrichment
- Map higher-order functions + PSI distribution drift — the last two
- Round-4 additions: HLL mergeable distinct rollups, TPC-H Q12 shape,

Split from the monolithic registry.py (round 7); the
registration ORDER is load-bearing (the driver correctness
rotation walks QUERIES in insertion order) — append only,
never reorder (tests/test_rotation_guard.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..functions.metrics import MONEY_SUM_SQL
from ..functions.metrics import money
from ..functions.metrics import money_sum
from ..operators import corpus as cp
from ..operators import dedup as dd
from ..operators import fixtures_adapter as fx
from ..operators import graph as gph
from ..operators import sampling as sp
from ..operators import sketches as sk
from ..operators import text as tx
from ._base import (_register, _m, _ms)  # noqa: F401
from .part1_retail_flagship import (_with_events_cte)
from .part4_corpus_graph import (_copurchase_edges_shared)

# ---------------------------------------------------------------------------
# MapType surface: from_json into map<string,bigint> + map functions —
# schema-on-read for payloads whose KEY SET drifts (the struct form
# needs every key declared; the map form discovers them). Output stays
# scalar/string (map-typed result columns are not driver-hashable — the
# r2 representation-failure class).
# ---------------------------------------------------------------------------


@_register(
    "event_props_map",
    """
WITH kv AS (
  SELECT event_type,
         unnest(json_keys(props)) AS key,
         TRY_CAST(json_extract_string(props, '$.'
                                      || unnest(json_keys(props)))
                  AS BIGINT) AS val
  FROM events
  WHERE COALESCE(json_valid(props), FALSE)
)
SELECT event_type,
       string_agg(DISTINCT key, ',' ORDER BY key) AS keys_seen,
       CAST(COUNT(*) AS BIGINT) AS n_entries,
       CAST(SUM(val) AS BIGINT) AS sum_vals
FROM kv
GROUP BY event_type
""",
)
def event_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-drift-tolerant JSON parsing: props as ``map<string,bigint>``
    (no keys declared up front), exploded with ``explode(map)`` and
    profiled per event type — which keys appear, how many entries, the
    value sum. The map path is what ingest uses BEFORE a payload's
    schema is pinned; once keys stabilize, event_props_typed's struct
    form takes over (cheaper, typed). Map work happens JVM-side; the
    output is scalars + a sorted joined key list (map columns never
    reach the result — the driver's canonicalizer can't hash them).
    Drift guards: the oracle filters json_valid and TRY_CASTs values so
    malformed payloads degrade instead of erroring; note the engines'
    residual semantic difference under VALUE-type drift (Spark nulls
    the whole map for an unparsable value, DuckDB nulls just that
    entry) — the fixture contains neither, and event_props_typed is
    the query that counts malformed payloads deliberately."""
    ev = fx._read(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    kv = ev.select(
        "event_type", F.explode(m).alias("key", "val")
    )
    return kv.groupBy("event_type").agg(
        F.array_join(F.sort_array(F.collect_set("key")), ",").alias("keys_seen"),
        F.count(F.lit(1)).alias("n_entries"),
        F.sum("val").cast("bigint").alias("sum_vals"),
    )


# ---------------------------------------------------------------------------
# Grouping markers on multi-level rollups + ANSI-safe try_cast parsing —
# the last two scalar surfaces the inventory hadn't pinned.
# ---------------------------------------------------------------------------


@_register(
    "region_segment_rollup_gid",
    f"""
SELECT COALESCE(r.r_name, 'ALL') AS region,
       COALESCE(c.c_mktsegment, 'ALL') AS segment,
       CAST(2 * GROUPING(r.r_name) + GROUPING(c.c_mktsegment) AS BIGINT)
         AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {_ms("c.c_acctbal")} AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, c.c_mktsegment)
""",
)
def region_segment_rollup_gid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region/segment rollup with EXPLICIT grouping markers: gid =
    2*grouping(region) + grouping(segment) distinguishes detail rows
    from the subtotal levels — without it, a real region named 'ALL'
    would be indistinguishable from the rollup total (the classic
    COALESCE-label ambiguity). The marker is composed from grouping()
    bits identically on both engines rather than relying on either's
    grouping_id() bit order."""
    c = fx._read(spark, sf_dir, "customer")
    n = fx._read(spark, sf_dir, "nation")
    r = fx._read(spark, sf_dir, "region")
    base = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        base.rollup("r_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(F.col("c_acctbal")).alias("total_acctbal"),
            (
                2 * F.grouping("r_name") + F.grouping("c_mktsegment")
            ).cast("bigint").alias("gid"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "gid",
            "n_customers",
            "total_acctbal",
        )
    )


# engine-specific only in the cast keyword (Spark: STRING, DuckDB:
# VARCHAR); values round-trip through shortest-repr formatting on both,
# so the parsed-back doubles are identical
_MESSY_BAL_T = (
    "CASE WHEN s_suppkey % 7 = 0 THEN 'N/A'"
    " WHEN s_suppkey % 11 = 0 THEN ''"
    " ELSE CAST(s_acctbal AS {t}) END"
)
_MESSY_BAL = _MESSY_BAL_T.format(t="VARCHAR")
_MESSY_BAL_SPARK = _MESSY_BAL_T.format(t="STRING")


@_register(
    "supplier_try_cast_audit",
    f"""
WITH raw AS (
  SELECT s_nationkey, {_MESSY_BAL} AS bal_str FROM supplier
),
parsed AS (
  SELECT s_nationkey, bal_str, TRY_CAST(bal_str AS DOUBLE) AS bal
  FROM raw
)
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unparsable,
       {_ms("bal")} AS parsed_total
FROM parsed
GROUP BY s_nationkey
""",
)
def supplier_try_cast_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe parsing of messy numeric strings: under Spark 4's
    default ANSI mode a plain CAST on 'N/A' kills the whole job at row
    one; try_cast degrades the single row to NULL so the batch survives
    AND the failure count is reported per group (parse errors as data,
    not exceptions). Strings are deterministically dirtied from the
    fixture so the failure path is genuinely exercised."""
    s = fx._read(spark, sf_dir, "supplier")
    raw = s.select("s_nationkey", F.expr(_MESSY_BAL_SPARK).alias("bal_str"))
    parsed = raw.withColumn("bal", F.expr("try_cast(bal_str AS DOUBLE)"))
    return parsed.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unparsable"),
        money_sum(F.col("bal")).alias("parsed_total"),
    )


# ---------------------------------------------------------------------------
# Product analytics: rolling active users via bounded contribution
# explode (windowed COUNT DISTINCT without windowed count-distinct),
# and self-referential revenue anomaly days.
# ---------------------------------------------------------------------------


@_register(
    "daily_active_users_rolling",
    _with_events_cte("""
WITH acts AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events_norm
),
contrib AS (
  SELECT DISTINCT user_id,
         CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
                                     CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS target_day
  FROM acts
),
wau AS (
  SELECT target_day, CAST(COUNT(*) AS BIGINT) AS wau FROM contrib
  GROUP BY target_day
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM acts GROUP BY day
)
SELECT d.day, d.dau, w.wau,
       (d.dau * 1000000) // w.wau AS stickiness_ppm
FROM dau d JOIN wau w ON d.day = w.target_day
"""),
)
def daily_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day WAU per day, plus the DAU/WAU stickiness
    ratio (exact ppm). Windowed COUNT DISTINCT does not exist as a
    window function — the scale-safe form is the bounded CONTRIBUTION
    EXPLODE: each active (user, day) contributes to the 7 target days
    it keeps the user 'weekly-active' for, distinct once, then an
    ordinary groupBy. Fan-out is exactly the window width (7), the
    shuffle carries (user, day) pairs, and no per-day state or
    re-scan exists — against a naive per-day subquery re-scan this is
    the difference between O(days * events) and O(7 * events). Days are
    restricted to those with actual activity (no trailing phantom
    days past the data's end)."""
    ev = fx.events_stream(spark, sf_dir)
    acts = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = (
        acts.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("target_day"),
        )
        .distinct()
    )
    wau = contrib.groupBy("target_day").agg(F.count(F.lit(1)).alias("wau"))
    dau = acts.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, dau.day == wau.target_day).select(
        "day",
        "dau",
        "wau",
        F.expr("(dau * 1000000) div wau").alias("stickiness_ppm"),
    )


@_register(
    "store_revenue_anomaly_days",
    f"""
WITH {fx.SALES_CTE.strip()},
daily AS (
  SELECT store_key, trans_dt, {_ms("sales_amt")} AS day_rev
  FROM sales GROUP BY 1, 2
),
stats AS (
  SELECT store_key, trans_dt, day_rev,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(CAST(day_rev AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s1,
         CAST(SUM(CAST(day_rev * day_rev AS DECIMAL(30,6))) OVER w AS DOUBLE)
           AS s2
  FROM daily
  WINDOW w AS (
    PARTITION BY store_key ORDER BY trans_dt
    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING
  )
)
SELECT store_key, trans_dt,
       day_rev,
       {_m("(day_rev - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))")} AS z
FROM stats
WHERE n >= 14
  AND (s2 / n - (s1 / n) * (s1 / n)) > 0
  AND abs((day_rev - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 3
""",
)
def store_revenue_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose revenue sits more than 3 trailing sigmas from the
    store's OWN trailing distribution over its last 28 OBSERVED sales
    days (a ROWS frame — on a store with gaps that spans more calendar
    time than 28 days; swap to a RANGE frame over a day number for
    strict calendar windows). Trailing moments ride ONE frame window
    per store in exact DECIMAL (the moment-sum discipline: bit-stable
    under any partitioning); the z-score is identically-shaped double
    arithmetic rounded through the money hop. Days with fewer than 14
    trailing observations or zero variance are excluded (no z-score is
    defined there)."""
    s = fx.sales(spark, sf_dir)
    daily = s.groupBy("store_key", "trans_dt").agg(
        money_sum(F.col("sales_amt")).alias("day_rev")
    )
    w = (
        Window.partitionBy("store_key")
        .orderBy("trans_dt")
        .rowsBetween(-28, -1)
    )
    stats = daily.select(
        "store_key",
        "trans_dt",
        "day_rev",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("day_rev").cast("decimal(30,6)"))
        .over(w)
        .cast("double")
        .alias("s1"),
        F.sum((F.col("day_rev") * F.col("day_rev")).cast("decimal(30,6)"))
        .over(w)
        .cast("double")
        .alias("s2"),
    )
    z = F.expr("(day_rev - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))")
    var = F.expr("s2 / n - (s1 / n) * (s1 / n)")
    return stats.where(
        (F.col("n") >= 14) & (var > 0) & (F.abs(z) > 3)
    ).select("store_key", "trans_dt", "day_rev", money(z).alias("z"))


# ---------------------------------------------------------------------------
# Split-leakage audit: near-dup clusters spanning train/val/test — the
# dedup-aware split-integrity check (a near-duplicate of a training doc
# sitting in the test split contaminates evaluation even though the
# doc-level split is perfectly deterministic).
# ---------------------------------------------------------------------------

# ONE string surgery: the components query's final "  )\nSELECT ..."
# tail (including the reach CTE's closing paren, which picks up the
# comma the extended CTE list needs) becomes comp/labeled CTEs plus the
# leakage projection. The split CASE is the SHARED fragment from
# operators/corpus.py — same NULL-id guard as split_assignment(), not a
# re-derived copy that could drift.
_LEAKAGE_TAIL = """)
SELECT a AS doc_id, MIN(b) AS component
FROM reach
GROUP BY a"""
assert _LEAKAGE_TAIL in dd.NEARDUP_COMPONENTS_SQL
_LEAKAGE_SQL = dd.NEARDUP_COMPONENTS_SQL.strip().replace(
    _LEAKAGE_TAIL.strip(),
    f"""),
comp AS (
  SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
),
labeled AS (
  SELECT component, doc_id, {cp.SPLIT_CASE_SQL} AS split FROM comp
)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
       string_agg(DISTINCT split, ',' ORDER BY split) AS splits_seen,
       COUNT(DISTINCT split) > 1 AS leaks
FROM labeled
GROUP BY component""",
    1,
)


@_register("split_leakage_audit", _LEAKAGE_SQL)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: which splits its members landed in, and
    whether the cluster LEAKS across splits. Doc-level hash splits are
    deterministic but duplicate-blind — the audit composes the verified
    near-dup components with the split assignment (two existing bounded
    relations, one groupBy; no new scans of text). Leaking clusters are
    the re-assignment worklist (move the whole cluster to one split, or
    drop the eval-side members)."""
    docs = fx._read(spark, sf_dir, "documents")
    comp = dd.neardup_components(docs)
    labeled = comp.select(
        "component", "doc_id", cp.split_assignment().alias("split")
    )
    return labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("split").alias("n_splits"),
        F.array_join(F.sort_array(F.collect_set("split")), ",").alias(
            "splits_seen"
        ),
        (F.count_distinct("split") > 1).alias("leaks"),
    )


# ---------------------------------------------------------------------------
# Remaining built-in surfaces with honest oracles: bitmap aggregates
# (exact distinct via bitmap buckets), AES column encryption (roundtrip
# invariant — GCM ciphertexts are randomized, so the CHECK is the
# deterministic thing), and XPath extraction over synthesized XML
# (ground truth from the same synthesis arithmetic).
# ---------------------------------------------------------------------------


@_register(
    "nation_distinct_customers_bitmap",
    """
SELECT c_nationkey,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct_customers
FROM customer
GROUP BY c_nationkey
""",
)
def nation_distinct_customers_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per nation via Spark's bitmap aggregate
    family: keys bucket into 4096-bit bitmaps
    (bitmap_bucket_number / bitmap_bit_position), one
    bitmap_construct_agg per (nation, bucket), bitmap_count summed per
    nation. Same answer as COUNT(DISTINCT) — the oracle — but the
    shuffle carries fixed 512-byte bitmaps instead of raw key lists,
    and bucket bitmaps are mergeable partials (OR), the same algebra
    the incremental/LC rollups use. The distinct-count expansion
    Catalyst generates for COUNT(DISTINCT) is the thing this avoids."""
    c = fx._read(spark, sf_dir, "customer")
    per_bucket = (
        c.select(
            "c_nationkey",
            F.expr("bitmap_bucket_number(c_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(c_custkey)").alias("pos"),
        )
        .groupBy("c_nationkey", "bucket")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("n"))
    )
    return per_bucket.groupBy("c_nationkey").agg(
        F.sum("n").cast("bigint").alias("n_distinct_customers")
    )


@_register(
    "pii_encryption_roundtrip",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
       CAST(0 AS BIGINT) AS n_mismatched
FROM customer
""",
)
def pii_encryption_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption for PII at rest: aes_encrypt the customer
    name (AES-GCM — ciphertexts are RANDOMIZED per row per run, which is
    the security property), aes_decrypt it back, and verify the
    roundtrip row by row. The deterministic, oracle-checkable output is
    the invariant (every row decrypts to its original), not the
    ciphertext; the oracle states that invariant directly. Both
    directions run JVM-side in one projection — no Python, no shuffle
    beyond the count."""
    c = fx._read(spark, sf_dir, "customer")
    # 16-byte demo key (AES-128); real deployments pull this from a KMS
    rt = c.select(
        (
            F.expr(
                "aes_decrypt(aes_encrypt(c_name, '0123456789abcdef'),"
                " '0123456789abcdef')"
            ).cast("string")
            == F.col("c_name")
        ).alias("ok")
    )
    return rt.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip_ok"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_mismatched"),
    )


@_register(
    "event_xml_extract",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id % 1000) AS BIGINT) AS sum_codes
FROM events
WHERE event_id % 5 = 0
GROUP BY event_type
""",
)
def event_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath extraction surface: events wrapped into XML envelopes
    (synthesized deterministically — the fixture carries no XML) and the
    code read back with ``xpath_long``. The oracle computes the ground
    truth from the same synthesis arithmetic, so what is verified is
    that the XML parse path extracts exactly what was embedded — the
    legacy-feed ingestion pattern (SOAP/XML exports) without pretending
    the warehouse speaks XPath.

    Cost note: xpath_* is row-at-a-time Java DOM parsing — NOT codegen
    (measured ~5s for 240k rows at sf0.1, ~100x a regexp_extract). It
    exists for feeds that are genuinely XML; anything hot-path should
    regexp or pre-convert. The query runs on a deterministic 1-in-5
    slice — the surface demo doesn't need every row paying DOM cost."""
    ev = fx._read(spark, sf_dir, "events").where(
        F.col("event_id") % 5 == 0
    )
    xml = F.concat(
        F.lit("<ev><type>"),
        F.col("event_type"),
        F.lit("</type><code>"),
        (F.col("event_id") % 1000).cast("string"),
        F.lit("</code></ev>"),
    )
    parsed = ev.select("event_type", xml.alias("xml")).select(
        "event_type",
        F.expr("xpath_long(xml, '/ev/code/text()')").alias("code"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("code").cast("bigint").alias("sum_codes"),
    )


# ---------------------------------------------------------------------------
# explode_outer: the keep-empty-rows generator variant — an enrichment
# fan-out must not silently drop entities that have nothing to fan out
# (a plain explode of a doc's URL list loses every URL-less doc from the
# output, the generator-shaped cousin of the inner-join-drops-NULLs bug
# that lang_nullsafe_join pins).
# ---------------------------------------------------------------------------

_DOC_URLS_SQL = """CASE
  WHEN doc_id % 9 = 0 THEN
    ['https://a.example.org/p/' || CAST(doc_id % 50 AS VARCHAR),
     'https://b.example.org/q/' || CAST(doc_id % 50 AS VARCHAR)]
  WHEN doc_id % 3 = 0 THEN
    ['https://a.example.org/p/' || CAST(doc_id % 50 AS VARCHAR)]
  ELSE CAST([] AS VARCHAR[]) END"""


@_register(
    "docs_url_explode_outer",
    f"""
WITH withurls AS (
  SELECT doc_id, {_DOC_URLS_SQL} AS urls FROM documents
),
outered AS (
  SELECT doc_id,
         unnest(CASE WHEN len(urls) = 0 THEN [CAST(NULL AS VARCHAR)]
                ELSE urls END) AS url
  FROM withurls
)
SELECT url IS NOT NULL AS has_url,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_urls
FROM outered
GROUP BY 1
""",
)
def docs_url_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer over a synthesized per-doc URL list (two URLs,
    one, or none): URL-less docs survive as NULL-url rows, so the
    output accounts for EVERY document — the row-count audit that
    catches a plain explode silently dropping the empty-list entities.
    (DuckDB's unnest drops empties like explode does; the oracle
    emulates the outer form by substituting a [NULL] list.)"""
    d = fx._read(spark, sf_dir, "documents")
    n = (F.col("doc_id") % 50).cast("string")
    urls = (
        F.when(
            F.col("doc_id") % 9 == 0,
            F.array(
                F.concat(F.lit("https://a.example.org/p/"), n),
                F.concat(F.lit("https://b.example.org/q/"), n),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 0,
            F.array(F.concat(F.lit("https://a.example.org/p/"), n)),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    outered = d.select(
        "doc_id", F.explode_outer(urls).alias("url")
    )
    return outered.groupBy(F.col("url").isNotNull().alias("has_url")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_distinct("url").alias("n_distinct_urls"),
    )


# ---------------------------------------------------------------------------
# Map higher-order functions + PSI distribution drift — the last two
# round-4-queue items that are implementable here (map HOFs over the
# from_json map; PSI with decimal-rounded per-bin contributions).
# ---------------------------------------------------------------------------


@_register(
    "event_props_map_hof",
    """
WITH kv AS (
  SELECT event_type,
         unnest(json_keys(props)) AS key,
         TRY_CAST(json_extract_string(props, '$.'
                                      || unnest(json_keys(props)))
                  AS BIGINT) AS val
  FROM events
  WHERE COALESCE(json_valid(props), FALSE)
),
kept AS (
  -- map_filter(v >= 20) then transform_values(v -> v * 3 + 1)
  SELECT event_type, key, val * 3 + 1 AS val3
  FROM kv WHERE val >= 20
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept_entries,
       CAST(SUM(val3) AS BIGINT) AS sum_transformed
FROM kept
GROUP BY event_type
""",
)
def event_props_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: the parsed props map filtered with
    ``map_filter`` (drop entries under a threshold) and rewritten with
    ``transform_values`` — both JVM lambda HOFs running inside the
    projection, then exploded and aggregated. The per-entry pipeline a
    feature store runs on map-typed payloads; the oracle applies the
    same predicate/transform at the exploded-entry level. (HOF lambdas
    are interpreted, not codegen — fine once per entry; the hot-path
    caveat from SCALE.md's vector-math row applies at billions of
    entries.)"""
    ev = fx._read(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    transformed = F.transform_values(
        F.map_filter(m, lambda k, v: v >= 20),
        lambda k, v: v * 3 + 1,
    )
    kv = ev.select(
        "event_type", F.explode(transformed).alias("key", "val3")
    )
    return kv.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept_entries"),
        F.sum("val3").cast("bigint").alias("sum_transformed"),
    )


# PSI bins: token-length buckets of 8; add-1 smoothing keeps every bin
# strictly positive so ln(p/q) is defined.
_PSI_BINS = 8
_PSI_BUCKET_SQL = (
    "LEAST(CAST(len("
    + tx.TOKENS_SQL.format(c="text")
    + f") AS BIGINT) // 8, {_PSI_BINS - 1})"
)


@_register(
    "corpus_drift_psi",
    f"""
WITH b AS (
  SELECT doc_id % 2 = 0 AS cohort_a,
         {_PSI_BUCKET_SQL} AS bucket
  FROM documents
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN cohort_a THEN 1 ELSE 0 END) + 1 AS BIGINT) AS na,
         CAST(SUM(CASE WHEN cohort_a THEN 0 ELSE 1 END) + 1 AS BIGINT) AS nb
  FROM b GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM counts
),
contrib AS (
  SELECT bucket,
         CAST(round(CAST(
           (CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
           * ln((CAST(na AS DOUBLE) / ta) / (CAST(nb AS DOUBLE) / tb))
           AS DECIMAL(38,12)), 6) AS DECIMAL(38,6)) AS c
  FROM counts, tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(c) AS DOUBLE) AS psi
FROM contrib
""",
)
def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two corpus cohorts (even vs
    odd doc_id — the stand-in for yesterday-vs-today) over token-length
    bins: PSI = sum (p-q) * ln(p/q), the standard drift alarm for a
    training-data intake. Counts are exact with add-1 smoothing (every
    bin positive -> ln defined); each bin's contribution is computed in
    identically-shaped double arithmetic, rounded IN DECIMAL at 6
    places, and the total is an exact decimal sum — so the statistic is
    partition- and engine-stable up to ln()'s last-ulp (not formally
    correctly-rounded everywhere; a 1-ulp disagreement would need the
    contribution to sit within ~1e-16 of a 1e-6 rounding tie to
    surface — accepted and documented, same class as the equi-depth
    percentile interpolation)."""
    d = fx._read(spark, sf_dir, "documents")
    bucket = F.least(
        (tx.token_count(F.col("text")) / 8).cast("bigint"),
        F.lit(_PSI_BINS - 1),
    )
    b = d.select(
        (F.col("doc_id") % 2 == 0).alias("cohort_a"), bucket.alias("bucket")
    )
    counts = b.groupBy("bucket").agg(
        (F.sum(F.when(F.col("cohort_a"), 1).otherwise(0)) + 1)
        .cast("bigint")
        .alias("na"),
        (F.sum(F.when(F.col("cohort_a"), 0).otherwise(1)) + 1)
        .cast("bigint")
        .alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
    )
    contrib = counts.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "CAST(round(CAST("
            "(CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)"
            " * ln((CAST(na AS DOUBLE) / ta) / (CAST(nb AS DOUBLE) / tb))"
            " AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))"
        ).alias("c")
    )
    return contrib.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("c").cast("double").alias("psi"),
    )


# KL / JS divergence twins of corpus_drift_psi (VERDICT r4 item 5) — same
# bins, same add-1 smoothing, same decimal-rounded per-bin-contribution
# trick; the shared expression fragments below are evaluated verbatim by
# BOTH engines so the double arithmetic shape is identical. The ln() ulp
# caveat is documented ONCE on corpus_drift_psi and applies here equally.
_DRIFT_PA = "(CAST(na AS DOUBLE) / ta)"
_DRIFT_PB = "(CAST(nb AS DOUBLE) / tb)"
_DRIFT_PM = f"(({_DRIFT_PA} + {_DRIFT_PB}) / 2)"
_DRIFT_KL_AB = f"{_DRIFT_PA} * ln({_DRIFT_PA} / {_DRIFT_PB})"
_DRIFT_KL_BA = f"{_DRIFT_PB} * ln({_DRIFT_PB} / {_DRIFT_PA})"
# integer /2 (not a 0.5 literal — decimal literal typing differs between
# engines) keeps the halving in pure double arithmetic on both sides
_DRIFT_JS = (
    f"({_DRIFT_PA} * ln({_DRIFT_PA} / {_DRIFT_PM})"
    f" + {_DRIFT_PB} * ln({_DRIFT_PB} / {_DRIFT_PM})) / 2"
)


def _drift6(x: str) -> str:
    """Decimal-rounded per-bin contribution (see corpus_drift_psi)."""
    return f"CAST(round(CAST({x} AS DECIMAL(38,12)), 6) AS DECIMAL(38,6))"


@_register(
    "corpus_drift_kl_js",
    f"""
WITH b AS (
  SELECT doc_id % 2 = 0 AS cohort_a,
         {_PSI_BUCKET_SQL} AS bucket
  FROM documents
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN cohort_a THEN 1 ELSE 0 END) + 1 AS BIGINT) AS na,
         CAST(SUM(CASE WHEN cohort_a THEN 0 ELSE 1 END) + 1 AS BIGINT) AS nb
  FROM b GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
  FROM counts
),
contrib AS (
  SELECT bucket,
         {_drift6(_DRIFT_KL_AB)} AS c_ab,
         {_drift6(_DRIFT_KL_BA)} AS c_ba,
         {_drift6(_DRIFT_JS)} AS c_js
  FROM counts, tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(c_ab) AS DOUBLE) AS kl_ab,
       CAST(SUM(c_ba) AS DOUBLE) AS kl_ba,
       CAST(SUM(c_js) AS DOUBLE) AS js
FROM contrib
""",
)
def corpus_drift_kl_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kullback-Leibler (both directions) and Jensen-Shannon divergence
    between the two corpus cohorts over the same token-length bins as
    corpus_drift_psi — the asymmetric and the bounded-symmetric members
    of the drift-alarm family (PSI alarms on magnitude, KL on direction,
    JS stays in [0, ln 2] for dashboards). Same engineering: exact
    smoothed counts, per-bin contributions in engine-identical double
    expressions rounded IN DECIMAL at 6 places, exact decimal total;
    the ln() ulp caveat documented on corpus_drift_psi applies."""
    d = fx._read(spark, sf_dir, "documents")
    bucket = F.least(
        (tx.token_count(F.col("text")) / 8).cast("bigint"),
        F.lit(_PSI_BINS - 1),
    )
    b = d.select(
        (F.col("doc_id") % 2 == 0).alias("cohort_a"), bucket.alias("bucket")
    )
    counts = b.groupBy("bucket").agg(
        (F.sum(F.when(F.col("cohort_a"), 1).otherwise(0)) + 1)
        .cast("bigint")
        .alias("na"),
        (F.sum(F.when(F.col("cohort_a"), 0).otherwise(1)) + 1)
        .cast("bigint")
        .alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
    )
    contrib = counts.crossJoin(F.broadcast(tot)).select(
        F.expr(_drift6(_DRIFT_KL_AB)).alias("c_ab"),
        F.expr(_drift6(_DRIFT_KL_BA)).alias("c_ba"),
        F.expr(_drift6(_DRIFT_JS)).alias("c_js"),
    )
    return contrib.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("c_ab").cast("double").alias("kl_ab"),
        F.sum("c_ba").cast("double").alias("kl_ba"),
        F.sum("c_js").cast("double").alias("js"),
    )


# Recursive CTE (WITH RECURSIVE, Spark 4.1 SPARK-24497): the SQL-surface
# iteration primitive, run by BOTH engines from the SAME statement. The
# demo recursion is an acyclic hierarchy walk (implicit binary tree over
# part keys: parent(n) = n div 2, root 1 — the org-chart/BOM traversal
# shape), which UNION ALL recursion handles exactly: every node has one
# path from the root, so no row is ever produced twice and total work is
# O(N) over ~log2(N) recursion levels. Cyclic-graph BFS/components stay
# on the DataFrame-loop operators (operators/graph.py, dedup.py):
# cycle-safe recursion needs UNION-distinct termination, which Spark 4.1
# rejects (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — with UNION ALL a
# bounded walk over the dense co-purchase graph enumerates all paths
# (degree^hops explosion), which no engine should run at scale.
_PART_TREE_RECURSIVE_SQL = f"""
WITH RECURSIVE tree(node, depth, price) AS (
  SELECT p_partkey, 0, p_retailprice FROM part WHERE p_partkey = 1
  UNION ALL
  SELECT p.p_partkey, t.depth + 1, p.p_retailprice
  FROM part p JOIN tree t ON CAST(FLOOR(p.p_partkey / 2) AS BIGINT) = t.node
  WHERE p.p_partkey > 1
)
SELECT CAST(depth AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(node) AS BIGINT) AS min_part,
       CAST(MAX(node) AS BIGINT) AS max_part,
       {MONEY_SUM_SQL.format(x="price")} AS total_price
FROM tree
GROUP BY depth
"""


@_register(
    "nation_balance_dominance_cogrouped",
    """
WITH nk AS (
  SELECT c_nationkey AS nationkey FROM customer
  UNION
  SELECT s_nationkey FROM supplier
),
pairs AS (
  SELECT c.c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM customer c JOIN supplier s
    ON c.c_nationkey = s.s_nationkey AND c.c_acctbal <= s.s_acctbal
  GROUP BY c.c_nationkey
),
nc AS (
  SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY c_nationkey
),
ns AS (
  SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM supplier GROUP BY s_nationkey
)
SELECT CAST(nk.nationkey AS INTEGER) AS nationkey,
       CAST(COALESCE(pairs.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_cust,
       CAST(COALESCE(ns.n, 0) AS BIGINT) AS n_supp
FROM nk
LEFT JOIN pairs USING (nationkey)
LEFT JOIN nc USING (nationkey)
LEFT JOIN ns USING (nationkey)
""",
)
def nation_balance_dominance_cogrouped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Co-grouped applyInPandas — the one Arrow exchange shape the
    grouped-map/map-partitions operators don't cover: customers and
    suppliers are grouped by nation INDEPENDENTLY and each nation's two
    Arrow batches arrive together in one Python call (full-outer over
    keys: a side absent from a nation arrives as an empty frame). The
    kernel is the classic cogroup workload — per-key rank matching: how
    many (customer, supplier) pairs have customer balance <= supplier
    balance, via one sort + vectorized searchsorted per nation instead
    of the |C|x|S| pair join the oracle spells out. Comparisons only
    (no float arithmetic), so parity is exact.

    Scale: parallelism unit = grouping key; each nation's two frames
    must fit a worker's Arrow batch memory (same contract as every
    grouped applyInPandas), and the sort+searchsorted kernel is
    O((|C|+|S|) log |C|) per key vs the join's O(|C|x|S|) pairs."""
    import numpy as np
    import pandas as pd

    c = fx._read(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal"
    )
    s = fx._read(spark, sf_dir, "supplier").select(
        "s_nationkey", "s_acctbal"
    )

    def dominance(key, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        cb = np.sort(cdf["c_acctbal"].to_numpy(dtype="float64"))
        sb = sdf["s_acctbal"].to_numpy(dtype="float64")
        n_pairs = int(np.searchsorted(cb, sb, side="right").sum())
        return pd.DataFrame(
            {
                "nationkey": np.array([key[0]], dtype="int32"),
                "n_pairs": np.array([n_pairs], dtype="int64"),
                "n_cust": np.array([len(cb)], dtype="int64"),
                "n_supp": np.array([len(sb)], dtype="int64"),
            }
        )

    return (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(
            dominance,
            "nationkey int, n_pairs bigint, n_cust bigint, n_supp bigint",
        )
    )


# correlated LATERAL derived table (Spark 4 LateralJoin; the SQL-surface
# twin of the window top-k-per-group): both engines run the IDENTICAL
# statement. Spark de-correlates this to a DomainJoin + per-domain limit
# internally — the declared form stays the textbook per-row subquery.
_LATERAL_TOP2_SQL = """
SELECT c.c_custkey AS c_custkey,
       t.o_orderkey AS o_orderkey,
       t.o_totalprice AS o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 2
) t
WHERE c.c_nationkey = 3
"""


@_register("customer_top2_orders_lateral", _LATERAL_TOP2_SQL)
def customer_top2_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer (one nation) via a correlated LATERAL
    derived table — the SQL-surface form of top-k-per-group, next to
    the window/WindowGroupLimit DataFrame form (top3_parts_per_brand)
    and the UDTF lateral (udtf_part_words). Both engines execute the
    identical statement; ordering is on the STORED o_totalprice (no
    arithmetic, so no float-parity engineering) with an orderkey
    tie-break for deterministic LIMIT selection."""
    fx._read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    fx._read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_TOP2_SQL)


@_register("part_tree_depth_recursive", _PART_TREE_RECURSIVE_SQL)
def part_tree_depth_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup via a recursive CTE, executed by spark.sql from
    the IDENTICAL statement the DuckDB oracle runs: walk the implicit
    part-key binary tree from the root and aggregate per depth (count,
    key range, decimal-rounded price mass). Every node keyed >= 2 has
    exactly one parent (node div 2) and node 0 is excluded as its own
    parent (a self-loop would never terminate under UNION ALL) — see
    the module comment for why cyclic BFS remains a DataFrame loop."""
    fx._read(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_PART_TREE_RECURSIVE_SQL)


# ---------------------------------------------------------------------------
# Round-4 additions: HLL mergeable distinct rollups, TPC-H Q12 shape,
# A-Res weighted sampling, bounded BFS, correlated scalar subqueries
# ---------------------------------------------------------------------------


@_register(
    "nation_customer_hll",
    """
SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS approx_distinct
FROM customer
GROUP BY c_nationkey
""",
)
def nation_customer_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation distinct customers via Apache DataSketches HLL
    (hll_sketch_agg + hll_sketch_estimate). At fixture scale every group
    sits inside the sketch's exact coupon regime (sketches.HLL_LGK
    docstring), so the oracle is the plain COUNT(DISTINCT) — the
    estimate must EQUAL it. The point of the operator is the 100 TB
    shape: distinct-count state per group is a bounded sketch, not a
    hash set of raw ids."""
    c = fx._read(spark, sf_dir, "customer")
    return sk.hll_distinct(c, "c_nationkey", "c_custkey")


@_register(
    "region_customer_hll_merge",
    """
SELECT CAST(n.n_regionkey AS INTEGER) AS n_regionkey,
       CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS approx_distinct
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_regionkey
""",
)
def region_customer_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-level distinct customers by MERGING the per-nation HLL
    sketches (hll_union_agg) — never re-touching the raw customer rows.
    This is the mergeable-partials algebra that makes a 100 TB
    distinct-count rollup incremental: store per-day/per-shard sketches
    (bytes each), union upward on demand; same family as
    incremental_weekly_rollup and monthly_distinct_customers_lc. The
    broadcast nation dim assigns regions to the 25 sketch rows."""
    c = fx._read(spark, sf_dir, "customer")
    n = fx._read(spark, sf_dir, "nation")
    partials = sk.hll_sketch_per_group(c, "c_nationkey", "c_custkey")
    tagged = partials.join(
        F.broadcast(n.select("n_nationkey", "n_regionkey")),
        partials.c_nationkey == F.col("n_nationkey"),
    )
    return sk.hll_merge_estimate(tagged, "n_regionkey")


@_register(
    "incremental_nation_hll_rollup",
    """
SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS approx_distinct
FROM customer
GROUP BY c_nationkey
""",
)
def incremental_nation_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-union INCREMENTALITY proof — the actual reason to store
    sketches: the customer fact is split into two disjoint 'runs'
    (custkey parity = history vs today), each run builds its per-nation
    HLL partials independently, and the runs are folded with
    hll_union_agg — never re-touching run A's raw rows. Shares
    nation_customer_hll's COUNT(DISTINCT) oracle, so the driver proves
    merge(sketch(A), sketch(B)) == direct(A ∪ B) exactly (fixture
    groups sit in the coupon regime; see sketches.HLL_LGK). The HLL
    member of the incremental_weekly_rollup family; the three-slice
    fold is pinned in tests/test_merge_folds.py."""
    c = fx._read(spark, sf_dir, "customer")
    history = c.filter(F.col("c_custkey") % 2 == 0)
    today = c.filter(F.col("c_custkey") % 2 == 1)
    partials = sk.hll_sketch_per_group(
        history, "c_nationkey", "c_custkey"
    ).unionByName(sk.hll_sketch_per_group(today, "c_nationkey", "c_custkey"))
    return sk.hll_merge_estimate(partials, "c_nationkey")


@_register(
    "lineitem_q12_linestatus",
    """
SELECT l_linestatus AS shipmode_proxy,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
      + INTERVAL 90 DAY
  AND CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
GROUP BY l_linestatus
""",
)
def lineitem_q12_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted to the fixture schema (no l_shipmode /
    l_receiptdate — DEVNOTES queue: linestatus is the mode proxy, and
    "late" is shipped >90 days after order date): per-mode counts of
    critical- vs normal-priority lineitems shipped late in 1995
    (the fixture's shipdates start 1995-01-02). The
    priority CASE is evaluated from the broadcast-joined orders side;
    the date filters prune at the lineitem scan."""
    o = fx._read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("odate")
    )
    l = fx._read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", F.to_date("l_shipdate").alias("sdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.where(
            (F.col("sdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("sdate") < F.lit("1996-01-01").cast("date"))
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("sdate") > F.date_add(F.col("odate"), 90))
        .groupBy(F.col("l_linestatus").alias("shipmode_proxy"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@_register(
    "documents_weighted_sample_ares",
    f"""
WITH ranked AS (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {sp.ares_key_sql("doc_id", "n_chars")} DESC, doc_id ASC
         ) AS INTEGER) AS sample_rank
  FROM documents
)
SELECT source, doc_id, sample_rank FROM ranked WHERE sample_rank <= 3
""",
)
def documents_weighted_sample_ares(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-weighted 3-per-source sample in the A-Res (reservoir)
    distribution — the exact weighted-without-replacement twin of the
    Duffield priority sample in documents_weighted_sample (see
    operators/sampling.ares_sample_per_group for when each bias is the
    right one). Deterministic: same hash-uniform, key rounded in
    decimal, id tie-break."""
    d = fx._read(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return sp.ares_sample_per_group(
        d, "source", "doc_id", "n_chars", k=3
    ).select("source", "doc_id", "sample_rank")


@_register("copurchase_bfs_hops", gph.bfs_oracle_sql(rounds=4))
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the part co-purchase graph: per-hop node
    histogram within 4 hops of the smallest part key. The third
    iterative-graph primitive next to PageRank (value iteration) and
    min-label propagation (component flood) — min-plus relaxation with
    a sentinel for unreached nodes, exactly unrolled in the oracle."""
    dist = gph.bfs_hops(_copurchase_edges_shared(spark, sf_dir), rounds=4)
    return (
        dist.where(F.col("hops") < gph.BFS_INF)
        .groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )


@_register(
    "customer_above_nation_avg",
    """
SELECT CAST(c.c_nationkey AS INTEGER) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_above
FROM customer c
WHERE CAST(c.c_acctbal AS DECIMAL(30,6))
      * (SELECT COUNT(*) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(30,6))) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c.c_nationkey
""",
)
def customer_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their own nation's average balance, written as
    CORRELATED scalar subqueries (the classic decorrelation shape:
    Catalyst rewrites both subqueries into one aggregate + join — no
    per-row re-execution). The comparison is cross-engine exact:
    ``bal * n > sum`` in decimal instead of ``bal > avg`` in double
    (double averages diverge by accumulation order at ties)."""
    fx._read(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
SELECT CAST(c.c_nationkey AS INT) AS c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_above
FROM customer c
WHERE CAST(c.c_acctbal AS DECIMAL(30,6))
      * (SELECT COUNT(*) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(30,6))) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c.c_nationkey
"""
    )
