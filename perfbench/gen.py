"""Seeded input generation for the benchmark.

Everything here runs before the engine's Spark session starts and uses
only numpy, pyarrow and DuckDB, so generating inputs never warms the JVM
that is later timed.

Two kinds of input are written under a run directory:

- fixture-shaped parquet tables (``region`` ... ``embeddings``) with the
  column names, types and value domains of the TPC-H-ish fixtures the
  registered queries read (FIXTURES.md, TESTDATA.md). Row counts scale
  with ``sf`` as in the fixtures (6,000,000 x sf lineitem rows);
- the reference's five retail CSVs for each run date of a fixed week.
  Each date is a cumulative "rows up to the cut-off date" snapshot of
  sales and inventory (the reference's ``Data Load.sql`` filter), derived
  from the generated lineitem table with the same role mapping as
  ``operators/fixtures_adapter.py``.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: The fixed week of daily run dates (the last week of lineitem ship
#: dates, so every snapshot carries nearly the whole history).
RUN_DATES = tuple(
    (dt.date(2001, 10, 29) + dt.timedelta(days=i)).isoformat() for i in range(7)
)

_EPOCH = dt.date(1970, 1, 1)
_WORDS = (
    "a the data spark stream batch table row column key value part line "
    "order customer join sort hash scan filter group agg merge window query "
    "vector fast slow big small"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - _EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture-shaped tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object)
        ),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_us(rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_us(rng.integers(_days(1995, 1, 2), _days(2001, 11, 5), n_line)),
    })
    start_us = _days(2024, 1, 1) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENTS, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), n)])
        for n in rng.integers(10, 100, n_doc)
    ]
    # ~1% exact duplicates, so dedup paths have work to do
    for i in rng.choice(np.arange(1, n_doc), size=max(1, n_doc // 100), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    dim = 64
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_fixtures(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every fixture table as a view."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for name in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, name + '.parquet')}'"
        )
    return con


# Retail star-schema views over the generated lineitem/part/supplier
# tables: the role mapping of operators/fixtures_adapter.py plus the DDL
# columns the CSV contract carries (FIXTURES.md section A).
_RETAIL_VIEWS = {
    "sales": """
        SELECT CAST(l_orderkey AS INTEGER) AS trans_id,
               CAST(l_partkey AS INTEGER) AS prod_key,
               CAST(l_suppkey AS INTEGER) AS store_key,
               CAST(l_shipdate AS DATE) AS trans_dt,
               CAST(l_linenumber * 100 AS INTEGER) AS trans_time,
               l_quantity AS sales_qty,
               round(l_extendedprice / l_quantity, 2) AS sales_price,
               l_extendedprice * (1 - l_discount) AS sales_amt,
               l_discount AS discount,
               l_extendedprice * (1 - l_discount) * (1 - l_tax) AS sales_cost,
               l_extendedprice * (1 - l_discount) * l_tax AS sales_mgrn,
               l_tax AS ship_cost
        FROM lineitem""",
    "inventory": """
        SELECT CAST(l_shipdate AS DATE) AS cal_dt,
               CAST(l_suppkey AS INTEGER) AS store_key,
               CAST(l_partkey AS INTEGER) AS prod_key,
               sum(l_quantity) * (0.25 + (l_partkey % 7) * 0.25) AS inventory_on_hand_qty,
               sum(l_quantity) * (0.5 + (l_suppkey % 4) * 0.25) AS inventory_on_order_qty,
               CAST(max(CASE WHEN l_discount >= 0.06 THEN 1 ELSE 0 END) AS INTEGER)
                   AS out_of_stock_flg,
               0.0 AS waste_qty,
               bool_or(l_discount >= 0.09) AS promotion_flg,
               CAST(l_shipdate AS DATE) + 7 AS next_delivery_dt
        FROM lineitem GROUP BY 1, 2, 3, l_partkey, l_suppkey""",
    "product": """
        SELECT CAST(p_partkey AS INTEGER) AS prod_key, p_name AS prod_name,
               CAST(p_size AS DOUBLE) AS vol, 1.0 AS wgt, p_brand AS brand_name,
               1 AS status_code, 'active' AS status_code_name,
               CAST(p_size % 6 AS INTEGER) AS category_key, p_type AS category_name,
               CAST(p_size AS INTEGER) AS subcategory_key,
               p_type || '-' || p_size AS subcategory_name
        FROM part""",
    "store": """
        SELECT CAST(s_suppkey AS INTEGER) AS store_key, 'S' || s_suppkey AS store_num,
               s_name AS store_desc, 'addr ' || s_suppkey AS addr,
               'city ' || (s_suppkey % 50) AS city, r_name AS region,
               'C' || n_nationkey AS cntry_cd, n_name AS cntry_nm,
               lpad(CAST(s_suppkey AS VARCHAR), 5, '0') AS postal_zip_cd,
               'state' AS prov_state_desc, 'ST' AS prov_state_cd,
               'T' || (s_suppkey % 3) AS store_type_cd, 'type' AS store_type_desc,
               s_suppkey % 2 = 0 AS frnchs_flg, abs(s_acctbal) AS store_size,
               CAST(n_regionkey AS INTEGER) AS market_key, r_name AS market_name,
               CAST(n_nationkey AS INTEGER) AS submarket_key, n_name AS submarket_name,
               0.0 AS latitude, 0.0 AS longitude
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey""",
    "calendar": """
        SELECT d AS cal_dt, 'day' AS cal_type_desc,
               CAST(isodow(d) AS VARCHAR) AS day_of_wk_num,
               dayname(d) AS day_of_wk_desc,
               CAST(year(d) AS INTEGER) AS yr_num,
               CAST(weekofyear(d) AS INTEGER) AS wk_num,
               CAST(isoyear(d) * 100 + weekofyear(d) AS INTEGER) AS yr_wk_num,
               CAST(month(d) AS INTEGER) AS mnth_num,
               CAST(year(d) * 100 + month(d) AS INTEGER) AS yr_mnth_num,
               CAST(quarter(d) AS INTEGER) AS qtr_num,
               CAST(year(d) * 10 + quarter(d) AS INTEGER) AS yr_qtr_num
        FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem)""",
}
_DATE_COL = {"sales": "trans_dt", "inventory": "cal_dt", "calendar": "cal_dt"}


def write_retail_csvs(
    con: duckdb.DuckDBPyConnection, input_dir: str
) -> dict[str, dict[str, int]]:
    """Write ``{table}_{YYYYMMDD}.csv`` for every run date and return, per
    run date, the data rows across its five CSVs (``rows``) and the number
    of (week, store, product) groups its weekly summary must publish
    (``groups``), both counted here independently of the engine."""
    os.makedirs(input_dir, exist_ok=True)
    for name, sql in _RETAIL_VIEWS.items():
        con.sql(f"CREATE OR REPLACE TABLE retail_{name} AS {sql}")
    expected: dict[str, dict[str, int]] = {}
    for run_date in RUN_DATES:
        stamp = run_date.replace("-", "")
        rows = 0
        for name in _RETAIL_VIEWS:
            cut = (
                f" WHERE {_DATE_COL[name]} <= DATE '{run_date}'"
                if name in _DATE_COL else ""
            )
            path = os.path.join(input_dir, f"{name}_{stamp}.csv")
            con.sql(
                f"COPY (SELECT * FROM retail_{name}{cut}) TO '{path}' "
                "(HEADER, DELIMITER ',')"
            )
            rows += con.sql(f"SELECT count(*) FROM retail_{name}{cut}").fetchone()[0]
        groups = con.sql(f"""
            SELECT count(*) FROM (
              SELECT DISTINCT c.yr_wk_num, s.store_key, s.prod_key
              FROM retail_sales s
              JOIN retail_inventory i ON s.prod_key = i.prod_key
                AND s.store_key = i.store_key AND s.trans_dt = i.cal_dt
              JOIN retail_calendar c ON s.trans_dt = c.cal_dt
              WHERE s.trans_dt <= DATE '{run_date}')""").fetchone()[0]
        expected[run_date] = {"rows": rows, "groups": groups}
    return expected
