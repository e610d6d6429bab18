"""Property-based checks (SURVEY.md §5.4, hypothesis):

- aggregate invariance under input row order (the distributed-execution
  property: partition order must not change results)
- end-of-week state equals the row with the max (date, tiebreak)
- weekly sums equal daily sums rolled up
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from retail_etl_pipeline_spark.operators import retail

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_row = st.tuples(
    st.integers(0, 2),                      # store_key
    st.integers(0, 2),                      # prod_key
    st.dates(datetime.date(2024, 1, 1), datetime.date(2024, 2, 10)),
    st.integers(0, 50),                     # qty (integral doubles)
    st.integers(0, 1000),                   # amt cents
)

_rows = st.lists(_row, min_size=1, max_size=25)


def _frame(spark, rows):
    data = [
        (s, p, d, float(q), c / 100.0, c / 200.0)
        for (s, p, d, q, c) in rows
    ]
    return spark.createDataFrame(
        data,
        "store_key int, prod_key int, trans_dt date, sales_qty double, "
        "sales_amt double, sales_cost double",
    )


@given(rows=_rows, seed=st.randoms())
@_settings
def test_weekly_agg_invariant_under_row_order(spark, rows, seed):
    df1 = retail.weekly_sales_agg(retail.add_week(_frame(spark, rows), "trans_dt"))
    shuffled = list(rows)
    seed.shuffle(shuffled)
    df2 = retail.weekly_sales_agg(
        retail.add_week(_frame(spark, shuffled), "trans_dt")
    )
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))


@given(rows=_rows)
@_settings
def test_weekly_sum_equals_daily_rollup(spark, rows):
    f = retail.add_week(_frame(spark, rows), "trans_dt")
    weekly = f.groupBy("yr_wk_num").agg(F.sum("sales_qty").alias("q")).collect()
    daily_then_weekly = (
        f.groupBy("yr_wk_num", "trans_dt")
        .agg(F.sum("sales_qty").alias("dq"))
        .groupBy("yr_wk_num")
        .agg(F.sum("dq").alias("q"))
        .collect()
    )
    assert {r["yr_wk_num"]: r["q"] for r in weekly} == {
        r["yr_wk_num"]: r["q"] for r in daily_then_weekly
    }


@given(rows=_rows)
@_settings
def test_eow_is_argmax_row(spark, rows):
    # unique tiebreaker: row index
    data = [
        (s, p, d, float(i), float(q))
        for i, (s, p, d, q, _c) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "store_key int, prod_key int, cal_dt date, rid double, v double"
    )
    got = {
        (r["store_key"], r["prod_key"]): r["eow_v"]
        for r in retail.eow_snapshot_maxby(
            df,
            grain=["store_key", "prod_key"],
            order_cols=["cal_dt", "rid"],
            value_cols={"v": "eow_v"},
        ).collect()
    }
    expected: dict = {}
    best: dict = {}
    for s, p, d, rid, v in data:
        k = (s, p)
        if k not in best or (d, rid) > best[k]:
            best[k] = (d, rid)
            expected[k] = v
    assert got == expected


def test_scd2_intervals_partition_the_timeline(spark, sf_dir):
    """SCD2 invariants per (store, prod): one interval per snapshot,
    no overlaps (next valid_from = prev valid_to + 1 day), exactly one
    open interval capped at the sentinel."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from retail_etl_pipeline_spark.registry import QUERIES

    iv = QUERIES["inventory_scd2_intervals"](spark, sf_dir)
    w = Window.partitionBy("store_key", "prod_key").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w)
    gaps = iv.withColumn("next_from", nxt).where(
        F.col("next_from").isNotNull()
        & (F.col("next_from") != F.date_add(F.col("valid_to"), 1))
    )
    assert gaps.count() == 0
    open_per_key = (
        iv.where(F.col("valid_to") == F.lit("9999-12-31").cast("date"))
        .groupBy("store_key", "prod_key")
        .count()
        .where(F.col("count") != 1)
    )
    assert open_per_key.count() == 0


def test_running_total_ends_at_group_sum(spark, sf_dir):
    """The last cumulative value per store equals the store's total weekly
    revenue (decimal-summed, like the operator)."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.registry import QUERIES

    run = QUERIES["running_revenue_by_store"](spark, sf_dir)
    final = run.groupBy("store_key").agg(
        F.max_by("cum_rev", "yr_wk_num").alias("last_cum"),
        F.round(F.sum(F.col("wk_rev").cast("decimal(30,6)")), 2)
        .cast("double")
        .alias("total"),
    )
    assert final.where(F.col("last_cum") != F.col("total")).count() == 0


_vec = st.lists(
    st.floats(
        min_value=-100.0,
        max_value=100.0,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=2,
    max_size=8,
)
_vecs = st.lists(_vec, min_size=1, max_size=6)


@given(vecs=_vecs)
@_settings
def test_quantize_codes_bounded_and_reconstruction_error(spark, vecs):
    """int8 codes stay in [0, 255] and dequantized values land within half
    a quantization step of the original — the contract that makes the op
    a usable storage path, for ANY input vector."""
    from retail_etl_pipeline_spark.operators.similarity import (
        _as_double,
        embedding_quantize,
    )
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    scale = (mx - mn) / F.lit(255.0)
    code = (
        F.when(mx == mn, F.lit(0.0))
        .otherwise(F.floor((F.col("x") - mn) / scale + F.lit(0.5)))
    )
    per_elem = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .select("vec_id", "v", F.explode("v").alias("x"))
        .select(
            "vec_id",
            code.alias("q"),
            # dequantize and compare (constant vectors reconstruct to mn)
            (F.abs(mn + code * scale - F.col("x"))
             / F.when(scale == 0, F.lit(1.0)).otherwise(scale)).alias("err_steps"),
        )
    )
    rows = per_elem.collect()
    assert all(0 <= r["q"] <= 255 for r in rows)
    assert all(r["err_steps"] <= 0.5 + 1e-9 for r in rows)
    # the registered checksum equals the sum of the per-element codes
    got = {
        r["vec_id"]: r["code_sum"] for r in embedding_quantize(emb).collect()
    }
    expect: dict[int, int] = {}
    for r in rows:
        expect[r["vec_id"]] = expect.get(r["vec_id"], 0) + int(r["q"])
    assert got == expect


@given(ids=st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=60))
@_settings
def test_corpus_split_partition_of_ids(spark, ids):
    """Split assignment is a total function of doc_id: every id gets
    exactly one of train/val/test, independent of the rest of the data."""
    from retail_etl_pipeline_spark.operators.corpus import split_assignment

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = df.select("doc_id", split_assignment().alias("split")).collect()
    assert len(out) == len(ids)
    assert all(r["split"] in ("train", "val", "test") for r in out)
    again = {
        r["doc_id"]: r["split"]
        for r in df.select(
            "doc_id", split_assignment().alias("split")
        ).collect()
    }
    assert {r["doc_id"]: r["split"] for r in out} == again


def test_zvalue_bijective_and_bounded(spark):
    """Property: the Morton interleave is a bijection on the grid and its
    output is bounded by 2^(n*bits); verified exhaustively on a 3-bit
    3-D grid (512 cells)."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.functions.zorder import zvalue

    n = 8
    df = spark.range(n * n * n).select(
        (F.col("id") % n).alias("x"),
        ((F.col("id") / n).cast("bigint") % n).alias("y"),
        ((F.col("id") / (n * n)).cast("bigint")).alias("z"),
    )
    vals = [
        r["m"]
        for r in df.select(
            zvalue([F.col("x"), F.col("y"), F.col("z")], 3).alias("m")
        ).collect()
    ]
    assert len(set(vals)) == n * n * n  # bijective
    assert min(vals) == 0 and max(vals) == n * n * n - 1  # exactly the cube


def test_snapshot_diff_partitioning_invariance(spark):
    """Property: the diff classification is identical under any input
    partitioning (fingerprints are row-local, the join is keyed)."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.operators.reconcile import snapshot_diff

    old = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    new = spark.range(100, 600).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    base = {
        r["status"]: r["n_keys"]
        for r in snapshot_diff(old, new, ["k"], [F.col("v")]).collect()
    }
    repart = {
        r["status"]: r["n_keys"]
        for r in snapshot_diff(
            old.repartition(13), new.repartition(3), ["k"], [F.col("v")]
        ).collect()
    }
    assert base == repart
    assert sum(base.values()) == 600  # every key in old ∪ new classified


@pytest.mark.parametrize(
    "name",
    [
        "weekly_summary",
        "weekly_summary_decimal",
        "pareto_customers",
        "rfm_segments",
        "incremental_weekly_rollup",
        "supplier_revenue_weighted_gini",   # two-level prefix sum offsets
        "store_revenue_cusum_breaches",     # partitioned prefix sum + min
        "daily_revenue_cusum_days",         # two-level sum THEN two-level min
        "nation_revenue_ks",                # partitioned ecdf-gap cumsum
        "event_type_steady_state",          # iterative fixed-point joins
        "part_abc_migration_matrix",        # two independent running sums
    ],
)
def test_results_identical_across_shuffle_parallelism(spark, sf_dir, name):
    """The cross-engine float-determinism contract, tested intra-engine:
    these queries' results must be IDENTICAL at 3 and 24 shuffle
    partitions — decimal sums, two-level rank offsets, and merge
    partials are all order/partitioning-independent by construction.
    These are exactly where partitioning-dependence would hide (money
    sums, global rank decomposition, run-merge, two-level prefix
    sums/mins, partitioned cumulative windows, fixed-point loops)."""
    from retail_etl_pipeline_spark.registry import QUERIES

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in (3, 24):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            spark.catalog.clearCache()
            rows = QUERIES[name](spark, sf_dir).collect()
            results[n] = sorted(tuple(r) for r in rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.clearCache()
    assert results[3] == results[24]


# --- packing index vs a pure-python model (round-3 continuation) ------------


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),               # source
            st.integers(min_value=0, max_value=10**6),  # doc_id (deduped below)
            st.one_of(
                st.none(),
                st.text(
                    alphabet="xy é", min_size=0, max_size=12
                ),
            ),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[1],
    ),
    st.integers(min_value=1, max_value=7),
)
@_settings
def test_packing_index_matches_python_model(spark, rows, block):
    """packing_index vs a direct sequential-python model: same token
    counts, same offsets, same block spans — for arbitrary small corpora
    including NULL and empty texts and multi-space strings."""
    from retail_etl_pipeline_spark.operators import corpus as cp

    df = spark.createDataFrame(
        rows, "source string, doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_tok"], r["first_block"],
            r["last_block"], r["spans_blocks"],
        )
        for r in cp.packing_index(df, block).collect()
    }

    def n_tok(t):
        if t is None:
            return 0
        # the engine's tokenizer: split(trim(t), '\s+') — an empty or
        # all-space string yields [''] (1 token), mirroring TOKENS_SQL
        import re as _re

        return len(_re.split(r"\s+", t.strip()))

    expected = {}
    for src in {r[0] for r in rows}:
        cursor = 0
        for s, d, t in sorted((r for r in rows if r[0] == src), key=lambda r: r[1]):
            n = n_tok(t)
            if n > 0:
                first = cursor // block
                last = (cursor + n - 1) // block
                expected[d] = (n, cursor, first, last, last - first + 1)
            else:
                expected[d] = (0, cursor, None, None, 0)
            cursor += n
    assert got == expected
