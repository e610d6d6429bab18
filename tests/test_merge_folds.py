"""Mergeable state folds: a per-group state table folded over three
disjoint slices of its input (``key % 3``) reproduces the one-pass batch
result exactly.

Each fold is the run-over-run shape an incremental rollup persists: the
state holds bounded partials per group (HLL sketch bytes, per-value
counts, unrounded decimal day sums, decimal rollup partials), never raw
rows, and each slice merges in O(|slice| + |groups|). ``merge_partials`` has its own
associativity test in ``test_operators_unit.py``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_etl_pipeline_spark.operators import fixtures_adapter as fx


def _fold(df, slice_key, delta, merge):
    """Left-fold ``merge`` over ``delta`` of the three slices
    ``slice_key % 3 == i`` — the order an incremental run applies them."""
    return reduce(
        merge, [delta(df.filter(F.col(slice_key) % 3 == i)) for i in range(3)]
    )


def test_hll_sketch_fold_equals_batch(spark, sf_dir):
    """Sketch union is associative and commutative: per-nation HLL
    sketches of three customer slices, folded with ``hll_union_agg``,
    give exactly the one-pass batch estimate."""
    from retail_etl_pipeline_spark.operators import sketches as sk

    c = fx._read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    state = _fold(
        c,
        "c_custkey",
        lambda part: sk.hll_sketch_per_group(part, "c_nationkey", "c_custkey"),
        lambda state, delta: state.unionByName(delta)
        .groupBy("c_nationkey")
        .agg(F.expr("hll_union_agg(sk, false)").alias("sk")),
    )
    folded = {
        (r["c_nationkey"], r["approx_distinct"])
        for r in sk.hll_merge_estimate(state, "c_nationkey").collect()
    }
    direct = {
        (r["c_nationkey"], r["approx_distinct"])
        for r in sk.hll_distinct(c, "c_nationkey", "c_custkey").collect()
    }
    assert folded == direct and len(direct) > 1


def test_ks_drift_count_fold_equals_batch(spark, sf_dir):
    """The KS kernel's only state is the per-value (ca, cb) count table,
    and counts merge by addition, so the statistic over the folded
    counts equals the batch statistic exactly: every downstream step of
    ``ks_statistic`` is integer arithmetic over those counts. The same
    state serves Mann-Whitney (``mann_whitney_u2``), which also reads
    only per-value counts."""
    from retail_etl_pipeline_spark.functions.stats import (
        ks_statistic,
        mann_whitney_u2,
    )

    li = fx._read(spark, sf_dir, "lineitem")
    vals = li.select(
        (F.col("l_quantity") % 50).cast("long").alias("v"),
        (F.col("l_orderkey") % 2 == 0).alias("a"),
    )
    state = _fold(
        vals,
        "v",
        lambda part: part.groupBy("v").agg(
            F.sum(F.when(F.col("a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("a"), 0).otherwise(1)).alias("cb"),
        ),
        lambda state, delta: state.unionByName(delta)
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb")),
    )
    # re-expand the folded counts into the kernel's (v, flag) shape:
    # the kernels only ever see counts, so count-weighted rows are
    # exactly equivalent
    folded_rows = state.select(
        "v",
        F.explode(
            F.concat(
                F.expr("array_repeat(true, CAST(ca AS INT))"),
                F.expr("array_repeat(false, CAST(cb AS INT))"),
            )
        ).alias("a"),
    )
    folded = ks_statistic(folded_rows, "v", "a").collect()[0]
    direct = ks_statistic(vals, "v", "a").collect()[0]
    assert tuple(folded) == tuple(direct)

    mwu_folded = mann_whitney_u2(folded_rows, "v", "a").collect()[0]
    mwu_direct = mann_whitney_u2(vals, "v", "a").collect()[0]
    spark.catalog.clearCache()
    assert tuple(mwu_folded) == tuple(mwu_direct)


def test_cusum_from_folded_daily_state(spark, sf_dir):
    """The CUSUM alarm is prefix-dependent and does not merge, but its
    input, per-day UNROUNDED decimal revenue sums, does. Rounding to
    cents happens after the merge (rounded partials would drift by a
    cent), so the breach set recomputed over the folded |days|-row
    state equals the batch answer exactly: mu, k, the prefix sum and
    the prefix min are all integer or decimal arithmetic over those
    sums."""
    from retail_etl_pipeline_spark.functions.stats import with_cusum_by

    o = fx._read(spark, sf_dir, "orders")
    vals = o.select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").cast("decimal(30,6)").alias("amt"),
        "o_orderkey",
    )

    def day_sums(df):
        return df.groupBy("d").agg(
            F.sum("amt").cast("decimal(38,6)").alias("amt")
        )

    def breaches(daily):
        """(d, amt) -> sorted (day, cusum) breaches of one global series:
        ``with_cusum_by`` over a constant group key."""
        cents = daily.select(
            "d",
            (F.round(F.col("amt"), 2) * 100).cast("bigint").alias("cents"),
            F.lit(1).alias("g"),
        )
        wg = Window.partitionBy("g")
        ann = cents.withColumn(
            "tot", F.sum(F.col("cents").cast("decimal(38,0)")).over(wg)
        ).withColumn("nd", F.count(F.lit(1)).over(wg))
        dev = ann.select(
            "g",
            "d",
            F.expr("CAST(tot div nd AS DECIMAL(38,0))").alias("mu"),
            "cents",
        ).select(
            "g",
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
        c = with_cusum_by(dev, ["g"], [F.col("d")], "dev")
        return sorted(
            (r.d, int(r.cusum))
            for r in c.where(F.col("cusum") > F.col("mu")).collect()
        )

    state = _fold(
        vals,
        "o_orderkey",
        day_sums,
        lambda state, delta: day_sums(state.unionByName(delta)),
    )
    direct = breaches(day_sums(vals))
    assert breaches(state) == direct
    assert len(direct) > 0  # the fixture does breach
    spark.catalog.clearCache()


def test_incremental_state_fold_equals_batch(spark, sf_dir, tmp_path):
    """The weekly rollup's partial state, persisted to parquet after each
    of three runs (one ``trans_id % 3`` slice per run) and read back
    before the next merge, finalizes to exactly the direct batch rollup:
    the decimal partials survive the parquet round trip unchanged, so
    the fold does not depend on how the input was split into runs.
    Runs write alternating A/B state paths, as a production fold does,
    so no run overwrites the state it is reading."""
    from retail_etl_pipeline_spark.operators import retail
    from retail_etl_pipeline_spark.operators.incremental import (
        finalize_rollup,
        merge_partials,
        rollup_partials,
    )

    s = retail.add_week(fx.sales(spark, sf_dir), "trans_dt")
    state_path = None
    for i in range(3):
        delta = rollup_partials(s.filter(F.col("trans_id") % 3 == i))
        state = (
            delta
            if state_path is None
            else merge_partials(spark.read.parquet(state_path), delta)
        )
        state_path = str(tmp_path / "ab"[i % 2])
        state.write.mode("overwrite").parquet(state_path)

    got = sorted(
        tuple(r)
        for r in finalize_rollup(spark.read.parquet(state_path)).collect()
    )
    want = sorted(
        tuple(r) for r in finalize_rollup(rollup_partials(s)).collect()
    )
    assert got == want and len(want) > 1
