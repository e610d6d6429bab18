"""Exact distributed statistics kernels.

Families: bivariate moment sums (OLS/corr closed forms), Gini — plain,
weighted (trapezoid Lorenz), and Lorenz buckets — Theil (index and
between/within decomposition), Atkinson, two-sample drift (KS and
Mann–Whitney U/z, each with a group-stratified twin), Kaplan–Meier
survival (plain and stratified with Greenwood SE, median pick), and
CUSUM change detection (global two-level and group-partitioned).

The shared discipline (DEVNOTES "moment-sum regression recipe"): pin
every input to an INTEGER (cents, day offsets, decimal-rounded ln
micros) *before* any aggregation, accumulate in DECIMAL(38,0) — exact,
order-independent, combine-friendly — and leave only the final ratio to
double (on bit-identical inputs) or to exact integer division. The
cluster answer then equals the local answer bit-for-bit at any
partitioning, which is what makes these kernels oracle-checkable and
safe to re-plan at 100 TB. Stratified variants replace the two-level
global machinery with plain group-partitioned windows — per-task state
is one group's rows, never the banned empty-partitionBy shape.

Property-tested against exact-fraction/float Python oracles in
``tests/test_stats_kernels.py`` and ``tests/test_r6_kernels.py``;
exercised end-to-end by the registered inequality/drift/survival
queries in ``queries/`` with their DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def moment_sums(
    df: DataFrame, group_cols: list[str], x: Column, y: Column
) -> DataFrame:
    """Per-group bivariate moment sums: n, Σx, Σy, Σx², Σy², Σxy, all
    in DECIMAL(38,0).

    ``x`` and ``y`` MUST already be integer-valued (the caller pins
    units — cents, micros, day offsets); they are cast to
    DECIMAL(38,0) here so every partial is exact. From these six
    numbers every closed-form OLS/correlation statistic follows
    without a second pass:

    - slope      = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    - intercept  = (Σy − slope·Σx) / n
    - pearson r  = (n·Σxy − Σx·Σy) / √((n·Σx²−(Σx)²)(n·Σy²−(Σy)²))

    Plan: ONE hash aggregation with map-side partials; nothing about
    the result depends on row order or partition count.
    """
    xd = x.cast("decimal(38,0)").alias("x")
    yd = y.cast("decimal(38,0)").alias("y")
    staged = df.select(*group_cols, xd, yd)
    xc, yc = F.col("x"), F.col("y")
    return staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum(xc * xc).alias("sxx"),
        F.sum(yc * yc).alias("syy"),
        F.sum(xc * yc).alias("sxy"),
    )


#: closed forms over the moment_sums schema, shared between the Spark
#: expression and (modulo HUGEINT casts) the DuckDB oracles. Exact
#: integer division — Spark decimal ``div``; the DuckDB twin must use
#: HUGEINT ``//`` (DECIMAL ``//`` routes through double there and flips
#: floor on near-integer quotients — observed off-by-one at sf0.001).
SLOPE_PPM_EXPR = (
    "CAST(((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx) AS BIGINT)"
)
CORR_NUM_EXPR = "CAST(n * sxy - sx * sy AS DOUBLE)"
CORR_DEN_EXPR = (
    "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy"
    " AS DOUBLE))"
)


def gini_ppm(df: DataFrame, value_col: str, tiebreak_col: str) -> DataFrame:
    """One-row Gini coefficient of an integer-valued column, in ppm:
    ``(n, total, gini_ppm)``.

    Uses the ascending-rank closed form
    ``G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)`` — algebraically equal to
    the textbook mean-absolute-difference form
    ``Σ_i Σ_j |x_i − x_j| / (2 n² μ)`` but computable with ONE global
    sort instead of an all-pairs join (the property test pins the
    equivalence). The global rank runs through
    :func:`..functions.ordered.with_global_rank` — range shuffle +
    partition-local row_number with literal offsets, no one-task
    window. Ties in ``value_col`` contribute the same Σ i·x whatever
    their relative order, so the ``tiebreak_col`` only pins plan
    determinism, not the value.
    """
    from .ordered import with_global_rank

    ranked, _n = with_global_rank(
        df, [F.col(value_col), F.col(tiebreak_col)], rank_col="_gini_i"
    )
    agg = ranked.select(
        F.col(value_col).cast("decimal(38,0)").alias("x"),
        F.col("_gini_i").cast("decimal(38,0)").alias("i"),
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("total"),
        F.expr(
            "CAST(((2 * six - (n + 1) * sx) * 1000000) div (n * sx)"
            " AS BIGINT)"
        ).alias("gini_ppm"),
    )


def gini_weighted_ppm(
    df: DataFrame, value_col: str, weight_col: str, tiebreak_col: str
) -> DataFrame:
    """One-row population-weighted Gini of an integer-valued column with
    integer weights, in ppm: ``(n, total_w, gini_ppm)``.

    Trapezoid Lorenz form over the ascending value order:
    ``G = 1 − Σ w_i·(2S_i − w_i·x_i) / (W·S)`` with ``S_i`` the running
    Σw·x — one exact DECIMAL prefix sum (:func:`..functions.ordered.
    with_running_sum`), all integer arithmetic, final value as ONE
    floor division ``((W·S − N)·1e6) div (W·S)`` so the w≡1 case equals
    :func:`gini_ppm` BIT-FOR-BIT (the rank form's numerator identity
    ``R = nS − N`` is exact; pinned by the property test, along with
    weight-replication equivalence: integer weights == the replicated
    multiset). Tie blocks are order-insensitive in this form (the
    within-block sum is symmetric in the tied rows' weights), so the
    tiebreak only pins plan determinism."""
    from .ordered import with_running_sum

    staged = df.select(
        F.col(value_col).cast("decimal(38,0)").alias("x"),
        F.col(weight_col).cast("decimal(38,0)").alias("w"),
        F.col(tiebreak_col).alias("tb"),
        (
            F.col(value_col).cast("decimal(38,0)")
            * F.col(weight_col).cast("decimal(38,0)")
        ).alias("wx"),
    )
    run, s_total = with_running_sum(
        staged, [F.asc("x"), F.asc("tb")], "wx", running_col="s"
    )
    agg = run.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("w").alias("tw"),
        F.sum(
            (F.col("w") * (2 * F.col("s") - F.col("wx"))).cast(
                "decimal(38,0)"
            )
        ).alias("num"),
        F.sum("wx").alias("s_n"),
    )
    return agg.select(
        "n",
        F.col("tw").cast("bigint").alias("total_w"),
        F.expr(
            "CAST(((tw * s_n - num) * 1000000) div NULLIF(tw * s_n, 0)"
            " AS BIGINT)"
        ).alias("gini_ppm"),
    )


def ks_statistic(
    df: DataFrame, value_col: str, flag_col: str
) -> DataFrame:
    """One-row exact two-sample Kolmogorov–Smirnov statistic between
    the ``flag_col``=true and =false populations of an integer-valued
    column: ``(n_a, n_b, ks_ppm, at_value)``.

    Identity that makes it one pass: with per-value counts (ca, cb)
    and totals (na, nb), the SCALED ecdf gap at v is
    ``Ca(v)·nb − Cb(v)·na`` — a running sum of the per-value delta
    ``ca·nb − cb·na`` — so sup|ecdfA − ecdfB| needs exactly one exact
    decimal prefix sum (:func:`..functions.ordered.with_running_sum`,
    two-level range-partitioned) over the value-grouped counts, then
    bounded scalar aggregates. ``ks_ppm = max|gap|·1e6 div (na·nb)``
    in exact integer division; ``at_value`` pins the argmax with a
    MIN(v) tie-break.
    """
    from .ordered import with_running_sum

    cnt = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ca"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum("cb").cast("decimal(38,0)").alias("nb"),
    )
    delta = cnt.crossJoin(F.broadcast(tot)).select(
        "v",
        "na",
        "nb",
        (F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    run, _tot = with_running_sum(delta, [F.col("v")], "d", running_col="rd")
    # max AND argmax in ONE aggregation over the persisted running-sum
    # relation: max(struct(|rd|, -v)) = (max |rd|, -min v among exact
    # ties) — the r6 struct-max rewrite (see ks_statistic_by); na/nb
    # ride along (constant per row), so the totals subtree is not
    # re-evaluated by the final projection
    res = run.agg(
        F.max(
            F.struct(
                F.abs(F.col("rd")).alias("m"),
                (-F.col("v")).alias("nv"),
            )
        ).alias("mx"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    return res.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr("CAST((mx.m * 1000000) div (na * nb) AS BIGINT)").alias(
            "ks_ppm"
        ),
        (-F.col("mx.nv")).cast("bigint").alias("at_value"),
    )


def ks_statistic_by(
    df: DataFrame, group_cols: list[str], value_col: str, flag_col: str
) -> DataFrame:
    """Stratified exact two-sample KS: :func:`ks_statistic` per group —
    ``(*group_cols, n_a, n_b, ks_ppm, at_value)``.

    Same scaled-ecdf-gap identity, but the group key partitions every
    window (real partitions — NOT the banned empty-partitionBy shape),
    so the two-level running-sum machinery is unnecessary: per-task
    state is one group's distinct values. Group totals ride a
    whole-partition frame (computed once per partition — the allowed
    frame class); the prefix sum is a plain partitioned cumulative
    window. A group with one side empty has no defined statistic →
    ks_ppm NULL (via NULLIF). Unit-tested per group against the
    unstratified kernel.

    The max AND its argmax come from ONE lexicographic struct-max
    aggregation — max(struct(|rd|, -v)) is (max |rd|, -min v among the
    exact-decimal ties), the tie rule the two-branch max + filter-back
    formulation implemented. The single aggregation matters for the
    plan, not just elegance: `run` is consumed once, so the
    scan→count→window subtree appears ONCE in the physical plan (the
    r6 plan audit found the branchy form re-computing it 3x — 9 scans
    for a one-scan query; this form is 1 scan / 3 exchanges, measured
    4.9s → ~2s at sf0.1)."""
    from pyspark.sql.window import Window

    cnt = df.groupBy(*group_cols, F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ca"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    wg = Window.partitionBy(*group_cols)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        cnt.withColumn("na", F.sum("ca").over(wg))
        .withColumn("nb", F.sum("cb").over(wg))
        .withColumn(
            "rd",
            F.sum(
                (F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
                .cast("decimal(38,0)")
            ).over(w),
        )
    )
    g = run.groupBy(*group_cols, "na", "nb").agg(
        F.max(
            F.struct(
                F.abs(F.col("rd")).alias("m"),
                (-F.col("v")).alias("nv"),
            )
        ).alias("mx")
    )
    return g.select(
        *group_cols,
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((mx.m * 1000000) div NULLIF(na * nb, 0) AS BIGINT)"
        ).alias("ks_ppm"),
        (-F.col("mx.nv")).cast("bigint").alias("at_value"),
    )


def round6(c: Column) -> Column:
    """6-decimal presentation rounding via the decimal hop at scale 6 —
    the money() discipline for correlation/entropy outputs where 2
    decimals is too coarse. ``round(double, 6)`` directly would diverge
    between engines on exact half-way ties; routing through
    DECIMAL(30,12) makes the tie-break rule (HALF_UP) explicit and
    engine-identical."""
    return F.round(c.cast("decimal(30,12)"), 6).cast("double")


def theil_index(df: DataFrame, value_col: str) -> DataFrame:
    """One-row Theil T index of a positive integer-valued column:
    ``(n, theil_index)``.

    T = (1/n)·Σ (x/μ)·ln(x/μ), computed as Σ x·ln(x·n/Σx) / Σx: each
    ln argument is a ratio of exact DECIMAL(38,0) products cast to
    double (bit-identical on both engines — no float accumulation
    feeds the transcendental), the per-row contribution is
    decimal-rounded at 6 places then summed exactly, so the index is
    independent of partitioning and accumulation order. Rows with
    x <= 0 are excluded (0·ln 0 = 0 by convention; negatives have no
    entropy reading). Properties pinned by the unit tests: zero at
    perfect equality, scale-invariant (T(λx) = T(x) up to the rounding
    hop), approaching ln(n) as one holder takes everything."""
    pos = df.where(F.col(value_col) > 0)
    tot = pos.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).alias("sx"),
    )
    contrib = pos.crossJoin(F.broadcast(tot)).select(
        "n",
        "sx",
        (
            F.col(value_col).cast("decimal(38,0)")
            * F.round(
                F.log(
                    (
                        F.col(value_col).cast("decimal(38,0)") * F.col("n")
                    ).cast("double")
                    / F.col("sx").cast("double")
                ).cast("decimal(38,12)"),
                6,
            ).cast("decimal(38,6)")
        ).alias("c"),
    )
    return (
        contrib.groupBy("n", "sx")
        .agg(F.sum("c").alias("sc"))
        .select(
            F.col("n").cast("bigint").alias("n"),
            round6(
                F.col("sc").cast("double") / F.col("sx").cast("double")
            ).alias("theil_index"),
        )
    )


def lorenz_buckets(
    df: DataFrame, value_col: str, tiebreak_col: str, buckets: int = 10
) -> DataFrame:
    """Lorenz curve of an integer-valued column at ``buckets``
    resolution: ``(bucket, n_rows, bucket_total, share_ppm,
    cum_share_ppm)`` — the distribution table behind the Gini scalar
    ("bottom 50% hold X%, top decile holds Y%").

    Buckets come from the exact two-level NTILE
    (:func:`..functions.ordered.with_global_rank` + ``ntile_from_rank``
    — identical tie handling to SQL NTILE, no one-task window); shares
    are exact integer division of DECIMAL(38,0) sums. The cumulative
    sum runs as a broadcast non-equi self-join of the ``buckets``-row
    relation — bounded by buckets², never by data. Invariants pinned by
    the unit tests: bucket sizes differ by at most 1 with the larger
    buckets FIRST (SQL NTILE), bucket totals sum to the grand total,
    cum share is monotone and ends at exactly 1_000_000 ppm."""
    from .ordered import ntile_from_rank, with_global_rank

    ranked, n = with_global_rank(
        df, [F.col(value_col), F.col(tiebreak_col)], rank_col="_lz_rk"
    )
    dec = ranked.select(
        ntile_from_rank("_lz_rk", n, buckets).alias("bucket"),
        F.col(value_col).alias("_v"),
    )
    d = dec.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("_v").cast("decimal(38,0)")).alias("dc"),
    )
    t = d.agg(F.sum("dc").alias("total"))
    a, b = d.alias("a"), d.select("bucket", "dc").alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.bucket") <= F.col("a.bucket"))
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.sum(F.col("b.dc")).alias("cum"))
    )
    return (
        d.join(cum, "bucket")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_rows",
            F.col("dc").cast("bigint").alias("bucket_total"),
            F.expr("CAST((dc * 1000000) div total AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr("CAST((cum * 1000000) div total AS BIGINT)").alias(
                "cum_share_ppm"
            ),
        )
        .orderBy("bucket")
    )


def kaplan_meier(life: DataFrame) -> DataFrame:
    """Kaplan–Meier product-limit survival curve from an ``(t, ev)``
    lifetimes relation (integer duration, event flag 1/0 — 0 is a
    right-censored observation): one row per event time,
    ``(t_days, n_at_risk, n_events, survival)``.

    S(t) = Π_{u ≤ t} (1 − d_u/n_u) over event times u, with the
    at-risk count n_u = #{subjects with lifetime ≥ u} — censored
    subjects leave the risk set without an event, which is the whole
    point of KM versus a naive event-time ecdf. Distributed shape:

    - per-time (d, c) counts: one hash aggregation;
    - n via an exact DECIMAL suffix sum — :func:`with_running_sum`
      over DESC time (range shuffle + bounded partials, no one-task
      window);
    - the product becomes a SUM of per-event ln(1 − d/n) terms, each
      a ratio of exact integers evaluated in double and
      decimal-rounded at 6 places BEFORE the (exact) cumulative sum —
      the corpus_drift_psi discipline, so the curve is independent of
      partitioning; ln/exp carry the documented cross-engine ulp
      caveat absorbed by the rounding hops.
    - n = d can only happen at the LAST event time (nobody remains at
      risk beyond it), where S is exactly 0 — emitted as a literal,
      never ln(0).

    The relation is bounded by distinct durations (days), so both
    running sums see tiny inputs; the heavy work is the one groupBy.
    """
    per_t = life.groupBy("t").agg(
        F.sum("ev").cast("decimal(38,0)").alias("d"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c"),
    )
    from .ordered import with_running_sum

    risk, _tot = with_running_sum(per_t, [F.desc("t")], "c", running_col="n")
    evr = risk.where(F.col("d") > 0).select(
        "t",
        "d",
        "n",
        F.when(
            F.col("n") > F.col("d"),
            F.round(
                F.log(
                    (F.col("n") - F.col("d")).cast("double")
                    / F.col("n").cast("double")
                ).cast("decimal(38,12)"),
                6,
            ).cast("decimal(38,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(38,6)"))
        .alias("lf"),
    )
    curve, _t2 = with_running_sum(evr, [F.asc("t")], "lf", running_col="cum")
    return curve.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("n") == F.col("d"), F.lit(0.0))
        .otherwise(round6(F.exp(F.col("cum").cast("double"))))
        .alias("survival"),
    ).orderBy("t_days")


def mann_whitney_u2(df: DataFrame, value_col: str, flag_col: str) -> DataFrame:
    """One-row exact two-sample Mann–Whitney rank-sum statistic, doubled
    to stay integer under ties: ``(n_a, n_b, u2_a)`` with
    ``u2_a = 2·U_A`` where ``U_A = #{(a,b): a > b} + ½·#{a = b}``.

    The rank-based drift twin beside :func:`ks_statistic` (KS reacts to
    any ecdf gap; U reacts to stochastic dominance). One-pass identity
    over per-value counts (ca, cb) in ascending value order: an *a* at
    value v beats every *b* below v and half-ties the cb_v at v, so
    ``2U = Σ_v ca_v · (2·CumB(<v) + cb_v)`` — one hash aggregation plus
    one exact DECIMAL prefix sum (:func:`..functions.ordered.
    with_running_sum`, two-level, no one-task window). All integer
    arithmetic; property-tested against the brute-force pair count.
    Consistency check: ``u2_a + u2_b = 2·n_a·n_b``.
    """
    from .ordered import with_running_sum

    cnt = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ca"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    run, _tot = with_running_sum(cnt, [F.col("v")], "cb", running_col="cumb")
    per = run.select(
        "ca",
        "cb",
        (
            F.col("ca")
            * (2 * (F.col("cumb") - F.col("cb")) + F.col("cb"))
        )
        .cast("decimal(38,0)")
        .alias("t"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return per.agg(
        F.coalesce(F.sum("ca"), zero).cast("bigint").alias("n_a"),
        F.coalesce(F.sum("cb"), zero).cast("bigint").alias("n_b"),
        F.coalesce(F.sum("t"), zero).cast("bigint").alias("u2_a"),
    )


def mann_whitney_z(df: DataFrame, value_col: str, flag_col: str) -> DataFrame:
    """:func:`mann_whitney_u2` plus the tie-corrected normal-
    approximation z-score: ``(n_a, n_b, u2_a, z)``.

    z = (U − na·nb/2) / √var with the tie-corrected variance
    var = (na·nb/12)·[(n+1) − Σ(t³−t)/(n(n−1))] over pooled tie-group
    sizes t — in the doubled-U form z = (u2 − na·nb) / (2·√var), so the
    numerator stays an exact integer. Every var input (na, nb, n,
    Σ(t³−t)) is an exact DECIMAL integer; the z expression is ONE fixed
    double formula over those integers (bit-identical cross-engine) and
    the output takes the scale-6 rounding hop. No continuity
    correction (documented; both engines identical either way).
    z is NULL when either side is empty or the variance is 0 (all
    pooled values tied). Same one-aggregation + one-prefix-sum plan as
    the base kernel, with Σ(t³−t) riding the same aggregation."""
    from .ordered import with_running_sum

    cnt = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ca"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    run, _tot = with_running_sum(cnt, [F.col("v")], "cb", running_col="cumb")
    per = run.select(
        "ca",
        "cb",
        (
            F.col("ca")
            * (2 * (F.col("cumb") - F.col("cb")) + F.col("cb"))
        )
        .cast("decimal(38,0)")
        .alias("t"),
        F.expr(
            "CAST((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)"
            " AS DECIMAL(38,0))"
        ).alias("tie3"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    agg = per.agg(
        F.coalesce(F.sum("ca"), zero).alias("na"),
        F.coalesce(F.sum("cb"), zero).alias("nb"),
        F.coalesce(F.sum("t"), zero).alias("u2"),
        F.coalesce(F.sum("tie3"), zero).alias("stie"),
    )
    z = F.expr(
        "CAST(u2 - na * nb AS DOUBLE)"
        " / (2.0 * sqrt((CAST(na * nb AS DOUBLE) / 12.0)"
        " * (CAST(na + nb + 1 AS DOUBLE)"
        "    - CAST(stie AS DOUBLE)"
        "      / CAST((na + nb) * (na + nb - 1) AS DOUBLE))))"
    )
    var_pos = F.expr(
        "na > 0 AND nb > 0 AND"
        " CAST(na + nb + 1 AS DOUBLE)"
        " - CAST(stie AS DOUBLE) / CAST((na + nb) * (na + nb - 1) AS DOUBLE)"
        " > 0"
    )
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("u2").cast("bigint").alias("u2_a"),
        F.when(var_pos, round6(z)).otherwise(F.lit(None).cast("double")).alias(
            "z"
        ),
    )


def mann_whitney_u2_by(
    df: DataFrame, group_cols: list[str], value_col: str, flag_col: str
) -> DataFrame:
    """Stratified :func:`mann_whitney_u2`: the doubled exact U per
    group — ``(*group_cols, n_a, n_b, u2_a)``.

    Same per-value identity, with the group key partitioning the one
    cumulative window (plain partitioned window — per-task state is
    one group's distinct values, no two-level machinery), then one
    bounded aggregation per group. Completes the stratified drift
    trio beside :func:`ks_statistic_by` and :func:`with_cusum_by`;
    per-group parity with the unstratified kernel is unit-tested."""
    from pyspark.sql.window import Window

    cnt = df.groupBy(*group_cols, F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(flag_col), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ca"),
        F.sum(F.when(F.col(flag_col), 0).otherwise(1))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = cnt.withColumn("cumb", F.sum("cb").over(w))
    return run.groupBy(*group_cols).agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(
            (
                F.col("ca")
                * (2 * (F.col("cumb") - F.col("cb")) + F.col("cb"))
            ).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("u2_a"),
    )


def atkinson_index(df: DataFrame, value_col: str) -> DataFrame:
    """One-row Atkinson inequality index at aversion ε=1 of a
    non-negative integer-valued column: ``(n, atkinson)`` with
    ``A = 1 − geomean(x)/mean(x)`` ∈ [0, 1).

    Same ln-micros discipline as :func:`theil_index`: each ln(x) is a
    double of an exact integer (bit-identical cross-engine),
    decimal-rounded at 6 places, summed exactly; only the final
    ``exp(Σln/n)·n/Σx`` runs in double. Any x = 0 collapses the
    geometric mean to exactly 0 → A = 1 without evaluating ln(0);
    an all-zero (Σx = 0) input has no defined inequality → NULL.
    Negatives are the caller's bug (raise-by-contract: money/counts).
    """
    base = df.select(F.col(value_col).cast("decimal(38,0)").alias("x"))
    agg = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.when(F.col("x") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nz"),
        F.sum(
            F.when(
                F.col("x") > 0,
                F.round(
                    F.log(F.col("x").cast("double")).cast("decimal(38,12)"),
                    6,
                ).cast("decimal(38,6)"),
            ).otherwise(F.lit(0).cast("decimal(38,6)"))
        ).alias("slog"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.when(F.col("sx") <= 0, F.lit(None).cast("double"))
        .when(F.col("nz") > 0, F.lit(1.0))
        .otherwise(
            round6(
                F.lit(1.0)
                - F.exp(
                    F.col("slog").cast("double") / F.col("n").cast("double")
                )
                * F.col("n").cast("double")
                / F.col("sx").cast("double")
            )
        )
        .alias("atkinson"),
    )


def theil_decomposition(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-row between/within decomposition of the Theil T index over a
    grouping column: ``(n, n_groups, theil_total, theil_between,
    theil_within)``.

    Exact additive identity (pre-rounding):
    ``Σx·ln(xn/S) = Σx·ln(x·n_g/S_g) + Σ_g S_g·ln(S_g·n/(S·n_g))`` —
    total = within + between, each term ÷ S. Every ln argument is a
    ratio of exact DECIMAL(38,0) products evaluated in double
    (bit-identical cross-engine), contributions decimal-rounded at 6
    places then summed exactly (the :func:`theil_index` discipline), so
    the decomposition is partitioning-independent and the additivity
    holds to ~1e-6 (pinned by the unit test). Rows with x ≤ 0 are
    excluded as in :func:`theil_index`. Plan: one row-level join to the
    per-group sums (AQE sizes it; groups relation ≪ rows), one
    broadcast of the 1-row total, three bounded aggregations.
    """
    pos = df.where(F.col(value_col) > 0).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("decimal(38,0)").alias("x"),
    )
    grp = pos.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ng"),
        F.sum("x").alias("sg"),
    )
    tot = grp.agg(
        F.sum("ng").cast("decimal(38,0)").alias("n"),
        F.sum("sg").cast("decimal(38,0)").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )

    def _c(log_arg: Column, weight: Column) -> Column:
        return (
            weight
            * F.round(F.log(log_arg).cast("decimal(38,12)"), 6).cast(
                "decimal(38,6)"
            )
        ).cast("decimal(38,6)")

    rows = pos.join(grp, "g").crossJoin(F.broadcast(tot))
    row_sums = rows.agg(
        F.sum(
            _c(
                (F.col("x") * F.col("n")).cast("double")
                / F.col("sx").cast("double"),
                F.col("x"),
            )
        ).alias("c_total"),
        F.sum(
            _c(
                (F.col("x") * F.col("ng")).cast("double")
                / F.col("sg").cast("double"),
                F.col("x"),
            )
        ).alias("c_within"),
    )
    grp_sum = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            _c(
                (F.col("sg") * F.col("n")).cast("double")
                / (F.col("sx") * F.col("ng")).cast("double"),
                F.col("sg"),
            )
        ).alias("c_between")
    )
    return (
        tot.crossJoin(F.broadcast(row_sums))
        .crossJoin(F.broadcast(grp_sum))
        .select(
            F.col("n").cast("bigint").alias("n"),
            "n_groups",
            round6(
                F.col("c_total").cast("double") / F.col("sx").cast("double")
            ).alias("theil_total"),
            round6(
                F.col("c_between").cast("double") / F.col("sx").cast("double")
            ).alias("theil_between"),
            round6(
                F.col("c_within").cast("double") / F.col("sx").cast("double")
            ).alias("theil_within"),
        )
    )


def kaplan_meier_by(life: DataFrame, group_cols: list[str]) -> DataFrame:
    """Stratified Kaplan–Meier with Greenwood standard errors: one
    product-limit curve per group from a ``(*group_cols, t, ev)``
    lifetimes relation — ``(*group_cols, t_days, n_at_risk, n_events,
    survival, greenwood_se)``.

    Same construction as :func:`kaplan_meier` but the group key
    partitions every window (``Window.partitionBy(*group_cols)`` —
    real partitioning, NOT the banned empty-partitionBy shape), so the
    two-level running-sum machinery is unnecessary: state per task is
    one group's distinct event times. Greenwood's formula rides along:
    ``Var(S(t)) = S(t)²·Σ_{u≤t} d/(n(n−d))`` — each summand a ratio of
    exact integers, decimal-rounded at 12 places (the terms are
    O(1/n²)) then cumulated exactly; ``greenwood_se = S·√Σ``. At the
    terminal n = d event S = 0 exactly and the d/(n·0) summand is
    moot — both emitted as literals, never a division by zero.
    Unit-tested per group against the unstratified kernel and a
    float-exact Python mirror.
    """
    from pyspark.sql.window import Window

    per_t = life.groupBy(*group_cols, "t").agg(
        F.sum("ev").cast("decimal(38,0)").alias("d"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c"),
    )
    w_desc = (
        Window.partitionBy(*group_cols)
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per_t.withColumn("n", F.sum("c").over(w_desc))
    evr = risk.where(F.col("d") > 0).select(
        *group_cols,
        "t",
        "d",
        "n",
        F.when(
            F.col("n") > F.col("d"),
            F.round(
                F.log(
                    (F.col("n") - F.col("d")).cast("double")
                    / F.col("n").cast("double")
                ).cast("decimal(38,12)"),
                6,
            ).cast("decimal(38,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(38,6)"))
        .alias("lf"),
        F.when(
            F.col("n") > F.col("d"),
            F.round(
                (
                    F.col("d").cast("double")
                    / (F.col("n") * (F.col("n") - F.col("d"))).cast("double")
                ).cast("decimal(38,18)"),
                12,
            ).cast("decimal(38,12)"),
        )
        .otherwise(F.lit(0).cast("decimal(38,12)"))
        .alias("gw"),
    )
    w_asc = (
        Window.partitionBy(*group_cols)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = evr.withColumn("cum", F.sum("lf").over(w_asc)).withColumn(
        "gcum", F.sum("gw").over(w_asc)
    )
    s_raw = F.exp(F.col("cum").cast("double"))
    return curve.select(
        *group_cols,
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("n") == F.col("d"), F.lit(0.0))
        .otherwise(round6(s_raw))
        .alias("survival"),
        F.when(F.col("n") == F.col("d"), F.lit(0.0))
        .otherwise(round6(s_raw * F.sqrt(F.col("gcum").cast("double"))))
        .alias("greenwood_se"),
    ).orderBy(*group_cols, "t_days")


def km_median_survival(curve: DataFrame, group_cols: list[str]) -> DataFrame:
    """Median survival time per group from a :func:`kaplan_meier_by`
    curve: the FIRST event time where survival drops to ≤ 0.5
    (rank-pinned via MIN — tie-stable). Groups whose curve never
    reaches 0.5 have no estimable median and drop out; a query wanting
    them as NULL left-joins this back to the group list."""
    return (
        curve.where(F.col("survival") <= 0.5)
        .groupBy(*group_cols)
        .agg(F.min("t_days").cast("bigint").alias("median_t_days"))
    )


def with_cusum(
    df: DataFrame,
    order: list,
    dev_col: str,
    cusum_col: str = "cusum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact one-sided (upper) CUSUM over an already-pinned integer
    deviation column: appends ``C_i = max(0, C_{i-1} + dev_i)`` in
    ``order`` (which must be total).

    The recursion is not a window frame, but the prefix identity
    ``C_i = S_i − min(0, min_{j≤i} S_j)`` (S = running sum of dev)
    makes it two exact passes: :func:`..functions.ordered.
    with_running_sum` then :func:`..functions.ordered.with_running_min`
    — both two-level range-partitioned, no one-task stage, all
    DECIMAL(38,0) arithmetic. ``dev_col`` must already be
    DECIMAL(38,0) deviations (caller pins x − μ − k in cents/ppm);
    property-tested against the textbook recursion.

    Cache footprint: each of the two ordered passes persists its own
    range-partitioned relation (required for exactness — ordered.py
    module doc), and neither can be unpersisted here because the
    returned plan still reads the second one and the second one's
    statistics pass is the last reader of the first. One CUSUM call
    therefore leaves TWO cached partials under the ordered.py cache
    contract — long-lived sessions must ``clearCache()`` after
    consuming the result (bench and the test fixtures already do).
    """
    from .ordered import with_running_min, with_running_sum

    run, _tot = with_running_sum(
        df, order, dev_col, running_col="_cs_s", num_partitions=num_partitions
    )
    runm, _gmin = with_running_min(
        run, order, "_cs_s", running_col="_cs_m", num_partitions=num_partitions
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        runm.withColumn(
            cusum_col,
            (F.col("_cs_s") - F.least(F.col("_cs_m"), zero)).cast(
                "decimal(38,0)"
            ),
        )
        .drop("_cs_s", "_cs_m")
    )


def with_cusum_by(
    df: DataFrame,
    group_cols: list[str],
    order: list,
    dev_col: str,
    cusum_col: str = "cusum",
) -> DataFrame:
    """Per-group exact one-sided CUSUM: :func:`with_cusum` with the
    group key partitioning both prefix passes — plain partitioned
    windows (running SUM then running MIN of it over the same
    (group, order) partitioning → ONE shuffle), no two-level machinery
    needed because per-task state is one group's rows. ``dev_col``
    must already be DECIMAL(38,0) deviations (enforced, as in
    ``with_running_sum``); same C = S − min(0, min-prefix S) identity,
    property-tested per group against the textbook recursion."""
    from pyspark.sql.types import DecimalType
    from pyspark.sql.window import Window

    in_type = df.schema[dev_col].dataType
    if not isinstance(in_type, DecimalType):
        raise TypeError(
            f"with_cusum_by needs a DECIMAL deviation column; {dev_col} "
            f"is {in_type.simpleString()} — cast it first"
        )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    d = df.withColumn(
        "_csb_s", F.sum(F.col(dev_col)).over(w).cast("decimal(38,0)")
    )
    return d.withColumn(
        cusum_col,
        (
            F.col("_csb_s") - F.least(F.min("_csb_s").over(w), zero)
        ).cast("decimal(38,0)"),
    ).drop("_csb_s")


def hhi_ppm(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group Herfindahl–Hirschman concentration of a non-negative
    integer-valued column: ``(*group_cols, n_units, total, hhi_ppm)``
    (10_000 ppm = 100 equal units, 1_000_000 = monopoly).

    Division-free form: HHI = Σsᵢ² = Σxᵢ²·1e6 div (Σx)² — both moments
    ride ONE hash aggregation per group, no per-unit share division and
    no float anywhere, so the result is independent of partitioning.
    A group whose total is 0 has no defined share structure → NULL
    (via NULLIF), not a zero. Invariants (monopoly → 1e6, n equal
    units → 1e6 div n) are unit-tested."""
    x = F.col(value_col).cast("decimal(38,0)")
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.sum(x).alias("tot"),
            F.sum(x * x).alias("sq"),
        )
        .select(
            *group_cols,
            "n_units",
            F.col("tot").cast("bigint").alias("total"),
            F.expr(
                "CAST((sq * 1000000) div NULLIF(tot * tot, 0) AS BIGINT)"
            ).alias("hhi_ppm"),
        )
    )


def km_confidence_bands(curve: DataFrame, z: float = 1.96) -> DataFrame:
    """Plain (linear) Greenwood confidence bands appended to a
    Kaplan–Meier curve (:func:`kaplan_meier_by` output):
    ``ci_lo = max(S − z·se, 0)``, ``ci_hi = min(S + z·se, 1)``, both
    through the scale-6 rounding hop. Linear bands can hug the [0,1]
    boundaries (the classic criticism; log-minus-log bands fix it at
    the cost of more transcendentals) — kept linear so a DuckDB twin
    is the literally identical clamp expression over identical
    inputs. Round-7 staging candidate (DEVNOTES queue)."""
    lo = F.greatest(
        F.col("survival") - F.lit(z) * F.col("greenwood_se"), F.lit(0.0)
    )
    hi = F.least(
        F.col("survival") + F.lit(z) * F.col("greenwood_se"), F.lit(1.0)
    )
    return curve.select(
        "*", round6(lo).alias("ci_lo"), round6(hi).alias("ci_hi")
    )


def atkinson2_index(df: DataFrame, value_col: str) -> DataFrame:
    """One-row Atkinson index at aversion ε=2 of a non-negative
    integer-valued column: ``(n, atkinson2)`` with
    ``A₂ = 1 − harmonic_mean/mean = 1 − n² / (Σ(1/x)·Σx)``.

    The higher-aversion sibling of :func:`atkinson_index` (ε=1): ε=2
    weights the poorest holders even harder, so A₂ ≥ A₁ always
    (property-tested). Per-row reciprocals are doubles of exact
    integers, decimal-rounded at 18 places (x ≥ 1 → 1/x ≤ 1, so
    DECIMAL(38,18) is exact headroom) and summed exactly; the final
    ``n²/(Σ(1/x)·Σx)`` runs once in double through the scale-6 hop.
    Zero holders collapse the harmonic mean to exactly 0 → A₂ = 1
    (no division by zero is ever evaluated); all-zero → NULL."""
    base = df.select(F.col(value_col).cast("decimal(38,0)").alias("x"))
    agg = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.when(F.col("x") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nz"),
        F.sum(
            F.when(
                F.col("x") > 0,
                F.round(
                    (F.lit(1.0) / F.col("x").cast("double")).cast(
                        "decimal(38,18)"
                    ),
                    18,
                ),
            ).otherwise(F.lit(0).cast("decimal(38,18)"))
        ).alias("sr"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.when(F.col("sx") <= 0, F.lit(None).cast("double"))
        .when(F.col("nz") > 0, F.lit(1.0))
        .otherwise(
            round6(
                F.lit(1.0)
                - (F.col("n") * F.col("n")).cast("double")
                / (F.col("sr").cast("double") * F.col("sx").cast("double"))
            )
        )
        .alias("atkinson2"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-row exact-rank Kruskal–Wallis H across ALL groups — the
    k-sample generalization of :func:`mann_whitney_u2` (is ANY group's
    distribution shifted?), with the tie-corrected variant beside it.

    Exactness discipline (the MWU/KS doubling trick): tied-average
    ranks are half-integers, so DOUBLED rank sums stay exact integers —
    at pooled value v with count cv and cumulative-below C, the doubled
    average rank is ``2C + cv + 1``, and per group
    ``R2_g = Σ_v c_{g,v} · (2C_v + cv_v + 1) = 2·R_g`` accumulates in
    DECIMAL. With S = Σ_g R_g²/n_g = Σ_g R2_g²/(4·n_g):

        H = 12/(N(N+1))·S − 3(N+1)  =  3/(N(N+1))·Σ_g R2_g²/n_g − 3(N+1)

    The only non-integer step is the final formula: the per-group terms
    are folded SEQUENTIALLY over a group-key-ORDERED array (Spark
    ``aggregate`` fold == DuckDB ``list_reduce`` — same IEEE ops in the
    same order, bit-identical), never a partition-order-dependent SUM
    of doubles. Tie correction divides by ``1 − Σ(t³−t)/(N³−N)`` with
    both sums exact DECIMAL integers hopped to double once.

    Plan: one (group, value) count aggregation, one pooled per-value
    aggregation + exact prefix sum (:func:`..functions.ordered.
    with_running_sum` — no one-task window), one |groups|-bounded
    rollup collected into a single ordered array row. Scale: bounded by
    groups × distinct values after the first aggregation.

    Shuffle sharing (r8): the input is hash-partitioned by VALUE before
    the (g, v) count, so that one exchange serves three consumers —
    the (g, v) aggregate (v-clustering satisfies its distribution),
    the pooled per-value aggregate (no second exchange), and cnt's side
    of the rank join (already on v). cnt is additionally
    localCheckpoint'd: it feeds both perv and the join, and without the
    checkpoint the scan + count chain evaluates twice (the prefix-sum
    offsets collect is a separate action). Measured at sf0.1: 7.4 s ->
    ~3 s for the nation_revenue_kruskal wrapper.
    Returns (n_groups, n_total, h, h_tie_corrected)."""
    from .ordered import with_running_sum

    cnt = (
        df.repartition(F.col(value_col))
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
        .localCheckpoint(eager=True)
    )
    perv = cnt.groupBy("v").agg(
        F.sum("c").cast("decimal(38,0)").alias("cv")
    )
    run, _tot = with_running_sum(
        perv, [F.col("v")], "cv", running_col="cumv"
    )
    ranked = cnt.join(run.select("v", "cv", "cumv"), "v").select(
        "g",
        "c",
        (
            (2 * (F.col("cumv") - F.col("cv")) + F.col("cv") + 1)
            * F.col("c")
        )
        .cast("decimal(38,0)")
        .alias("r2part"),
    )
    per_g = ranked.groupBy("g").agg(
        F.sum("c").cast("decimal(38,0)").alias("n_g"),
        F.sum("r2part").cast("decimal(38,0)").alias("r2"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    gl = per_g.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("g"), F.col("n_g"), F.col("r2")))
        ).alias("gs"),
        F.coalesce(F.sum("n_g"), zero).alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ties = run.agg(
        F.coalesce(
            F.sum(F.expr("CAST(cv*cv*cv - cv AS DECIMAL(38,0))")), zero
        ).alias("stie")
    )
    j = gl.crossJoin(ties)
    # R2 and n_g are exact integers < 2^53 at any realistic N — the
    # double hop is exact; squaring/dividing are single IEEE ops
    s_fold = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda acc, x: acc
        + (
            x["r2"].cast("double")
            * x["r2"].cast("double")
            / x["n_g"].cast("double")
        ),
    )
    nd = F.col("n").cast("double")
    h = (F.lit(3.0) / (nd * (nd + 1))) * s_fold - 3 * (nd + 1)
    corr = F.lit(1.0) - F.col("stie").cast("double") / F.expr(
        "CAST(n*n*n - n AS DECIMAL(38,0))"
    ).cast("double")
    return j.select(
        F.col("k").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.when(F.col("n") > 1, round6(h))
        .otherwise(F.lit(None).cast("double"))
        .alias("h"),
        F.when((F.col("n") > 1) & (corr > 0), round6(h / corr))
        .otherwise(F.lit(None).cast("double"))
        .alias("h_tie_corrected"),
    )


def mood_median_test(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-row Mood's median test across ALL groups — the k-sample
    location test that needs only COUNTS, the robust companion to
    :func:`kruskal_wallis` on the same stratification (KW ranks every
    value; the median test only asks which side of the pooled median
    each value falls on, so a single wild outlier moves it by at most
    one count).

    Exactness discipline: the pooled LOWER median is the k-th smallest
    pooled value with k = (n+1) div 2 — resolved from the same exact
    DECIMAL prefix sum the KW kernel uses (no percentile approximation,
    no one-task window), so both engines pick the identical value. All
    contingency cells (le_g, gt_g, n_g, LE, GT, n) are exact integers;
    the only doubles are the final Pearson chi-square terms, folded
    SEQUENTIALLY over a group-key-ORDERED array (Spark ``aggregate`` ==
    DuckDB ``list_reduce``, the proven bit-identical pattern) with a
    fixed per-group op order acc + (t1*t1/ea + t2*t2/eb).

    Plan: the shared value-partitioned (group, value) count (one
    exchange serves the count, the pooled per-value aggregate, and the
    median probe — the r8 kruskal shuffle-sharing shape), the exact
    prefix sum for the median, one |groups|-bounded contingency
    aggregate, one-row output (n_groups, n_total, pooled_median, dof,
    chi2). chi2 is NULL when either margin is empty (expected counts of
    zero) or n = 0."""
    from .ordered import with_running_sum

    cnt = (
        df.repartition(F.col(value_col))
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
        .localCheckpoint(eager=True)
    )
    perv = cnt.groupBy("v").agg(
        F.sum("c").cast("decimal(38,0)").alias("cv")
    )
    run, tot = with_running_sum(
        perv, [F.col("v")], "cv", running_col="cumv"
    )
    n_total = int(tot)
    if n_total == 0:
        med_df = run.sparkSession.range(1).select(
            F.lit(None).cast("bigint").alias("med")
        )
    else:
        kth = (n_total + 1) // 2
        med_df = run.where(F.col("cumv") >= F.lit(kth)).agg(
            F.min("v").cast("bigint").alias("med")
        )
    per_g = (
        cnt.crossJoin(F.broadcast(med_df))
        .groupBy("g")
        .agg(
            F.sum("c").cast("decimal(38,0)").alias("n_g"),
            F.coalesce(
                F.sum(F.when(F.col("v") <= F.col("med"), F.col("c"))),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("le_g"),
            F.max("med").alias("med"),
        )
    )
    zero = F.lit(0).cast("decimal(38,0)")
    gl = per_g.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("g"), F.col("n_g"), F.col("le_g"))
            )
        ).alias("gs"),
        F.coalesce(F.sum("n_g"), zero).alias("n"),
        F.coalesce(F.sum("le_g"), zero).alias("le"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("med").alias("med"),
    )
    nd = F.col("n").cast("double")
    led = F.col("le").cast("double")
    gtd = (F.col("n") - F.col("le")).cast("double")

    def term(x):
        n_g = x["n_g"].cast("double")
        le_g = x["le_g"].cast("double")
        gt_g = (x["n_g"] - x["le_g"]).cast("double")
        ea = n_g * led / nd
        eb = n_g * gtd / nd
        t1 = le_g - ea
        t2 = gt_g - eb
        return t1 * t1 / ea + t2 * t2 / eb

    chi2 = F.aggregate(
        F.col("gs"), F.lit(0.0), lambda acc, x: acc + term(x)
    )
    ok = (
        (F.col("n") > 0)
        & (F.col("le") > 0)
        & (F.col("n") - F.col("le") > 0)
    )
    return gl.select(
        F.col("k").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.col("med").alias("pooled_median"),
        F.when(F.col("k") > 0, F.col("k") - 1)
        .cast("bigint")
        .alias("dof"),
        F.when(ok, round6(chi2))
        .otherwise(F.lit(None).cast("double"))
        .alias("chi2"),
    )


#: Order-preserving value buckets for the grouped prefix sums —
#: bounds the per-group pass at |G| x _JT_BUCKETS parallel window tasks
#: regardless of the value column's cardinality.
_JT_BUCKETS = 64


def _grouped_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    out_col: str,
    buckets: int = _JT_BUCKETS,
) -> DataFrame:
    """EXCLUSIVE per-group prefix sum of ``value_col`` ordered by
    ``order_col`` (exact DECIMAL(38,0)), as a two-level
    order-preserving bucketed pass: a local window within (group,
    bucket) plus a |G| x ``buckets`` broadcast offset relation — so a
    high-cardinality order column runs |G| x buckets parallel window
    tasks instead of one task per group (the r8 ADVICE fix, shared by
    the JT and Brown-Forsythe kernels). The bucket id is a monotone
    function of the order column, so the split changes nothing
    arithmetically. ``df`` must have at most one row per (group,
    order) pair."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    zero = F.lit(0).cast(dec)
    cols = list(df.columns)
    vr = df.agg(
        F.min(order_col).alias("vmin"), F.max(order_col).alias("vmax")
    )
    span = F.col("vmax").cast("double") - F.col("vmin").cast("double")
    bkt = (
        F.when(
            span > 0,
            F.floor(
                (F.col(order_col).cast("double") - F.col("vmin").cast("double"))
                / span
                * (buckets - 1)
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    gb = df.crossJoin(F.broadcast(vr)).select(*cols, bkt.alias("_bkt"))
    w_loc = (
        Window.partitionBy(group_col, "_bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = gb.select(
        *cols, "_bkt",
        F.coalesce(F.sum(value_col).over(w_loc), zero)
        .cast(dec)
        .alias("_loc"),
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        gb.groupBy(group_col, "_bkt")
        .agg(F.sum(value_col).cast(dec).alias("_bt"))
        .select(
            group_col, "_bkt",
            F.coalesce(F.sum("_bt").over(w_off), zero)
            .cast(dec)
            .alias("_off"),
        )
    )
    return loc.join(F.broadcast(off), [group_col, "_bkt"]).select(
        *cols,
        (F.col("_loc") + F.col("_off")).cast(dec).alias(out_col),
    )


def jonckheere_terpstra(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-row Jonckheere–Terpstra trend test across ORDERED groups —
    "is the value distribution monotonically shifting as the group key
    increases?" (the ordered-alternative companion to
    :func:`kruskal_wallis`, which only asks whether ANY group differs).
    J = Σ_{i<j} U_ij over group pairs in key order, U the Mann-Whitney
    count with the ½-tie convention.

    Exactness discipline (the doubling trick): DOUBLED J stays an exact
    integer — for state row (g, v, c), its doubled contribution as the
    later member of the pairs is ``c · (2·B + T)`` where B = #obs in
    earlier groups with smaller value and T = #obs in earlier groups
    tied at v. B and T come from two window prefix sums over the dense
    |groups| × |distinct values| grid (zero-filled so absent (g, v)
    cells still relay the running sums): T = Σ_{i<g} c_i(v) partitioned
    BY VALUE ordered by group, B = Σ_{w<v} T(g, w) partitioned BY GROUP
    ordered by value. All counts are DECIMAL(38,0) integers.

    The normal approximation uses the tie-corrected null variance
    (Hollander & Wolfe 6.19; R clinfun::jonckheere.test's form) from
    exact integer ingredients — group sizes u_i and pooled tie counts
    t_v:

        E(2J)  = (n² − Σu²) / 2  (n² − Σu² = 2·Σ_{i<j}u_i·u_j is even,
                 so the halved value is an exact integer's double)
        72·V₁  = n(n−1)(2n+5) − Σu(u−1)(2u+5) − Σt(t−1)(2t+5)
        V₂·36·n(n−1)(n−2) = Σu(u−1)(u−2) · Σt(t−1)(t−2)
        V₃·8·n(n−1)       = Σu(u−1) · Σt(t−1)
        z = (2J − E(2J)) / (2·sqrt(V₁+V₂+V₃))

    every Σ accumulates in DECIMAL(38,0); doubles appear only in the
    final one-row z expression with a fixed textual op order mirrored
    by the oracle. z is NULL when n < 3 or the variance is 0 (all
    values tied).

    Plan: the shared value-partitioned (group, value) count (the r8
    kruskal shuffle-sharing shape), a |G| × |V| zero-filled grid (G
    group keys broadcast onto the distinct-value relation — G is small
    for a trend test: years, months, cohorts), two grid window passes,
    three one-row aggregates crossed. Scale: everything after the first
    aggregation is bounded by |G| × |distinct values|; the T pass
    partitions BY VALUE (|V| tiny groups — embarrassingly parallel),
    and the per-group B pass is a TWO-LEVEL prefix sum over
    ``_JT_BUCKETS`` order-preserving value buckets (local prefix within
    (g, bucket) + a |G| × buckets offset relation), so a
    high-cardinality value column (revenue cents: millions of distinct
    values at SF ≥ 1) runs |G| × buckets parallel window tasks instead
    of |G| single-task |V|-row windows (r8 ADVICE item). The bucket id
    is a monotone function of v, so the split changes nothing
    arithmetically — both levels sum the same exact DECIMAL(38,0) t
    values. Returns (n_groups, n_total, jt2, z) — jt2 = 2J exact."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    cnt = (
        df.repartition(F.col(value_col))
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
        .localCheckpoint(eager=True)
    )
    perv = cnt.groupBy("v").agg(F.sum("c").cast(dec).alias("cv"))
    gs = cnt.select("g").distinct()
    zero = F.lit(0).cast(dec)
    grid = (
        perv.select("v")
        .crossJoin(F.broadcast(gs))
        .join(cnt, ["g", "v"], "left")
        .select("g", "v", F.coalesce(F.col("c"), zero).alias("c0"))
    )
    w_t = (
        Window.partitionBy("v")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_t = grid.select(
        "g", "v", "c0",
        F.coalesce(F.sum("c0").over(w_t), zero).cast(dec).alias("t"),
    )
    # B(g, v) = sum of t over smaller values within the group — the
    # shared two-level bucketed prefix sum (local (g, bucket) windows +
    # a broadcast |G| x buckets offset relation).
    with_b = _grouped_prefix_sum(with_t, "g", "v", "t", "b").select(
        "c0", "t", "b"
    )
    j2 = with_b.agg(
        F.coalesce(
            F.sum(
                (F.col("c0") * (2 * F.col("b") + F.col("t"))).cast(dec)
            ),
            zero,
        )
        .cast(dec)
        .alias("jt2")
    )
    u = F.col("n_g")
    per_g = cnt.groupBy("g").agg(F.sum("c").cast(dec).alias("n_g"))
    gagg = per_g.agg(
        F.coalesce(F.sum("n_g"), zero).alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.coalesce(F.sum((u * u).cast(dec)), zero).alias("su_sq"),
        F.coalesce(
            F.sum((u * (u - 1) * (2 * u + 5)).cast(dec)), zero
        ).alias("su1"),
        F.coalesce(
            F.sum((u * (u - 1) * (u - 2)).cast(dec)), zero
        ).alias("su2"),
        F.coalesce(F.sum((u * (u - 1)).cast(dec)), zero).alias("su3"),
    )
    t_ = F.col("cv")
    tagg = perv.agg(
        F.coalesce(
            F.sum((t_ * (t_ - 1) * (2 * t_ + 5)).cast(dec)), zero
        ).alias("st1"),
        F.coalesce(
            F.sum((t_ * (t_ - 1) * (t_ - 2)).cast(dec)), zero
        ).alias("st2"),
        F.coalesce(F.sum((t_ * (t_ - 1)).cast(dec)), zero).alias("st3"),
    )
    joined = j2.crossJoin(gagg).crossJoin(tagg)
    nd = F.col("n").cast("double")
    e2 = (F.col("n") * F.col("n") - F.col("su_sq")).cast("double") / 2
    v1 = (
        nd * (nd - 1) * (2 * nd + 5)
        - F.col("su1").cast("double")
        - F.col("st1").cast("double")
    ) / 72
    v2 = (
        F.col("su2").cast("double")
        * F.col("st2").cast("double")
        / (36 * nd * (nd - 1) * (nd - 2))
    )
    v3 = (
        F.col("su3").cast("double")
        * F.col("st3").cast("double")
        / (8 * nd * (nd - 1))
    )
    var = v1 + v2 + v3
    z = (F.col("jt2").cast("double") - e2) / (2 * F.sqrt(var))
    ok = (F.col("n") > 2) & (var > 0)
    return joined.select(
        F.col("k").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.col("jt2").cast("bigint").alias("jt2"),
        F.when(ok, round6(z))
        .otherwise(F.lit(None).cast("double"))
        .alias("z"),
    )


def brown_forsythe(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-row Brown–Forsythe spread test across ALL groups — "does any
    group's DISPERSION differ?", the robust (median-centered) Levene
    variant and the scale companion to :func:`kruskal_wallis` /
    :func:`mood_median_test` on the same stratification: a one-way
    ANOVA F on the absolute deviations z_ij = |x_ij − median_j|.

    Exactness discipline (the doubling trick): ``value_col`` must be
    integer-valued; with m1_j/m2_j the group's lower/upper middle order
    statistics (equal when n_j is odd), the DOUBLED deviation
    Z_ij = |2·x_ij − (m1_j + m2_j)| = 2·z_ij is an exact integer, and F
    is invariant to the common factor (numerator and denominator both
    scale by 4). Per-group moments S_j = ΣZ, Q_j = ΣZ² accumulate in
    DECIMAL(38,0)/HUGEINT (Q bounds the kernel at Σc·Z² < 1e38 —
    fine for cents-scale values at any realistic corpus); F uses the
    sum-of-squares forms SSB = Σ S_j²/n_j − S²/N and
    SSW = Σ (Q_j − S_j²/n_j), folded SEQUENTIALLY over a
    group-key-ORDERED array (the proven bit-identical pattern) with
    doubles appearing only inside the fold terms.

    Plan: the shared value-partitioned (group, value) count, the
    grouped two-level prefix sum for BOTH middle order statistics (no
    single-task window at any value cardinality), a |G|-bounded
    median/moment relation broadcast back over the counts, one-row
    output (n_groups, n_total, dof1, dof2, f_stat). f_stat is NULL
    when k < 2, N ≤ k, or SSW = 0 (every group constant)."""
    dec = "decimal(38,0)"
    cnt = (
        df.repartition(F.col(value_col))
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
        .localCheckpoint(eager=True)
    )
    pre = _grouped_prefix_sum(cnt, "g", "v", "c", "cum_ex")
    cum = pre.select(
        "g", "v", (F.col("cum_ex") + F.col("c")).cast(dec).alias("cum")
    )
    per_n = cnt.groupBy("g").agg(F.sum("c").cast(dec).alias("n_g"))
    k1 = F.expr("(CAST(n_g AS BIGINT) + 1) DIV 2")
    k2 = F.expr("CAST(n_g AS BIGINT) DIV 2 + 1")
    meds = (
        cum.join(F.broadcast(per_n), "g")
        .groupBy("g")
        .agg(
            F.min(F.when(F.col("cum") >= k1, F.col("v")))
            .cast("bigint")
            .alias("m1"),
            F.min(F.when(F.col("cum") >= k2, F.col("v")))
            .cast("bigint")
            .alias("m2"),
        )
    )
    d19 = "decimal(19,0)"
    z = F.abs(
        2 * F.col("v").cast("bigint") - (F.col("m1") + F.col("m2"))
    ).cast(d19)
    c19 = F.col("c").cast(d19)
    per_g = (
        cnt.join(F.broadcast(meds), "g")
        .select("g", "c", z.alias("z"), c19.alias("c19"))
        .groupBy("g")
        .agg(
            F.sum("c").cast(dec).alias("n_g"),
            F.sum(F.col("c19") * F.col("z")).cast(dec).alias("s"),
            F.sum((F.col("z") * F.col("z")) * F.col("c19"))
            .cast(dec)
            .alias("q"),
        )
    )
    zero = F.lit(0).cast(dec)
    gl = per_g.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("g"), F.col("n_g"), F.col("s"), F.col("q"))
            )
        ).alias("gs"),
        F.coalesce(F.sum("n_g"), zero).alias("n"),
        F.coalesce(F.sum("s"), zero).alias("stot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    stot_d = F.col("stot").cast("double")
    ssb = (
        F.aggregate(
            F.col("gs"),
            F.lit(0.0),
            lambda acc, x: acc
            + x["s"].cast("double")
            * x["s"].cast("double")
            / x["n_g"].cast("double"),
        )
        - stot_d * stot_d / nd
    )
    ssw = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda acc, x: acc
        + (
            x["q"].cast("double")
            - x["s"].cast("double")
            * x["s"].cast("double")
            / x["n_g"].cast("double")
        ),
    )
    f_stat = (ssb / (kd - 1)) / (ssw / (nd - kd))
    ok = (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0)
    return gl.select(
        F.col("k").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        F.when(F.col("k") > 1, F.col("k") - 1)
        .cast("bigint")
        .alias("dof1"),
        F.when(F.col("n") > F.col("k"), F.col("n") - F.col("k"))
        .cast("bigint")
        .alias("dof2"),
        F.when(ok, round6(f_stat))
        .otherwise(F.lit(None).cast("double"))
        .alias("f_stat"),
    )
