"""Round-9 operator tests: Brown-Forsythe, the shared grouped prefix
sum, SemDeDup's keep rule, DSIR discrimination, the Zipf fit, and
boilerplate removal — each checked against an independent brute-force
or hand-computed reference (never against its own oracle SQL, which
shares the formula)."""

from __future__ import annotations

import math
import statistics

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _bf_brute(rows: list[tuple[int, int]]) -> float | None:
    """Textbook Brown-Forsythe in python floats (statistics.median
    interpolates even groups, matching the (m1+m2)/2 center)."""
    import collections

    groups = collections.defaultdict(list)
    for g, v in rows:
        groups[g].append(float(v))
    k, n = len(groups), len(rows)
    if k < 2 or n <= k:
        return None
    z = {
        g: [abs(x - statistics.median(xs)) for x in xs]
        for g, xs in groups.items()
    }
    zbar = {g: sum(zs) / len(zs) for g, zs in z.items()}
    zall = sum(sum(zs) for zs in z.values()) / n
    ssb = sum(len(zs) * (zbar[g] - zall) ** 2 for g, zs in z.items())
    ssw = sum((x - zbar[g]) ** 2 for g, zs in z.items() for x in zs)
    if ssw == 0:
        return None
    return (ssb / (k - 1)) / (ssw / (n - k))


def test_brown_forsythe_brute_robustness_and_edges(spark):
    """An interleaved tied dataset must match the float brute force;
    inflating one group's spread must RAISE F (the statistic detects
    scale); all-constant groups -> NULL; empty input matches the
    oracle's empty-view degenerate row."""
    import duckdb

    from retail_etl_pipeline_spark.functions.stats import brown_forsythe

    rows = [
        (1, 5), (1, 7), (1, 7), (1, 12), (2, 7), (2, 9), (2, 12),
        (3, 9), (3, 9), (3, 15), (3, 5), (2, 30), (1, 6),
    ]
    df = spark.createDataFrame(rows, "g int, v long")
    r = brown_forsythe(df, "v", "g").first()
    ref = _bf_brute(rows)
    assert abs(r["f_stat"] - ref) < 1e-5, (r["f_stat"], ref)
    assert r["n_groups"] == 3 and r["n_total"] == len(rows)
    assert r["dof1"] == 2 and r["dof2"] == len(rows) - 3

    wide = rows + [(3, 1000), (3, -950)]
    w = brown_forsythe(
        spark.createDataFrame(wide, "g int, v long"), "v", "g"
    ).first()
    assert w["f_stat"] > r["f_stat"]

    const = spark.createDataFrame(
        [(1, 7), (1, 7), (2, 3), (2, 3)], "g int, v long"
    )
    c = brown_forsythe(const, "v", "g").first()
    assert c["f_stat"] is None and c["n_total"] == 4

    empty = spark.createDataFrame([], "g int, v long")
    e = brown_forsythe(empty, "v", "g").first()
    assert (e["n_groups"], e["n_total"], e["dof1"], e["dof2"], e["f_stat"]) == (
        0, 0, None, None, None,
    )

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ("lineitem", "supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf}/{t}.parquet') WHERE false"
        )
    (orow,) = con.execute(
        oracle_sql()["nation_revenue_brown_forsythe"]
    ).fetchall()
    assert orow == (0, 0, None, None, None)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_grouped_prefix_sum_equals_single_window(spark, rows):
    """The two-level bucketed prefix sum must equal the naive
    one-window-per-group exclusive prefix on every input — the split
    is a pure parallelism transform."""
    from pyspark.sql import Window

    from retail_etl_pipeline_spark.functions.stats import (
        _grouped_prefix_sum,
    )

    grid = {}
    for g, v in rows:
        grid[(g, v)] = grid.get((g, v), 0) + 1
    df = spark.createDataFrame(
        [(g, v, c) for (g, v), c in grid.items()], "g int, v long, c long"
    )
    got = {
        (r["g"], r["v"]): int(r["pre"])
        for r in _grouped_prefix_sum(df, "g", "v", "c", "pre").collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r["g"], r["v"]): int(r["pre"])
        for r in df.select(
            "g", "v", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("pre")
        ).collect()
    }
    assert got == want


def test_semdedup_keep_rule_matches_numpy_brute(spark, sf_dir):
    """The kept set must equal the exact rule — drop iff a lower-id
    same-cell row has round6(cosine) >= tau — recomputed independently
    with numpy over the full sf0.001 corpus; and the kept set is
    pairwise below tau within every cell."""
    import numpy as np

    from retail_etl_pipeline_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = sim._vectors(emb)
    cells_df = sim._with_cells(vecs, sim._seed_centroids(vecs))
    rows = cells_df.select("vec_id", "v", "cell").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    cell = np.array([r["cell"] for r in rows])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat_n, cell = ids[order], mat_n[order], cell[order]
    tau = sim.COSINE_NEARDUP_THRESHOLD
    sims = mat_n @ mat_n.T
    same_cell = cell[:, None] == cell[None, :]
    lower = ids[:, None] < ids[None, :]
    hit = (np.round(sims, 6) >= tau) & same_cell & lower
    dropped = set(ids[hit.any(axis=0)])
    expected_kept = set(ids) - dropped

    kept = {
        r["vec_id"] for r in sim.semdedup_keep(emb).select("vec_id").collect()
    }
    assert kept == expected_kept
    kept_idx = np.isin(ids, list(kept))
    k_sims = sims[np.ix_(kept_idx, kept_idx)]
    k_same = same_cell[np.ix_(kept_idx, kept_idx)]
    k_low = lower[np.ix_(kept_idx, kept_idx)]
    assert not ((np.round(k_sims, 6) >= tau) & k_same & k_low).any()


def test_dsir_weights_discriminate_target_language(spark, sf_dir):
    """The whole point of DSIR: documents from the target slice must
    average a HIGHER importance weight than the rest (hashed-bigram
    models genuinely separate languages on the fixtures)."""
    from retail_etl_pipeline_spark.operators import selection as sel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = sel.dsir_importance_weights(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r["is_t"]: r["m"]
        for r in w.groupBy(
            (F.col("lang") == sel.DSIR_TARGET_LANG).alias("is_t")
        )
        .agg(F.avg("logw").alias("m"))
        .collect()
    }
    assert means[True] > means[False] + 0.5


def test_token_zipf_fit_exact_two_point_case(spark):
    """Two tokens with freqs 4 and 2 -> points (ln1, ln4), (ln2, ln2):
    slope exactly -1, r2 exactly 1 (up to the 6-decimal grid)."""
    from retail_etl_pipeline_spark.operators.corpus import token_zipf_fit

    docs = spark.createDataFrame(
        [(1, "a a a a b b", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = token_zipf_fit(docs).first()
    assert r["n_vocab"] == 2
    assert abs(r["slope"] + 1.0) < 1e-5
    assert abs(r["r2"] - 1.0) < 1e-5


def test_boilerplate_removal_brute_tiny_corpus(spark):
    """Hand-checkable corpus: the 3-gram 'x y z' appears in 3 docs
    (boilerplate at min_docs=3) and covers its 3 positions in each;
    doc 4 shares no flagged gram and keeps everything."""
    from retail_etl_pipeline_spark.operators.corpus import (
        boilerplate_removal_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y z a b", "en", "s", 9),
            (2, "c x y z d", "en", "s", 9),
            (3, "e f x y z", "en", "s", 9),
            (4, "p q r s t", "en", "s", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_ratio"])
        for r in boilerplate_removal_stats(docs).collect()
    }
    assert got[1] == (5, 3, 0.4)
    assert got[2] == (5, 3, 0.4)
    assert got[3] == (5, 3, 0.4)
    assert got[4] == (5, 0, 1.0)


def test_ccnet_buckets_are_exact_terciles(spark, sf_dir):
    """Bucket sizes must be the exact NTILE(3) split of the corpus (the
    first n%3 buckets one larger), and every doc lands in exactly one
    bucket."""
    from retail_etl_pipeline_spark.operators import selection as sel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    per_bucket = {
        r["bucket"]: r["n"]
        for r in sel.ccnet_quality_buckets(docs)
        .groupBy("bucket")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    }
    q, rem = divmod(n, 3)
    want = {b: q + (1 if b <= rem else 0) for b in (1, 2, 3)}
    assert per_bucket == want
