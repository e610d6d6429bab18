"""Unit + property tests for the round-3 additions: fixed-point PageRank
(operators/graph.py), priority sampling (operators/sampling.py), and
Misra-Gries heavy hitters (operators/frequent.py)."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from retail_etl_pipeline_spark.operators import frequent as fq
from retail_etl_pipeline_spark.operators import graph as gph
from retail_etl_pipeline_spark.operators import sampling as sp


# --- PageRank ---------------------------------------------------------------


def test_pagerank_uniform_on_regular_graph(spark):
    """On a vertex-transitive graph (a 6-cycle) every node has the same
    rank, and the exact fixed point of r = 0.15*S + 0.85*r is r = S
    (mass conserved exactly — no integer-division loss when deg divides
    rank evenly and .15/.85 splits hit integers, as they do at S=1e12)."""
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)]
        + [((i + 1) % 6, i) for i in range(6)],
        "src bigint, dst bigint",
    )
    out = gph.pagerank_fixed_point(edges, iterations=4).collect()
    assert len(out) == 6
    ranks = {r["node"]: r["rank_fp"] for r in out}
    assert set(ranks.values()) == {gph.SCALE}
    assert all(r["out_deg"] == 2 for r in out)


def test_pagerank_star_center_dominates(spark):
    """Star graph: the hub must outrank every leaf, leaves tie exactly
    (integer arithmetic -> bit-equal, not approximately equal)."""
    n = 8
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, n)] + [(i, 0) for i in range(1, n)],
        "src bigint, dst bigint",
    )
    out = {r["node"]: r["rank_fp"] for r in gph.pagerank_fixed_point(edges, 5).collect()}
    hub, leaves = out[0], [out[i] for i in range(1, n)]
    assert hub > max(leaves)
    assert len(set(leaves)) == 1


def test_pagerank_partitioning_invariant(spark):
    """The fixed-point recurrence is integer-exact, so the result cannot
    depend on how the edge list is partitioned."""
    edges = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a != b and (a + b) % 3],
        "src bigint, dst bigint",
    )
    r1 = {r["node"]: r["rank_fp"] for r in gph.pagerank_fixed_point(edges, 3).collect()}
    r2 = {
        r["node"]: r["rank_fp"]
        for r in gph.pagerank_fixed_point(edges.repartition(7), 3).collect()
    }
    assert r1 == r2


# --- Priority sampling ------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "source string, doc_id bigint, n_chars bigint")


def test_sample_partitioning_invariant(spark):
    rows = [("s%d" % (i % 3), i, 100 + 7 * i) for i in range(60)]
    df = _docs(spark, rows)
    a = sorted(
        (r["source"], r["doc_id"])
        for r in sp.sample_per_group(df, "source", "doc_id", "n_chars", 4).collect()
    )
    b = sorted(
        (r["source"], r["doc_id"])
        for r in sp.sample_per_group(
            df.repartition(11), "source", "doc_id", "n_chars", 4
        ).collect()
    )
    assert a == b and len(a) == 12


def test_sample_is_true_top_k_by_priority(spark):
    """Every sampled row's priority >= every unsampled row's priority
    within its group (with the doc_id tie-break making it exact)."""
    rows = [("g", i, (i * 37) % 500) for i in range(50)]
    df = _docs(spark, rows)
    all_pri = {
        r["doc_id"]: r["priority"]
        for r in sp.sample_per_group(df, "source", "doc_id", "n_chars", 50).collect()
    }
    top5 = {
        r["doc_id"]
        for r in sp.sample_per_group(df, "source", "doc_id", "n_chars", 5).collect()
    }
    kept_min = min((all_pri[d], -d) for d in top5)
    for d, q in all_pri.items():
        if d not in top5:
            assert (q, -d) < kept_min


def test_sample_null_and_zero_weights_rank_last(spark):
    rows = [("g", 1, 1000), ("g", 2, None), ("g", 3, 0), ("g", 4, 500)]
    df = _docs(spark, rows)
    out = sp.sample_per_group(df, "source", "doc_id", "n_chars", 2).collect()
    assert {r["doc_id"] for r in out} == {1, 4}
    zeroes = sp.sample_per_group(df, "source", "doc_id", "n_chars", 4).collect()
    assert {r["priority"] for r in zeroes if r["doc_id"] in (2, 3)} == {0}


# --- Misra-Gries heavy hitters ---------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=60, deadline=None)
def test_mg_compress_keeps_all_local_heavy_hitters(stream, k):
    """Pure-python MG property (the guarantee the 2-pass plan rests on):
    after compressing to k entries, every item with true frequency
    > n/k is still present."""
    counts = Counter(str(x) for x in stream)
    true = Counter(str(x) for x in stream)
    fq._mg_compress(counts, k)
    assert len(counts) <= k
    n = len(stream)
    for item, c in true.items():
        if c * k > n:
            assert item in counts, (item, c, n, k)


def test_mg_compress_noop_below_k():
    counts = Counter({"a": 5, "b": 3})
    fq._mg_compress(counts, 5)
    assert counts == Counter({"a": 5, "b": 3})


def test_exact_heavy_hitters_skewed_spark(spark):
    """End-to-end on forced skew across many partitions: exact counts,
    exact ppm, no false negatives vs the plain groupBy."""
    rows = (
        [("hot",)] * 400
        + [("warm",)] * 120
        + [(f"cold{i}",) for i in range(480)]
    )
    df = spark.createDataFrame(rows, "tok string").repartition(16)
    out = {
        r["tok"]: (r["term_freq"], r["freq_ppm"])
        for r in fq.exact_heavy_hitters(df, "tok", denom=10, k=100).collect()
    }
    # n=1000; threshold freq*10 >= 1000 -> freq >= 100
    assert out == {
        "hot": (400, 400000),
        "warm": (120, 120000),
    }


def test_exact_heavy_hitters_k_below_denom_rejected(spark):
    df = spark.createDataFrame([("a",)], "tok string")
    with pytest.raises(ValueError):
        fq.exact_heavy_hitters(df, "tok", denom=1000, k=10)


# --- packing + mix weights (operators/corpus.py round-3 additions) ----------


def test_packing_index_straddle_and_null(spark):
    from retail_etl_pipeline_spark.operators import corpus as cp

    rows = [
        ("s", 1, "a b c"),        # 3 tokens -> [0, 3)
        ("s", 2, " ".join("x" * 1 for _ in range(6))),  # 6 tokens -> [3, 9)
        ("s", 3, None),            # null text -> 0 tokens
        ("s", 4, "y z"),           # 2 tokens -> [9, 11)
        ("t", 9, "only doc"),      # other source starts at 0
    ]
    df = spark.createDataFrame(rows, "source string, doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in cp.packing_index(df, block_tokens=4).collect()
    }
    assert (out[1]["start_tok"], out[1]["first_block"], out[1]["last_block"]) == (0, 0, 0)
    # doc 2 spans tokens [3, 9) -> blocks 0..2 with capacity 4
    assert (out[2]["first_block"], out[2]["last_block"], out[2]["spans_blocks"]) == (0, 2, 3)
    # null text: zero tokens, NULL blocks, spans 0
    assert (out[3]["n_tokens"], out[3]["first_block"], out[3]["spans_blocks"]) == (0, None, 0)
    # doc 4 resumes at offset 9 (nulls don't advance the cursor)
    assert (out[4]["start_tok"], out[4]["first_block"], out[4]["last_block"]) == (9, 2, 2)
    assert (out[9]["start_tok"], out[9]["first_block"]) == (0, 0)


def test_packing_index_partitioning_invariant(spark):
    from retail_etl_pipeline_spark.operators import corpus as cp

    rows = [("s%d" % (i % 4), i, "tok " * (i % 7 + 1)) for i in range(80)]
    df = spark.createDataFrame(rows, "source string, doc_id bigint, text string")
    a = sorted(map(tuple, cp.packing_index(df, 16).collect()))
    b = sorted(map(tuple, cp.packing_index(df.repartition(13), 16).collect()))
    assert a == b


def test_source_mix_weights_balance_directions(spark):
    from retail_etl_pipeline_spark.operators import corpus as cp

    rows = (
        [("big", i, "w " * 30) for i in range(9)]
        + [("small", 100, "w " * 30)]
    )
    df = spark.createDataFrame(rows, "source string, doc_id bigint, text string")
    out = {r["source"]: r for r in cp.source_mix_weights(df).collect()}
    # 2 sources, big holds 90% of tokens: downsample big, upsample small
    assert out["big"]["share_ppm"] == 900000
    assert out["small"]["share_ppm"] == 100000
    assert out["big"]["weight_ppm"] < 1000000 < out["small"]["weight_ppm"]
    # exact integer contract: weight = (1e6 // n_sources) * 1e6 // share
    assert out["small"]["weight_ppm"] == (1000000 // 2) * 1000000 // 100000


def test_sample_giant_weights_clamp_instead_of_overflow(spark):
    """A >=2^31 weight (a multi-GiB doc sampled by byte count) must not
    throw ARITHMETIC_OVERFLOW under ANSI mode: weights clamp at
    WEIGHT_CAP and the row still competes (at the clamped weight)."""
    rows = [("g", 1, 3_000_000_000), ("g", 2, 2**31 - 1), ("g", 3, 10)]
    df = _docs(spark, rows)
    out = {r["doc_id"]: r["priority"] for r in
           sp.sample_per_group(df, "source", "doc_id", "n_chars", 3).collect()}
    assert len(out) == 3
    # doc 1 clamps to the same weight as doc 2: priorities differ only
    # through u(doc_id)
    assert out[1] > 0 and out[2] > 0


def test_source_mix_weights_all_null_text_yields_null_shares(spark):
    """An all-quarantined (NULL-text) corpus has tot_tokens=0: shares and
    weights are explicit NULLs, not a DIVIDE_BY_ZERO crash."""
    from retail_etl_pipeline_spark.operators import corpus as cp

    df = spark.createDataFrame(
        [("a", 1, None), ("b", 2, None)], "source string, doc_id long, text string"
    )
    out = cp.source_mix_weights(df).collect()
    assert {r["source"] for r in out} == {"a", "b"}
    assert all(r["share_ppm"] is None and r["weight_ppm"] is None for r in out)


def test_pagerank_hub_heavy_sum_stays_exact(spark):
    """The 85x step runs in DECIMAL(38,0): a hub with large inbound mass
    must not overflow the BIGINT product under ANSI mode. 200 leaves at
    rank ~SCALE each is small, so force the regime with a tiny graph and
    verify the decimal path returns the exact integer recurrence."""
    n = 201
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, n)] + [(i, 0) for i in range(1, n)],
        "src bigint, dst bigint",
    )
    out = {r["node"]: r["rank_fp"] for r in gph.pagerank_fixed_point(edges, 1).collect()}
    # after one round: hub gets T + 0.85 * sum(leaf SCALE/1) exactly
    expected_hub = gph.TELEPORT_FP + (85 * (n - 1) * gph.SCALE) // 100
    assert out[0] == expected_hub


def test_min_label_propagation_components_and_partial_state(spark):
    """Two disjoint components: after >= diameter rounds every node
    carries its component min; at round 1 a far node has only moved one
    hop (deterministic partial state, not an error)."""
    # path 0-1-2-3 (diameter 3) and pair 10-11, symmetric edges
    es = [(0, 1), (1, 2), (2, 3), (10, 11)]
    edges = spark.createDataFrame(
        es + [(b, a) for a, b in es], "src bigint, dst bigint"
    )
    done = {
        r["node"]: r["label"]
        for r in gph.min_label_propagation(edges, rounds=3).collect()
    }
    assert done == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}
    partial = {
        r["node"]: r["label"]
        for r in gph.min_label_propagation(edges, rounds=1).collect()
    }
    assert partial == {0: 0, 1: 0, 2: 1, 3: 2, 10: 10, 11: 10}


def test_min_label_propagation_partitioning_invariant(spark):
    es = [(a, b) for a in range(6) for b in range(6) if a != b and (a * b) % 4 == 0]
    edges = spark.createDataFrame(
        es + [(b, a) for a, b in es], "src bigint, dst bigint"
    )
    r1 = sorted(map(tuple, gph.min_label_propagation(edges, 2).collect()))
    r2 = sorted(
        map(tuple, gph.min_label_propagation(edges.repartition(7), 2).collect())
    )
    assert r1 == r2


def test_min_label_propagation_keeps_dst_only_nodes(spark):
    """Non-symmetric edge list: a node appearing only as dst must still
    be labeled (review-caught silent drop)."""
    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    out = {r["node"]: r["label"] for r in gph.min_label_propagation(edges, 2).collect()}
    assert out == {1: 1, 2: 1}


def test_bfs_hops_toy_graph(spark):
    """Hand-checkable BFS: path 1-2-3-4 plus a branch 2-5 and an
    unreachable island {10, 11}. Seed = min node = 1; rounds=4 covers
    the diameter; island nodes must keep the sentinel."""
    from retail_etl_pipeline_spark.operators.graph import BFS_INF, bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (2, 5), (5, 2),
         (10, 11), (11, 10)],
        "src bigint, dst bigint",
    )
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, rounds=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 2, 10: BFS_INF, 11: BFS_INF}


def test_bfs_bounded_rounds_leaves_far_nodes_unreached(spark):
    """At rounds=1 only direct neighbors of the seed resolve — the
    bounded form is a deterministic partial state, not an error."""
    from retail_etl_pipeline_spark.operators.graph import BFS_INF, bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src bigint, dst bigint"
    )
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, rounds=1).collect()}
    assert got == {1: 0, 2: 1, 3: BFS_INF}


def test_bfs_empty_frontier_short_circuit(spark):
    """Frontier-delta BFS must stop iterating once the frontier empties:
    rounds=50 on a 4-node path returns in bounded time with the same
    answer as rounds=3 (exact distances; the 46 surplus rounds cost
    nothing). Also pins the frontier rewrite against the asymmetric
    direction: a one-way edge chain resolves downstream only."""
    from retail_etl_pipeline_spark.operators.graph import BFS_INF, bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    big = {r["node"]: r["hops"] for r in bfs_hops(edges, rounds=50).collect()}
    small = {r["node"]: r["hops"] for r in bfs_hops(edges, rounds=3).collect()}
    assert big == small == {1: 0, 2: 1, 3: 2, 4: 3}


def test_epoch_shuffle_key_extreme_ids(spark):
    """The epoch-shuffle hash must survive corpus-scale doc_ids under
    ANSI mode (the split-hash BIGINT overflow class, DEVNOTES r4): one
    job evaluates the Spark expression at extreme ids and epochs and
    compares against exact Python integer arithmetic; distinct epochs
    must produce different permutations."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.operators.corpus import (
        EPOCH_STRIDE,
        SPLIT_MIX,
        SPLIT_MOD,
        epoch_shuffle_key,
    )

    from decimal import Decimal

    ids = [0, 1, 7, 2**31 - 1, 2**40, 10**18, 2**62]
    df = spark.createDataFrame(
        [(Decimal(i),) for i in ids], "doc_id decimal(38,0)"
    )
    for epoch in (0, 1, 5):
        got = {
            int(r["doc_id"]): r["k"]
            for r in df.select(
                "doc_id", epoch_shuffle_key(epoch).alias("k")
            ).collect()
        }
        want = {
            i: (i + epoch * EPOCH_STRIDE) * SPLIT_MIX % SPLIT_MOD
            for i in ids
        }
        assert got == want, f"epoch={epoch}"
    # different epochs -> different order of the same ids
    k1 = df.select(epoch_shuffle_key(1).alias("k")).collect()
    k2 = df.select(epoch_shuffle_key(2).alias("k")).collect()
    assert [r["k"] for r in k1] != [r["k"] for r in k2]


def test_ares_sample_weight_monotone_inclusion(spark):
    """A-Res keys: a hugely heavier row should (overwhelmingly) rank
    ahead of uniform-weight rows; with k = n all rows survive and ranks
    are a permutation of 1..n per group."""
    from retail_etl_pipeline_spark.operators.sampling import (
        ares_sample_per_group,
    )

    rows = [(i, "g", 1 if i != 7 else 10_000_000) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, w bigint")
    top3 = ares_sample_per_group(df, "source", "doc_id", "w", k=3).collect()
    assert 7 in {r["doc_id"] for r in top3}
    allr = ares_sample_per_group(df, "source", "doc_id", "w", k=20).collect()
    assert sorted(r["sample_rank"] for r in allr) == list(range(1, 21))


def test_hll_merge_equals_direct_estimate(spark):
    """Mergeability invariant: union of per-nation sketches must give
    the same estimate as sketching each region's customers directly —
    the property that makes the rollup incremental at 100 TB."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
    from retail_etl_pipeline_spark.operators.sketches import (
        hll_distinct,
        hll_merge_estimate,
        hll_sketch_per_group,
    )

    sf = "/root/testdata/sf0.001"
    c = fx._read(spark, sf, "customer")
    n = fx._read(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    merged = hll_merge_estimate(
        hll_sketch_per_group(c, "c_nationkey", "c_custkey").join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        ),
        "n_regionkey",
    )
    direct = hll_distinct(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey),
        "n_regionkey",
        "c_custkey",
    )
    m = {r[0]: r[1] for r in merged.collect()}
    d = {r[0]: r[1] for r in direct.collect()}
    assert m == d and len(m) == 5


def _sym(pairs):
    """Symmetric directed edge list from undirected pairs."""
    return [(u, v) for a, b in pairs for u, v in ((a, b), (b, a))]


def test_triangle_count_k4(spark):
    """K4: 4 triangles, 6 edges, 12 wedges; clustering = 1 (1e6 ppm)."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(_sym(k4), "src long, dst long")
    row = gph.triangle_count(edges).collect()[0]
    assert (
        row.n_nodes,
        row.n_edges,
        row.n_triangles,
        row.n_wedges,
        row.clustering_ppm,
    ) == (4, 6, 4, 12, 1_000_000)


def test_triangle_count_path_has_none(spark):
    edges = spark.createDataFrame(
        _sym([(i, i + 1) for i in range(5)]), "src long, dst long"
    )
    row = gph.triangle_count(edges).collect()[0]
    assert row.n_triangles == 0
    assert row.clustering_ppm == 0


def test_triangle_count_star_plus_rim(spark):
    """Hub star (worst skew for an unoriented count) + one rim edge:
    exactly the one triangle through the rim pair, and the hub's
    out-adjacency after (deg,id) orientation is empty — the skew never
    reaches the wedge join."""
    star = [(100, i) for i in range(10)]
    edges = spark.createDataFrame(_sym(star + [(0, 1)]), "src long, dst long")
    row = gph.triangle_count(edges).collect()[0]
    assert row.n_triangles == 1


def test_materialized_edges_lifecycle(spark, sf_dir):
    """graph.materialized_edges: (a) second call reuses the relation
    without re-running build, (b) a STALE directory left by an earlier
    process (dir on disk, no cache entry) is overwritten, not fatal —
    the saveAsTable LOCATION_ALREADY_EXISTS regression from r6, (c)
    clear_materialized_edges removes the path and the entry."""
    import os

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame(
            [(1, 2), (2, 1)], "src long, dst long"
        )

    key = "test-lifecycle-edges"
    df1 = gph.materialized_edges(spark, key, build)
    assert df1.count() == 2 and calls["n"] == 1
    df2 = gph.materialized_edges(spark, key, build)
    assert df2.count() == 2 and calls["n"] == 1  # cache hit, no rebuild

    # simulate a process restart: cache entry gone, directory remains
    (sid_key,) = [k for k in gph._MATERIALIZED_EDGES if k[1] == key]
    path = gph._MATERIALIZED_EDGES[sid_key][1]
    del gph._MATERIALIZED_EDGES[sid_key]
    assert os.path.exists(path)
    df3 = gph.materialized_edges(spark, key, build)
    assert df3.count() == 2 and calls["n"] == 2  # rebuilt over stale dir

    gph.clear_materialized_edges(spark)
    assert not os.path.exists(path)
    assert not [k for k in gph._MATERIALIZED_EDGES if k[1] == key]
