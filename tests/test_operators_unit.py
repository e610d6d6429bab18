"""Unit tests for operator edge cases (SURVEY.md §5.2): last-per-group
ties, zero denominators (Q7), flag counting (Q4), empty filter groups,
plan-parity between the single-pass summary and the assembled form."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_spark.functions.metrics import money, safe_div
from retail_etl_pipeline_spark.functions.weeks import yr_wk_num
from retail_etl_pipeline_spark.operators import retail


def test_yr_wk_num_iso_year_boundary(spark):
    df = spark.createDataFrame(
        [(datetime.date(1996, 12, 31),), (datetime.date(1997, 1, 1),),
         (datetime.date(2021, 1, 1),)],
        "d date",
    )
    out = [r[0] for r in df.select(yr_wk_num("d")).collect()]
    # 1996-12-31 and 1997-01-01 are both ISO 1997-W01;
    # 2021-01-01 is ISO 2020-W53 (not 202101!)
    assert out == [199701, 199701, 202053]


def test_safe_div_null_on_zero(spark):
    df = spark.createDataFrame([(1.0, 0.0), (4.0, 2.0)], "a double, b double")
    out = df.select(safe_div(F.col("a"), F.col("b")).alias("q")).collect()
    assert out[0]["q"] is None
    assert out[1]["q"] == 2.0


def test_money_rounds_half_up_via_decimal(spark):
    df = spark.createDataFrame([(0.005,), (1.455,), (2.0,)], "x double")
    out = [r[0] for r in df.select(money(F.col("x"))).collect()]
    assert out == [0.01, 1.46, 2.0]


def _ties_frame(spark):
    # two observations with the SAME max date for group (1, A):
    # tie must break on the highest event_id -> value 30.0
    rows = [
        (1, "A", datetime.date(2024, 1, 1), 1, 10.0),
        (1, "A", datetime.date(2024, 1, 2), 2, 20.0),
        (1, "A", datetime.date(2024, 1, 2), 3, 30.0),
        (2, "B", datetime.date(2024, 1, 1), 4, 40.0),
    ]
    return spark.createDataFrame(
        rows, "store_key int, prod_key string, cal_dt date, event_id int, v double"
    )


def test_eow_window_and_maxby_agree_on_ties(spark):
    df = _ties_frame(spark)
    kwargs = dict(
        grain=["store_key", "prod_key"],
        order_cols=["cal_dt", "event_id"],
        value_cols={"v": "eow_v"},
    )
    w = retail.eow_snapshot_window(df, **kwargs)
    m = retail.eow_snapshot_maxby(df, **kwargs)
    expected = {(1, "A"): 30.0, (2, "B"): 40.0}
    for out in (w, m):
        got = {(r["store_key"], r["prod_key"]): r["eow_v"] for r in out.collect()}
        assert got == expected


def test_low_stock_flag_branches(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 2.0), (3.0, 2.0)],
        "inventory_on_hand_qty double, sales_qty double",
    )
    out = [r[0] for r in df.select(retail.low_stock_flag(df)).collect()]
    # flag only when on-hand strictly below sold qty
    assert out == [1, 0, 0]


def test_weekly_sales_agg_empty_group_semantics(spark):
    # a group whose measures are all NULL: sums stay NULL, ratio stays NULL
    df = spark.createDataFrame(
        [(202401, 1, 1, None, None, None)],
        "yr_wk_num int, store_key int, prod_key int, "
        "sales_qty double, sales_amt double, sales_cost double",
    )
    row = retail.weekly_sales_agg(df).collect()[0]
    assert row["total_sales_qty"] is None
    assert row["avg_sales_amt"] is None


def test_summary_single_pass_equals_assembled(spark):
    from retail_etl_pipeline_spark.plans import weekly_summary as ws

    sf = "/root/testdata/sf0.001"
    a = ws.weekly_summary(spark, sf)
    b = ws.weekly_summary_assembled(spark, sf)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_asof_join_semantics(spark):
    """At-or-before matching, NULL before any right row, equal-ts rows
    visible, deterministic tie-break."""
    import datetime as dt

    from retail_etl_pipeline_spark.operators.asof import asof_join

    T = lambda s: dt.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, T("2024-01-01 09:00:00"), 10, "e"),   # before any right -> NULL
            (2, T("2024-01-01 10:00:00"), 10, "e"),   # == right ts -> sees 1.0
            (3, T("2024-01-01 11:30:00"), 10, "e"),   # between -> 1.0
            (4, T("2024-01-01 12:00:00"), 10, "e"),   # tie of two rights at 12:00
            (5, T("2024-01-01 09:00:00"), 99, "e"),   # other key -> NULL
        ],
        "event_id int, ts timestamp, user_id int, event_type string",
    )
    right = spark.createDataFrame(
        [
            (100, T("2024-01-01 10:00:00"), 10, 1.0),
            (101, T("2024-01-01 12:00:00"), 10, 2.0),
            (102, T("2024-01-01 12:00:00"), 10, 3.0),  # higher id wins the tie
        ],
        "event_id int, ts timestamp, user_id int, value double",
    )
    out = {
        r["event_id"]: r["v"]
        for r in asof_join(
            left, right, key="user_id", ts="ts", tiebreak="event_id",
            value_col="value", out_col="v",
        ).collect()
    }
    assert out == {1: None, 2: 1.0, 3: 1.0, 4: 3.0, 5: None}


@pytest.mark.parametrize("driver_max_edges", [1_000_000, 0])
def test_connected_components_chain_and_islands(spark, driver_max_edges):
    """Both CC paths (driver union-find and distributed min-label
    propagation) must close multi-hop chains (transitivity), keep disjoint
    clusters separate, and label every node with the component's min id."""
    from retail_etl_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50),  # 5-node chain
         (100, 200),                               # island pair
         (7, 8), (8, 7)],                          # duplicate/reversed edge
        "doc_a bigint, doc_b bigint",
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            pairs, driver_max_edges=driver_max_edges
        ).collect()
    }
    assert got == {
        10: 10, 20: 10, 30: 10, 40: 10, 50: 10,
        100: 100, 200: 100,
        7: 7, 8: 7,
    }


def test_star_contraction_path_graph_logarithmic_rounds(spark):
    """Worst-diameter input: a PATH graph. Min-label propagation needs
    O(diameter) rounds; large-star/small-star contraction must finish in
    ~log2(n) rounds (VERDICT r3 item 4). n=256 -> diameter 255; the loop
    must converge well inside _CC_MAX_ITERS and label every node with
    the path minimum."""
    from retail_etl_pipeline_spark.operators.dedup import _star_contraction

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    labels, rounds = _star_contraction(pairs, n_parts=4)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    # diameter is 255; a flood would need ~255 rounds. log2(256) = 8 —
    # allow the documented O(log^2) slack but pin the order of growth
    assert rounds <= 16, rounds


def test_simhash_neardup_finds_small_edits(spark):
    """Pigeonhole blocking must surface pairs within the Hamming budget:
    identical docs (distance 0) and one-word edits; unrelated docs must
    not pair."""
    from retail_etl_pipeline_spark.operators.dedup import simhash_neardup

    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> hamming 0
            (3, base.replace("lazy", "sleepy", 1)),  # near-identical
            (4, "completely different text about database engines and "
                "distributed query planning with no shared vocabulary"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup(docs).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 4) not in got and (2, 4) not in got and (3, 4) not in got


def test_funnel_requires_stage_order(spark):
    """A user whose purchase precedes their click must not count as
    converted; the strictly-increasing chain must."""
    import datetime as dt

    from retail_etl_pipeline_spark.operators.behavior import (
        funnel_conversion,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: view -> click -> purchase (converts fully)
        (1, 1, "view", t(0)), (2, 1, "click", t(1)), (3, 1, "purchase", t(2)),
        # user 2: purchase BEFORE click (stops at clicked_after_view)
        (4, 2, "view", t(0)), (5, 2, "purchase", t(1)), (6, 2, "click", t(2)),
        # user 3: click with no view (counts nowhere)
        (7, 3, "click", t(0)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts timestamp"
    )
    out = funnel_conversion(ev).collect()[0]
    assert out["viewed"] == 2
    assert out["clicked_after_view"] == 2
    assert out["purchased_after_click"] == 1


def test_event_transitions_lag_ordering(spark):
    """Transitions follow per-user event-time order with event_id
    tie-break; the first event of each user emits no transition."""
    import datetime as dt

    from retail_etl_pipeline_spark.operators.behavior import (
        event_transitions,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, 1, "view", t(0)), (2, 1, "click", t(1)), (3, 1, "click", t(1)),
        (4, 2, "signup", t(5)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts timestamp"
    )
    got = {
        (r["from_type"], r["to_type"]): r["transitions"]
        for r in event_transitions(ev).collect()
    }
    # same-ts events 2,3 order by event_id: view->click, click->click
    assert got == {("view", "click"): 1, ("click", "click"): 1}


def test_resize_images_deterministic_shape(spark):
    """1->1 mapInPandas plumbing: every payload becomes exactly
    width*height bytes, cyclically repeated from the source."""
    from retail_etl_pipeline_spark.operators.multimodal import (
        attach_binary,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(1, "abc"), (2, "xy")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: r
        for r in resize_images(attach_binary(docs), 4, 2).collect()
    }
    assert bytes(out[1]["pixels"]) == b"abcabcab"
    assert bytes(out[2]["pixels"]) == b"xyxyxyxy"
    assert all(r["width"] == 4 and r["height"] == 2 for r in out.values())


def test_sample_frames_fanout_and_stride(spark):
    """1->many mapInPandas plumbing: every 2nd FRAME_BYTES chunk, partial
    tail kept, frame indices are the source positions."""
    from retail_etl_pipeline_spark.operators.multimodal import (
        FRAME_BYTES,
        attach_binary,
        sample_frames,
    )

    # 2.5 frames -> frames 0,1,2 exist; stride 2 keeps 0 and 2
    text = "a" * (FRAME_BYTES * 2 + 10)
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        sample_frames(attach_binary(docs), every_n=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 2]
    assert len(bytes(rows[0]["frame"])) == FRAME_BYTES
    assert len(bytes(rows[1]["frame"])) == 10


def test_corpus_split_is_exhaustive_and_deterministic(spark):
    """Every doc lands in exactly one split; re-running (and re-partitioning)
    gives the identical assignment — the property randomSplit lacks."""
    from retail_etl_pipeline_spark.operators.corpus import corpus_split

    docs = spark.createDataFrame(
        [(i, "tok " * 5, "l", f"s{i % 3}", 20) for i in range(100)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out1 = corpus_split(docs)
    out2 = corpus_split(docs.repartition(7))
    assert out1.selectExpr("sum(n_docs)").first()[0] == 100
    assert sorted(map(tuple, out1.collect())) == sorted(
        map(tuple, out2.collect())
    )
    splits = {r["split"] for r in out1.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}


def test_boilerplate_and_novelty_on_known_corpus(spark):
    """Hand-checkable corpus: doc 0/1/2 share one 3-gram ('a b c'), doc 3
    is disjoint. With min_docs=3 the shared gram is boilerplate for its
    three holders; novelty credits the smallest doc_id."""
    from retail_etl_pipeline_spark.operators.corpus import (
        boilerplate_spans,
        shingle_novelty,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c x0 y0"),
            (1, "a b c x1 y1"),
            (2, "a b c x2 y2"),
            (3, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    boiler = {
        r["doc_id"]: (r["n_shingles"], r["n_boiler"])
        for r in boilerplate_spans(docs, min_docs=3).collect()
    }
    # each 5-token doc has 3 shingles; only 'a b c' is shared by >= 3 docs
    assert boiler == {0: (3, 1), 1: (3, 1), 2: (3, 1), 3: (3, 0)}
    nov = {
        r["doc_id"]: r["n_novel"]
        for r in shingle_novelty(docs).collect()
    }
    # doc 0 owns all its shingles first; docs 1/2 lose 'a b c' to doc 0
    assert nov == {0: 3, 1: 2, 2: 2, 3: 3}


def test_short_documents_produce_no_shingles(spark):
    """Docs with fewer than SHINGLE_N tokens vanish from shingle-derived
    stats on both engines (no divide-by-zero, no phantom rows)."""
    from retail_etl_pipeline_spark.operators.corpus import (
        boilerplate_spans,
        shingle_novelty,
    )

    docs = spark.createDataFrame(
        [(0, "one two"), (1, "a b c d")], "doc_id long, text string"
    )
    assert [r["doc_id"] for r in boilerplate_spans(docs).collect()] == [1]
    assert [r["doc_id"] for r in shingle_novelty(docs).collect()] == [1]


def test_embedding_quantize_known_codes_and_constant_vector(spark):
    """Exact codes for a hand-computed vector; constant vectors quantize
    to all-zero codes instead of dividing by zero."""
    from retail_etl_pipeline_spark.operators.similarity import (
        embedding_quantize,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 1.0, 2.0], 0),  # scale=2/255; codes 0,128,255
            (1, [3.0, 3.0, 3.0], 1),  # constant -> codes 0,0,0
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["vec_id"]: r for r in embedding_quantize(emb).collect()}
    # (1.0 - 0.0) / (2/255) = 127.5 -> floor(128.0) = 128
    assert rows[0]["code_sum"] == 0 + 128 + 255
    assert rows[0]["v_min"] == 0.0 and rows[0]["v_max"] == 2.0
    assert rows[1]["code_sum"] == 0


def test_label_centroid_similarity_orthogonal_and_identical(spark):
    """Two labels on the same axis -> cosine 1; orthogonal axes -> 0."""
    from retail_etl_pipeline_spark.operators.similarity import (
        label_centroid_similarity,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [2.0, 0.0], 0),
            (2, [3.0, 0.0], 1),  # same axis as label 0
            (3, [0.0, 5.0], 2),  # orthogonal
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in label_centroid_similarity(emb).collect()
    }
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == 0.0
    assert out[(1, 2)] == 0.0


def test_event_ts_micros_handles_both_fixture_vintages(spark):
    """events.ts arrives as nano-epoch BIGINT from older generators and as
    TIMESTAMP(MICROS) from newer ones; both must normalize to the same UTC
    instant (the 2^53 overflow makes float division corrupt the bigint
    path — integer division only)."""
    from retail_etl_pipeline_spark.operators.fixtures_adapter import (
        event_ts_micros,
    )

    ns = 1_700_000_000_123_456_789  # 2023-11-14T22:13:20.123456789Z
    old = spark.createDataFrame([(ns,)], "ts long")
    new = spark.createDataFrame(
        [("2023-11-14 22:13:20.123456",)], "ts string"
    ).selectExpr("CAST(ts AS TIMESTAMP_NTZ) AS ts")
    got_old = old.select(event_ts_micros(old).alias("t")).first()["t"]
    got_new = new.select(event_ts_micros(new).alias("t")).first()["t"]
    assert got_old == got_new
    assert got_old.microsecond == 123456


def test_scrub_pii_redacts_and_counts(spark):
    from retail_etl_pipeline_spark.operators.text import scrub_pii

    rows = [
        (1, "mail a.b+c@ex-ample.co.uk now"),
        (2, "card 4111 1111 1111 1111 and 5500-0000-0000-0004 here"),
        (3, "host 192.168.0.1 dial 555-0123"),
        (4, "clean text, no pii at all"),
        # version strings are ip-shaped: documented false positive of the
        # ipv4 rule (regex redaction trades precision for recall)
        (5, "release 1.2.3.4 notes"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["scrubbed"]
    assert "a.b+c" not in out[1]["scrubbed"]
    assert out[2]["n_card"] == 2
    assert out[2]["scrubbed"].count("<CARD>") == 2
    assert out[3]["n_ipv4"] == 1 and out[3]["n_phone"] == 1
    assert "<IP>" in out[3]["scrubbed"] and "<PHONE>" in out[3]["scrubbed"]
    assert out[4]["scrubbed"] == rows[3][1]
    assert all(out[4][f"n_{k}"] == 0 for k in ("email", "card", "ipv4", "phone"))
    assert out[5]["n_ipv4"] == 1  # known false-positive class


def test_domain_stats_counts_links_docs_urls(spark):
    from retail_etl_pipeline_spark.operators.text import domain_stats, extract_urls

    rows = [
        (1, "see https://a.example/x and https://a.example/y plus http://b.example/z"),
        (2, "again https://a.example/x trailing"),
        (3, "no links here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    urls = extract_urls(df).collect()
    assert len(urls) == 4  # doc 3 contributes nothing (explode drops empties)
    stats = {r["domain"]: r for r in domain_stats(df).collect()}
    assert stats["a.example"]["n_links"] == 3
    assert stats["a.example"]["n_docs"] == 2
    assert stats["a.example"]["n_urls"] == 2  # /x deduped across docs
    assert stats["b.example"]["n_links"] == 1


def test_orphan_counts_finds_crafted_orphans(spark):
    from pyspark.sql import functions as FF

    from retail_etl_pipeline_spark.operators.integrity import (
        FkEdge,
        orphan_counts,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (None, 20), (5, None)],
        "a_key int, b_key int",
    )
    pa = spark.createDataFrame([(1,), (2,), (5,)], "a int")
    pb = spark.createDataFrame([(10,), (20,)], "b int")
    rows = {
        r["fk_edge"]: r
        for r in orphan_counts(
            child,
            [
                FkEdge("a_key", pa, "a", "c.a->pa.a"),
                FkEdge("b_key", FF.broadcast(pb), "b", "c.b->pb.b",
                       broadcast=True),
            ],
        ).collect()
    }
    assert rows["c.a->pa.a"]["n_child_rows"] == 5
    assert rows["c.a->pa.a"]["n_orphans"] == 2  # key 3 + NULL key
    assert rows["c.b->pb.b"]["n_orphans"] == 2  # 99 + NULL


def test_snapshot_diff_classifies_all_statuses(spark):
    from pyspark.sql import functions as FF

    from retail_etl_pipeline_spark.operators.reconcile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)], "k int, s string, v int"
    )
    got = {
        r["status"]: r["n_keys"]
        for r in snapshot_diff(
            old, new, ["k"], [FF.col("s"), FF.col("v")]
        ).collect()
    }
    assert got == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_orphan_counts_same_named_fk_columns(spark):
    """The star-schema common case: child FK column named identically to
    the parent key must not be ambiguous."""
    from retail_etl_pipeline_spark.operators.integrity import (
        FkEdge,
        orphan_counts,
    )

    child = spark.createDataFrame([(1,), (2,), (9,)], "nation_key int")
    parent = spark.createDataFrame([(1,), (2,)], "nation_key int")
    rows = orphan_counts(
        child, [FkEdge("nation_key", parent, "nation_key", "c->p")]
    ).collect()
    assert rows[0]["n_child_rows"] == 3
    assert rows[0]["n_orphans"] == 1


def test_incremental_merge_any_run_grouping(spark, sf_dir):
    """merge is associative and grouping-independent: three disjoint
    'runs' folded in either association order produce the exact direct
    result (decimal partials)."""
    from pyspark.sql import functions as FF

    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
    from retail_etl_pipeline_spark.operators import retail
    from retail_etl_pipeline_spark.operators.incremental import (
        finalize_rollup,
        merge_partials,
        rollup_partials,
    )

    s = retail.add_week(fx.sales(spark, sf_dir), "trans_dt")
    runs = [rollup_partials(s.filter(FF.col("trans_id") % 3 == i)) for i in range(3)]
    left = merge_partials(merge_partials(runs[0], runs[1]), runs[2])
    right = merge_partials(runs[0], merge_partials(runs[1], runs[2]))
    direct = rollup_partials(s)

    def rows(df):
        return sorted(tuple(r) for r in finalize_rollup(df).collect())

    assert rows(left) == rows(direct)
    assert rows(right) == rows(direct)


def test_canonicalize_url_rules(spark):
    from retail_etl_pipeline_spark.operators.text import canonicalize_url

    cases = {
        "HTTPS://Example.COM/Path/?utm_source=x&utm_b=2#frag":
            "https://example.com/Path",
        "http://A.b/p?utm_x=1&keep=2": "http://a.b/p?keep=2",
        "https://Host/p?keep=1&utm_y=9": "https://host/p?keep=1",
        "https://host/p/": "https://host/p",
        "not a url": "not a url",  # non-URLs pass through untouched
        "HtTp://MiXeD.Case/KeepPath": "http://mixed.case/KeepPath",
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string")
    got = {
        r["u"]: r["c"]
        for r in df.select(
            "u", canonicalize_url(F.col("u")).alias("c")
        ).collect()
    }
    assert got == cases


def test_l_diversity_summary_homogeneous_class(spark):
    """A class can be large (k-anonymous) yet value-homogeneous — the
    exact disclosure l-diversity exists to catch."""
    import pytest
    from retail_etl_pipeline_spark.operators.privacy import (
        l_diversity_summary,
    )

    df = spark.createDataFrame(
        # class A: 4 rows, all sensitive=10 (homogeneous -> violating)
        # class B: 2 rows, sensitive {10, 20} (l=2 -> violating at l=3)
        # class C: 3 rows, sensitive {1, 2, 3} (l=3 -> ok)
        [("A", 10)] * 4 + [("B", 10), ("B", 20)]
        + [("C", 1), ("C", 2), ("C", 3)],
        "qi string, s int",
    )
    row = l_diversity_summary(df, ["qi"], "s", l=3).collect()[0]
    assert row.n_classes == 3
    assert row.violating_classes == 2
    assert row.rows_at_risk == 6
    assert row.achieved_l == 1

    with pytest.raises(ValueError):
        l_diversity_summary(df, ["qi"], "s", l=0)


def test_jaccard_link_prediction_path_graph(spark):
    """Path a-b-c: the only wedge is a-b-c, so (a, c) is the one
    predicted link, with Jaccard |{b}| / |{b}| = 1 -> 1e6 ppm; adjacent
    pairs must be anti-joined out even when they share a neighbor."""
    from retail_etl_pipeline_spark.operators.graph import (
        jaccard_link_prediction,
    )

    # symmetric edge list of the path 1-2-3 plus triangle edge 1-3 absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    rows = jaccard_link_prediction(edges, k=10).collect()
    assert [(r.u, r.w, r.common, r.jaccard_ppm) for r in rows] == [
        (1, 3, 1, 1_000_000)
    ]

    # close the triangle: 1-3 now adjacent -> no non-adjacent wedge pair
    tri = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)],
        "src long, dst long",
    )
    assert jaccard_link_prediction(tri, k=10).count() == 0


def test_partsupp_synthetic_matches_oracle_cte_rowwise(spark, duck, sf_dir):
    """The synthesized partsupp must be ROW-IDENTICAL between the Spark
    generator and the oracle CTE — the three TPC-H queries over it test
    query logic only because this holds. Also pins the spec invariants:
    4 rows per part and the value ranges. ((part, supplier) pairs are
    unique at sf0.01+ where |supplier| = 100; at sf0.001's 10 suppliers
    the dbgen step can wrap onto itself — duplicates are identical on
    both engines, so every aggregate stays comparable.)"""
    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
    from retail_etl_pipeline_spark.sources.synthetic import (
        PARTSUPP_CTE_SQL,
        partsupp_synthetic,
    )

    ps = partsupp_synthetic(
        fx._read(spark, sf_dir, "part"), fx._read(spark, sf_dir, "supplier")
    )
    got = sorted(map(tuple, ps.collect()))
    want = sorted(
        map(
            tuple,
            duck.sql(
                f"WITH {PARTSUPP_CTE_SQL} SELECT * FROM partsupp"
            ).fetchall(),
        )
    )
    assert got == want
    n_parts = fx._read(spark, sf_dir, "part").count()
    assert len(got) == 4 * n_parts
    assert all(1 <= r[2] <= 9999 and 100 <= r[3] <= 100000 for r in got)


def test_query_index_first_sentence_skips_abbreviations():
    """The QUERIES.md summary extractor must not split on the period of
    'et al.' / 'App.' style abbreviations (r8 ADVICE: two generated
    descriptions were truncated mid-citation)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
    )
    from gen_query_index import first_sentence

    doc = (
        "The GPT-3 width (Brown et al. 2020 App. C: 13-gram overlap):"
        " the removal criterion. Second sentence."
    )
    assert first_sentence(doc) == (
        "The GPT-3 width (Brown et al. 2020 App. C: 13-gram overlap):"
        " the removal criterion."
    )
    assert first_sentence("Plain lead. Tail.") == "Plain lead."
    assert first_sentence(None) == "(no docstring)"


def test_fanout_decides_from_the_plan(spark, sf_dir):
    """fanout() over a grouped input launches no job — under AQE,
    reading its ``.rdd`` would run the upstream shuffle stage at build
    time — and passes it through; a one-file scan narrower than the
    cluster, bare or under a filter and projection, is still
    hash-repartitioned."""
    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
    from retail_etl_pipeline_spark.operators.text import fanout
    from tests.test_pipeline import _drained_job_ids

    sc = spark.sparkContext
    docs = fx._read(spark, sf_dir, "documents")
    grouped = docs.groupBy("source").agg(F.min("doc_id").alias("doc_id"))
    sc.setJobGroup("fanout-grouped", "fanout over a grouped input")
    try:
        assert fanout(grouped, "doc_id") is grouped
        assert _drained_job_ids(spark, "fanout-grouped") == set()
    finally:
        sc._jsc.clearJobGroup()
    assert docs.rdd.getNumPartitions() < sc.defaultParallelism
    assert fanout(docs, "doc_id") is not docs
    narrowed = docs.where(F.col("doc_id") > 0).select("doc_id", "text")
    assert fanout(narrowed, "doc_id") is not narrowed
