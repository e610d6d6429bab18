"""Round-10 operator tests: the IVF-PQ16 index lifecycle (train -> add
-> search) and the pins it owns, the similarity family's build-phase
job counts and driver-side probe ranking, SemDeDup at a larger cell
count, and the CCNet staged-mix composition — each checked against an
independent reference (the one-shot twins, a brute-force recompute, or
composing the constituent operators separately), never against its own
oracle SQL."""

from __future__ import annotations

import dataclasses
import random

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_spark.operators import fixtures_adapter as fx
from retail_etl_pipeline_spark.operators import similarity as sim

SF0001 = "/root/testdata/sf0.001"


def _rows(df):
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# IVF-PQ16 index lifecycle
# ---------------------------------------------------------------------------

IVFPQ16 = sim.PQ_TOPK["ann_ivfpq16_topk"]
IVFPQ16_RERANK = sim.PQ_TOPK["ann_ivfpq16_rerank_topk"]


def _ivfpq16_index(emb):
    return sim.pq_index_for(emb, IVFPQ16["pq"], IVFPQ16["iters"])


def test_index_serve_matches_one_shot_queries(spark):
    """The serve path over a built index returns row-for-row what the
    one-shot (train-inside-the-query) twins return — the lifecycle
    changes WHEN training happens, never the result."""
    emb = fx._read(spark, SF0001, "embeddings")
    idx = _ivfpq16_index(emb)
    assert _rows(sim.pq_search(idx)) == _rows(sim.pq_topk(emb, **IVFPQ16))
    assert _rows(
        sim.pq_search(idx, shortlist=IVFPQ16_RERANK["shortlist"])
    ) == _rows(sim.pq_topk(emb, **IVFPQ16_RERANK))


def test_index_build_is_cached_and_serve_plan_is_pure(spark):
    """pq_index_for holds one index per (session, corpus, params); the ADC
    serve plan has no join and no global sort (the cells x codes
    join happened once at build), and the rerank plan's only join is
    the broadcast shortlist fetch."""
    emb = fx._read(spark, SF0001, "embeddings")
    idx1 = _ivfpq16_index(emb)
    idx2 = _ivfpq16_index(emb)
    assert idx1 is idx2
    plan = sim.pq_search(idx1)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    rplan = (
        sim.pq_search(idx1, shortlist=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert rplan.count("Join") == 1
    assert "Broadcast" in rplan
    assert "TakeOrderedAndProject" in rplan


def test_clear_trained_state_releases_only_index_pins(spark):
    """clear_trained_state drops what pq_index_for pinned and nothing
    else: a caller's own eager localCheckpoint, taken before an ANN
    query and an index build, still collects after the clear, while the
    index's pinned RDD is gone from the block manager."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    mine = spark.range(50).selectExpr("id * 3 AS x")
    mine = mine.localCheckpoint(eager=True)
    emb = fx._read(spark, SF0001, "embeddings")
    sim.ivf_topk(emb, nprobe=sim.IVF_NPROBE).collect()
    coded = _ivfpq16_index(emb).coded
    pinned = coded._jdf.queryExecution().analyzed().rdd().id()
    assert pinned in persistent()
    sim.clear_trained_state(spark)
    assert pinned not in persistent()
    assert sorted(r["x"] for r in mine.collect()) == [3 * i for i in range(50)]


#: each query's build-phase Spark jobs at sf0.001 with no index held:
#: the schema-inference read plus one job per training collect (two
#: for a collect behind a shuffle). Every trained artifact a query
#: needs twice is collected once and passed on, so a count above its
#: bound is a collect that ran twice.
BUILD_JOBS = {
    "ann_ivf_topk": 3,
    "ann_ivf_topk_lloyd": 5,
    "ann_ivf_topk_lloyd_multiprobe": 5,
    "ann_ivf_topk_multiprobe": 3,
    "ann_ivfpq16_topk": 8,
    "ann_lsh_topk": 2,
    "ann_lsh_topk_multiprobe": 2,
    "ann_opq16_adc_topk": 7,
    "ann_pq8_adc_topk": 3,
    "embedding_neardup_lsh": 2,
    "semdedup_keep": 2,
    "semdedup_keep_k32": 2,
}


@pytest.mark.parametrize("name", sorted(BUILD_JOBS))
def test_similarity_build_jobs_within_bound(spark, name):
    from retail_etl_pipeline_spark.registry import QUERIES
    from tests.test_pipeline import _drained_job_ids

    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, "build-phase jobs")
    try:
        QUERIES[name](spark, SF0001)
        n = len(_drained_job_ids(spark, group))
    finally:
        sc._jsc.clearJobGroup()
    assert n <= BUILD_JOBS[name]


@pytest.mark.parametrize("cents_of", ["seed", "lloyd1", "lloyd2", "seed32"])
def test_probe_ranking_first_cell_is_the_assigned_cell(spark, cents_of):
    """The driver-side probe ranking's first cell is the cell the
    assignment kernel gives the same vector, for every corpus vector:
    the single-probe IVF queries probe ``_probe_cells(q, cents, 1)``
    and rely on it being the query's own cell. Covers the seed, Lloyd-1
    and Lloyd-2 centroids and the k=32 seed band."""
    emb = fx._read(spark, SF0001, "embeddings")
    vecs = sim._vectors(emb)
    cents = {
        "seed": lambda: sim._seed_centroids(vecs),
        "lloyd1": lambda: sim._lloyd_cents(vecs, 1),
        "lloyd2": lambda: sim._lloyd_cents(vecs, 2),
        "seed32": lambda: sim._seed_centroids(vecs, 32),
    }[cents_of]()
    rows = sim._with_cells(vecs, cents).select("vec_id", "v", "cell").collect()
    assert len(rows) == emb.count() > 0
    mismatched = [
        r["vec_id"]
        for r in rows
        if sim._probe_cells([float(x) for x in r["v"]], cents, 1)
        != [r["cell"]]
    ]
    assert mismatched == []


def test_index_write_read_roundtrip_partition_pruning(spark, tmp_path):
    """write_pq_index persists the coded relation partitioned by cell;
    reloading and filtering on probe cells turns the filter into
    PartitionFilters (directory pruning — the 100 TB serving shape),
    and the reloaded table serves identical ADC results."""
    emb = fx._read(spark, SF0001, "embeddings")
    idx = _ivfpq16_index(emb)
    path = str(tmp_path / "ivfpq16_index")
    sim.write_pq_index(idx, path)
    reloaded = sim.read_pq_index_table(spark, path, idx.pq)
    assert set(reloaded.columns) == {
        "vec_id", "label", "cell", "pq_lo", "pq_hi",
    }
    assert reloaded.count() == idx.coded.count()
    qv = sim._query_vec(idx.vecs, 0)
    probe = sim._probe_cells(qv, idx.cents, sim.IVF_NPROBE)
    pruned = reloaded.where(F.col("cell").isin(*probe))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the cell predicate must be a partition filter, not a data filter
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in seg
    # served results off the reloaded table == in-session index
    disk_idx = dataclasses.replace(idx, coded=reloaded)
    assert _rows(sim.pq_search(disk_idx)) == _rows(sim.pq_search(idx))


@pytest.mark.parametrize(
    "entry", ["adc", "rerank", "serve", "ivf", "ivf_lloyd"]
)
def test_missing_query_id_fails_by_name(spark, entry):
    """A query id the corpus lacks raises ValueError naming the id at
    every entry point that takes one — plain ADC, ADC + exact rerank,
    the serve path over a built index and the IVF cell probes over
    seed and Lloyd-refined centroids — instead of a TypeError from a
    None row."""
    emb = fx._read(spark, SF0001, "embeddings")
    missing = 10**9
    with pytest.raises(ValueError, match=f"vec_id {missing} is not in"):
        if entry == "adc":
            cfg = sim.PQ_TOPK["ann_pq8_adc_topk"]
            sim.pq_topk(emb, **cfg, query_id=missing)
        elif entry == "rerank":
            cfg = sim.PQ_TOPK["ann_pq16_rerank_topk"]
            sim.pq_topk(emb, **cfg, query_id=missing)
        elif entry == "serve":
            sim.pq_search(_ivfpq16_index(emb), query_id=missing)
        elif entry == "ivf":
            sim.ivf_topk(emb, query_id=missing)
        else:
            sim.ivf_topk(emb, query_id=missing, iters=1)


# ---------------------------------------------------------------------------
# SemDeDup at a larger cell count
# ---------------------------------------------------------------------------


def test_semdedup_k32_plan_stays_cell_bucketed(spark):
    """At k=32 (4x the default) the pair relation must still be an
    equi-join keyed on the cell id — never a cartesian/broadcast-
    nested-loop — and more cells must not drop MORE rows than fewer
    cells (pairs only vanish when a cell boundary splits them)."""
    emb = fx._read(spark, SF0001, "embeddings")
    k32 = sim.semdedup_keep(emb, k=32)
    plan = k32._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan
    n_default = sim.semdedup_keep(emb).count()
    n_k32 = k32.count()
    total = emb.count()
    assert n_default <= n_k32 <= total
    # independent brute-force check of the k=32 drop rule on a sample:
    # every dropped row must have a lower-id epsilon-neighbor in its
    # own cell, every kept row must not
    cells = sim._semdedup_cells(emb, 32)
    rows = cells.select("vec_id", "cell", "v").collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    import math

    def cos(a, b):
        s = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return s / na / nb

    kept_ids = {r["vec_id"] for r in k32.collect()}
    for cell, members in by_cell.items():
        members.sort(key=lambda r: r["vec_id"])
        for i, r in enumerate(members):
            has_lower_dup = any(
                round(cos(list(q["v"]), list(r["v"])), 6)
                >= sim.COSINE_NEARDUP_THRESHOLD
                for q in members[:i]
            )
            assert (r["vec_id"] not in kept_ids) == has_lower_dup, (
                f"vec {r['vec_id']} cell {cell}"
            )


# ---------------------------------------------------------------------------
# CCNet staged mix
# ---------------------------------------------------------------------------


def test_ccnet_staged_mix_equals_stage_then_mix(spark):
    """The composed pipeline == running the stage and the mix recipe
    separately: take the head+middle band by explicit NTILE-equivalent
    bucketing, recompute uniform-target weights/budgets over the band
    in plain Python (exact integer arithmetic), apply the greedy
    fluent-first cut — per-source keep counts and token totals must
    match the one-pipeline operator."""
    from retail_etl_pipeline_spark.operators import selection as sel

    docs = fx._read(spark, SF0001, "documents")
    got = {
        r["source"]: (
            r["weight_ppm"], r["budget_tokens"], r["n_kept"],
            r["tokens_kept"], r["n_head"], r["n_middle"],
        )
        for r in sel.ccnet_staged_mix(docs).collect()
    }

    # independent staging: rank by (xent, doc_id), exact NTILE(3)
    xr = [
        (r["doc_id"], r["n_tokens"], r["xent"])
        for r in sel.unigram_logprob_quality(docs).collect()
    ]
    src = {
        r["doc_id"]: r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    xr.sort(key=lambda t: (t[2], t[0]))
    n = len(xr)
    q, rem = divmod(n, 3)
    sizes = [q + 1 if i < rem else q for i in range(3)]
    band = []  # head+middle
    pos = 0
    for b, size in enumerate(sizes, start=1):
        chunk = xr[pos : pos + size]
        pos += size
        if b <= 2:
            band.extend((d, tk, xe, b) for d, tk, xe in chunk)

    # independent mix: exact integer ppm arithmetic over the band
    per: dict[str, int] = {}
    for d, tk, _, _ in band:
        per[src[d]] = per.get(src[d], 0) + tk
    tot = sum(per.values())
    nsrc = len(per)
    wts = {
        s: ((1_000_000 // nsrc) * 1_000_000)
        // ((per[s] * 1_000_000) // tot)
        for s in per
    }
    mass = {s: per[s] * wts[s] for s in per}
    mt = sum(mass.values())
    budgets = {
        s: (sel.CCNET_MIX_POOL_TOKENS * mass[s]) // mt for s in per
    }

    # independent greedy cut: bucket asc, xent asc, doc_id asc
    want: dict[str, tuple] = {}
    by_src: dict[str, list] = {}
    for d, tk, xe, b in band:
        by_src.setdefault(src[d], []).append((b, xe, d, tk))
    for s, items in by_src.items():
        items.sort()
        cum = kept = toks = heads = mids = 0
        for b, xe, d, tk in items:
            cum += tk
            if cum > budgets[s]:
                break
            kept += 1
            toks += tk
            heads += b == 1
            mids += b == 2
        want[s] = (wts[s], budgets[s], kept, toks, heads, mids)

    assert got == want


def test_ccnet_staged_mix_budget_scales_with_pool(spark):
    """Doubling the token pool must not shrink any source's budget or
    keep count (monotonicity of the budget recipe)."""
    from retail_etl_pipeline_spark.operators import selection as sel

    docs = fx._read(spark, SF0001, "documents")
    small = {
        r["source"]: (r["budget_tokens"], r["n_kept"])
        for r in sel.ccnet_staged_mix(docs, pool_tokens=30000).collect()
    }
    big = {
        r["source"]: (r["budget_tokens"], r["n_kept"])
        for r in sel.ccnet_staged_mix(docs, pool_tokens=60000).collect()
    }
    assert set(small) == set(big)
    for s in small:
        assert big[s][0] >= small[s][0]
        assert big[s][1] >= small[s][1]


@pytest.mark.parametrize("bits", [3, 8])
def test_pq_seed_band_incomplete_is_loud(spark, bits):
    """Training PQ codebooks on a corpus that lost part of the
    vec_id 1..2**bits seed band raises a named contract error up front
    instead of a downstream KeyError mid-train (the r10 DEVNOTES known
    edge)."""
    emb = fx._read(spark, SF0001, "embeddings")
    sliced = sim._vectors(emb).where(F.col("vec_id") > 4)
    with pytest.raises(ValueError, match="PQ seed band incomplete"):
        sim.ProductQuantizer(8, bits).books(sliced)


def test_ivfpq16_index_stats_census_invariants(spark):
    """The census must partition the corpus: per-cell populations sum
    to |corpus|, every cell has >= 1 vector, code diversity is bounded
    by population, and the numbers agree with counting the coded table
    directly."""
    emb = fx._read(spark, SF0001, "embeddings")
    idx = _ivfpq16_index(emb)
    stats = {
        r["cell"]: (r["n_vectors"], r["n_codes"])
        for r in sim.pq_index_stats(idx).collect()
    }
    total = emb.count()
    assert sum(n for n, _ in stats.values()) == total
    assert all(n >= 1 and 1 <= c <= n for n, c in stats.values())
    direct = {
        r["cell"]: r["cnt"]
        for r in idx.coded.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert {c: n for c, (n, _) in stats.items()} == direct


# ---------------------------------------------------------------------------
# r10 optimization round: the vectorized assignment kernels
# (similarity._js_np_udf / _cell_np_udf) replaced the interpreted
# higher-order-function argmin/argmax in every PQ/IVF assignment path.
# The expression forms are KEPT as the reference spec (_cell_expr and
# _code_idx_ref, one reference parameterized by the distance form);
# these tests lock FULL-CORPUS equality of the two forms — code indexes
# and cell ids for every vector, both distance forms, seed and trained
# books, raw and OPQ-permuted vectors.
# ---------------------------------------------------------------------------


def _js_expr_rows(vecs, pq, books):
    """Per-vector code indexes via the REFERENCE expression form."""
    cols = [
        sim._code_idx_ref(s, books[s], pq.d, pq.form).alias(f"j{s}")
        for s in range(pq.m)
    ]
    return {
        r["vec_id"]: [r[f"j{s}"] for s in range(pq.m)]
        for r in vecs.select("vec_id", *cols).collect()
    }


def _pq_id(pq):
    suffix = f"-lloyd{pq.train_iters}" if pq.train_iters else ""
    suffix += f"-{pq.rotation}" if pq.rotation else ""
    return f"{pq.m}-{pq.d}-{pq.form}{suffix}"


@pytest.mark.parametrize(
    "pq",
    [
        sim.ProductQuantizer(16, 8),
        sim.ProductQuantizer(8, 8),
        sim.ProductQuantizer(8, 3),
        sim.ProductQuantizer(8, 3, 1),
        sim.ProductQuantizer(16, 8, 1),
        sim.ProductQuantizer(16, 8, 1, rotation="opq"),
    ],
    ids=_pq_id,
)
def test_np_code_assignment_equals_expression_form(spark, pq):
    vecs = pq.vectors(fx._read(spark, SF0001, "embeddings"))
    books = pq.books(vecs)
    ref = _js_expr_rows(vecs, pq, books)
    got = {
        r["vec_id"]: list(r["js"])
        for r in vecs.select("vec_id", pq.assign(books).alias("js")).collect()
    }
    assert got == ref


def test_np_cell_assignment_equals_expression_form(spark):
    emb = fx._read(spark, SF0001, "embeddings")
    vecs = sim._vectors(emb)
    for cents in (
        sim._seed_centroids(vecs),
        sim._lloyd_cents(vecs, 1),
    ):
        ref = {
            r["vec_id"]: r["cell"]
            for r in vecs.select(
                "vec_id", sim._cell_expr(cents).alias("cell")
            ).collect()
        }
        got = {
            r["vec_id"]: r["cell"]
            for r in vecs.select(
                "vec_id", sim._cell_np_udf(cents).alias("cell")
            ).collect()
        }
        assert got == ref


def test_np_pack_words_match_expression_shift_sum(spark):
    """The packed bigint words (incl. the signed-overflow wrap of the
    high PQ16 shifts) equal a Python shift-sum of the reference code
    indexes."""
    pq = sim.ProductQuantizer(16, 8)
    vecs = sim._vectors(fx._read(spark, SF0001, "embeddings"))
    books = pq.books(vecs)
    got = {
        r["vec_id"]: (r["pq_lo"], r["pq_hi"])
        for r in pq.encode(vecs, books).collect()
    }
    js = _js_expr_rows(vecs, pq, books)

    def wrap(x):
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= 1 << 63 else x

    for vid, codes in js.items():
        lo = wrap(sum(codes[s] << (8 * s) for s in range(8)))
        hi = wrap(sum(codes[s] << (8 * (s - 8)) for s in range(8, 16)))
        assert got[vid] == (lo, hi), vid


# ---------------------------------------------------------------------------
# one code layout: the Spark pack, the ADC unpack and the oracle's
# pack/unpack read the same CodeLayout for every (m, bits) the quantizer
# accepts
# ---------------------------------------------------------------------------

_DIVISORS = [m for m in range(1, sim.DIM + 1) if sim.DIM % m == 0]


def _accepted_configs():
    out = []
    for bits in (3, 8):
        for m in _DIVISORS:
            try:
                out.append(sim.ProductQuantizer(m, bits))
            except ValueError:
                # only the layout may refuse an m that divides 64: more
                # than two words of 64 // bits codes
                assert -(-m // (64 // bits)) > 2, (m, bits)
    return out


def test_quantizer_refuses_configs_it_cannot_hold():
    with pytest.raises(ValueError, match="code words"):
        sim.ProductQuantizer(64, 3)
    with pytest.raises(ValueError, match="code words"):
        sim.ProductQuantizer(32, 8)
    with pytest.raises(ValueError, match="m must divide"):
        sim.ProductQuantizer(3, 8)
    with pytest.raises(ValueError, match="bits must be"):
        sim.ProductQuantizer(8, 4)
    with pytest.raises(ValueError, match="rotation"):
        sim.ProductQuantizer(16, 8, rotation="pca")


@pytest.mark.parametrize(
    "pq", _accepted_configs(), ids=lambda pq: f"m{pq.m}-bits{pq.bits}"
)
def test_code_layout_round_trip(spark, pq):
    """Random code indexes (plus the all-max row, which sets the top bit
    of every field and so the sign bit of a full word) survive the
    Spark pack -> unpack round trip, and the oracle's HUGEINT pack
    yields the same signed words and unpacks to the same indexes."""
    import duckdb

    rng = random.Random(pq.m * 100 + pq.bits)
    rows = {
        i: [rng.randrange(pq.k) for _ in range(pq.m)] for i in range(40)
    }
    rows[40] = [pq.k - 1] * pq.m
    lay = pq.layout
    df = spark.createDataFrame(
        list(rows.items()), "vec_id bigint, js array<int>"
    )
    coded = df.select("vec_id", *lay.pack(F.col("js")))
    back = coded.select(
        "vec_id",
        *lay.cols,
        F.array(*[lay.unpack(s) for s in range(pq.m)]).alias("js"),
    ).collect()
    assert {r["vec_id"]: list(r["js"]) for r in back} == rows
    words = {r["vec_id"]: tuple(r[c] for c in lay.cols) for r in back}

    con = duckdb.connect()
    con.execute("CREATE TABLE a (vec_id BIGINT, s INTEGER, j INTEGER)")
    con.executemany(
        "INSERT INTO a VALUES (?, ?, ?)",
        [(v, s, j) for v, js in rows.items() for s, j in enumerate(js)],
    )
    con.execute("CREATE TABLE e AS SELECT DISTINCT vec_id, 0 AS label FROM a")
    pack = ",\n".join(lay.sql_pack_ctes("a"))
    cols = ", ".join(lay.cols)
    got = con.sql(f"WITH {pack} SELECT vec_id, {cols} FROM codes").fetchall()
    assert {r[0]: tuple(r[1:]) for r in got} == words
    unpack = ",\n".join(lay.sql_unpack_ctes("codes"))
    got = con.sql(
        f"WITH {pack},\n{unpack} SELECT vec_id, s, j FROM unpacked"
    ).fetchall()
    back_sql: dict[int, list[int]] = {v: [None] * pq.m for v in rows}
    for v, s, j in got:
        back_sql[v][s] = j
    assert back_sql == rows
