"""Similarity search over embedding columns (SURVEY.md §2.10).

- brute-force cosine top-k (the exactness baseline) and its batched form
- embedding-cosine near-duplicate pairs: a bounded brute-force baseline
  and the LSH-bucketed scale path
- LSH ANN top-k over random-hyperplane sign buckets: one search whose
  probe set is a tuple of bucket flips (``(0,)`` is single-probe,
  LSH_MULTIPROBE_FLIPS adds every Hamming-1 bucket)
- IVF ANN top-k over centroid cells: one search over the seed centroids
  refined by ``iters`` exact-decimal Lloyd iterations (0 = the seeds),
  probing the ``nprobe`` nearest cells
- SemDeDup semantic dedup over the same cell assignment
- one product quantizer (:class:`ProductQuantizer`) with flat, IVF,
  rerank and materialized-index search over its codes

The LSH near-dup pairs and SemDeDup share one within-key cosine pair
join (:func:`_cosine_pairs`: key, threshold, flip set), and every
cell-keyed oracle builds on one relational assignment chain
(:func:`_lloyd_cells_ctes`).

Per-row vector math against ONE query vector is JVM-side array
higher-order functions (``zip_with`` products + ``aggregate``
summation). The hot paths cross the Arrow boundary instead: pairwise
dot products (:func:`_dot_udf`, the brute-force near-dup block scorer
via ``mapInPandas``) and the IVF cell and PQ code assignment kernels,
which are bit-identical to the folds they replace (see the kernel
section). Cosines are rounded at 6 decimals via DECIMAL (see
functions.metrics) before ranking/thresholding so results are
engine-stable; ties break on vec_id.

At 100 TB: brute-force top-k against ONE query is a single scan (fine);
pairwise brute force is quadratic and exists only as the correctness
baseline — the bucketed pair join is the production path (equi-join on
bucket or cell id).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: number of random-hyperplane bits for the LSH bucket id
LSH_PLANES = 4
#: vec_ids whose embeddings serve as deterministic hyperplanes
PLANE_IDS = tuple(range(1, 1 + LSH_PLANES))
#: cosine threshold for near-duplicate pairs
COSINE_NEARDUP_THRESHOLD = 0.45
#: top-k size
TOP_K = 10
#: sample bound for the brute-force near-dup BASELINE: pairs are computed
#: within the first NEARDUP_SAMPLE_DOCS vec_ids only, so the driver-side
#: collect and the O(n^2) similarity matrix stay bounded at ANY corpus
#: size. The unbounded production path is lsh_pairs.
NEARDUP_SAMPLE_DOCS = 4096


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product over double arrays — matches
    DuckDB's list_dot_product accumulation closely enough that the 6-decimal
    rounding downstream absorbs any pairwise-vs-sequential difference."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a)) / F.sqrt(dot(b, b))


def _round6(c: Column) -> Column:
    return F.round(c.cast("decimal(20,9)"), 6).cast("double")


_dot_udf_cached = None


def _dot_udf(a: Column, b: Column) -> Column:
    """Arrow-vectorized dot product for the PAIRWISE operators.

    The built-in zip_with/aggregate lambdas are interpreted (outside
    whole-stage codegen) — fine for one query vector, ~30x too slow for
    millions of pairs. numpy einsum accumulates in a different order than a
    strict sequential loop; the 6-decimal rounding downstream absorbs the
    <=1e-12 difference (see _round6). Built lazily: pandas_udf needs an
    active session to parse its return type."""
    global _dot_udf_cached
    if _dot_udf_cached is None:

        def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
            return pd.Series(np.einsum("ij,ij->i", np.stack(x.values), np.stack(y.values)))

        _dot_udf_cached = F.pandas_udf(_dot, "double")
    return _dot_udf_cached(a, b)


def _with_norm(vecs: DataFrame) -> DataFrame:
    """Precompute ||v|| once per vector: cosine over pairs then needs ONE
    dot product per pair instead of three."""
    return vecs.withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))


_DOT_SQL = "list_dot_product({a}, {b})"
_COS_SQL = (
    "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}))"
    " / sqrt(list_dot_product({b}, {b}))"
)
_ROUND6_SQL = "CAST(round(CAST({x} AS DECIMAL(20,9)), 6) AS DOUBLE)"
_VEC_SQL = "list_transform({e}, x -> CAST(x AS DOUBLE))"
_E_CTE = (
    "e AS (\n"
    f"  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v"
    " FROM embeddings\n)"
)


def _with(ctes: list[str]) -> str:
    return ",\n".join(ctes)


def _vectors(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )


def cosine_topk(emb: DataFrame, query_id: int = 0, k: int = TOP_K) -> DataFrame:
    """Brute-force cosine top-k against one query vector: broadcast the
    query, one scan, TakeOrderedAndProject for the global top-k (no full
    sort)."""
    vecs = _vectors(emb)
    q = vecs.where(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv")
    )
    scored = (
        vecs.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), F.col("qv"))).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def cosine_topk_sql(query_id: int = 0, k: int = TOP_K) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})
SELECT vec_id,
       label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='v', b='qv'))} AS cosine
FROM e, q
WHERE vec_id != {query_id}
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


#: the fixed query batch for the batched-ANN operator
BATCH_QUERY_IDS = (0, 17, 42, 99, 123, 256, 333, 404)
BATCH_TOP_K = 5


def ann_batch_topk(
    emb: DataFrame,
    query_ids: tuple[int, ...] = BATCH_QUERY_IDS,
    k: int = BATCH_TOP_K,
) -> DataFrame:
    """Brute-force cosine top-k for a BATCH of query vectors in one scan.

    The query side is a bounded literal list (|Q| vectors), so it is
    broadcast and the corpus is scanned exactly once regardless of |Q|;
    the per-query top-k runs as a rank window partitioned by query_id.
    Spark's WindowGroupLimit pushes the ``rn <= k`` filter below the
    shuffle (each task keeps only its local top-k per query before the
    exchange), so the shuffle moves O(|Q| * k * tasks) rows, not the
    |corpus| x |Q| scored pairs — the plan survives any corpus size.

    The Arrow-vectorized dot (see _dot_udf) does the |corpus| x |Q|
    scoring: unlike the single-query operators, the pair count here is
    |Q|x the corpus, where the interpreted zip_with/aggregate lambda is
    measurably the bottleneck.
    """
    from pyspark.sql import Window

    vecs = _with_norm(_vectors(emb))
    q = vecs.where(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        vecs.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            _round6(
                _dot_udf(F.col("v"), F.col("qv"))
                / F.col("norm")
                / F.col("qnorm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "label", "cosine")
    )


def ann_batch_topk_sql(
    query_ids: tuple[int, ...] = BATCH_QUERY_IDS, k: int = BATCH_TOP_K
) -> str:
    id_list = ", ".join(str(q) for q in query_ids)
    return f"""
WITH e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({id_list})
)
SELECT query_id,
       vec_id,
       label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='v', b='qv'))} AS cosine
FROM e, q
WHERE vec_id != query_id
QUALIFY row_number() OVER (
  PARTITION BY query_id
  ORDER BY {_ROUND6_SQL.format(x=_COS_SQL.format(a='v', b='qv'))} DESC,
           vec_id ASC
) <= {k}
"""


def embedding_neardup(
    emb: DataFrame, max_docs: int = NEARDUP_SAMPLE_DOCS
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a bounded,
    deterministic sample (the ``max_docs`` lowest vec_ids): the brute-force
    correctness BASELINE for :func:`lsh_pairs`, which is the
    unbounded production path.

    The sample bound is what makes this registrable at scale: the
    driver-side collect is O(max_docs), never O(corpus) (VERDICT r1
    finding #2). At the test SFs the corpus fits inside the bound, so the
    result equals the full all-pairs relation.

    Plan: block-matrix similarity join. The sample is collected and
    broadcast as ONE numpy matrix; each Arrow batch of sample vectors
    computes a block x sample matmul and emits only pairs above
    threshold. This avoids materializing the quadratic pair relation in
    the engine — a naive cross join shuffles O(n^2) rows each dragging
    two embedding payloads, while the block join moves O(n) rows.

    The in-batch filter keeps a small margin below the threshold and the
    final (rounded) threshold is applied engine-side, so boundary values
    round identically to the oracle."""
    spark = emb.sparkSession
    # TakeOrdered (sort+limit) -> deterministic bounded sample at any SF
    vecs = _vectors(emb).orderBy("vec_id").limit(max_docs)
    rows = vecs.select("vec_id", "v").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat_n))

    def _block(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.stack(pdf["v"].values).astype(np.float64)
            a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
            sims = a_mat @ b_mat.T
            ai, bi = np.where(
                (sims >= COSINE_NEARDUP_THRESHOLD - 1e-6)
                & (a_ids[:, None] < b_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": b_ids[bi],
                    "raw_cosine": sims[ai, bi],
                }
            )

    scored = vecs.mapInPandas(
        _block, schema="vec_a bigint, vec_b bigint, raw_cosine double"
    )
    return scored.select(
        "vec_a",
        "vec_b",
        _round6(F.col("raw_cosine")).alias("cosine"),
    ).where(F.col("cosine") >= COSINE_NEARDUP_THRESHOLD)


EMBEDDING_NEARDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
  ORDER BY vec_id LIMIT {NEARDUP_SAMPLE_DOCS}
)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))} AS cosine
FROM e a
JOIN e b ON a.vec_id < b.vec_id
WHERE {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))}
      >= {COSINE_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# LSH: random-hyperplane sign buckets. One top-k search and one pair
# join, each parameterized by the probed flip set: a probe of bucket b
# with flip f reads bucket b xor f, so single-probe is the identity flip
# alone and multi-probe adds the Hamming-1 flips.
# ---------------------------------------------------------------------------

#: bucket flips a multi-probe LSH search probes: the identity (the
#: query's own bucket) and every Hamming-1 flip. Single-probe LSH is the
#: identity alone, ``(0,)``.
LSH_MULTIPROBE_FLIPS = (0, *(1 << i for i in range(LSH_PLANES)))


def _with_buckets(vecs: DataFrame) -> DataFrame:
    """Hyperplane bucket id as a single PROJECTION: the plane vectors are
    tiny plan constants (collected once, inlined as array literals), so no
    crossJoin/groupBy round-trip is needed — bucket assignment stays inside
    one codegen stage and scales as a map over the corpus."""
    plane_rows = (
        vecs.where(F.col("vec_id").isin(*PLANE_IDS))
        .select("vec_id", "v")
        .collect()
    )
    planes = {r["vec_id"]: list(r["v"]) for r in plane_rows}
    bucket = F.lit(0).cast("bigint")
    for i, pid in enumerate(sorted(planes)):
        pv = _dbl_arr_lit(planes[pid])
        bit = F.when(dot(F.col("v"), pv) > 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit.cast("bigint"), i)
    return vecs.withColumn("bucket", bucket)


def _probe_keys(key: Column, flips: tuple[int, ...]) -> Column:
    """``key`` xor each of ``flips``, one row per flip (an explode of a
    bounded array, so the probe set stays relational). The identity-only
    set is ``key`` itself, with no Generate in the plan."""
    if flips == (0,):
        return key
    return F.explode(
        F.array(*[key if f == 0 else key.bitwiseXOR(F.lit(f)) for f in flips])
    )


def lsh_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    flips: tuple[int, ...] = (0,),
) -> DataFrame:
    """LSH ANN top-k: exact cosine rerank over the buckets ``bucket(q)
    xor f`` for each ``f`` in ``flips``.

    The LSH_PLANES hyperplanes are the embeddings of PLANE_IDS —
    deterministic and data-independent of the query. bucket(v) =
    sum_i [dot(v, p_i) > 0] << i. ``flips=(0,)`` probes the query's own
    bucket (~N/2^bits vectors); LSH_MULTIPROBE_FLIPS adds every
    Hamming-1 bucket, recovering neighbors that straddle ONE hyperplane
    at (1+bits)/2^bits of the corpus scanned. A larger flip set probes a
    candidate superset, so recall@k can only improve.

    Plan shape: the probe set is derived from the ONE query row and
    broadcast into an equi-join on bucket id — an equi-lookup of a
    handful of buckets, never a corpus scan or a driver round-trip."""
    with_bits = _with_buckets(_vectors(emb))
    probes = with_bits.where(F.col("vec_id") == query_id).select(
        _probe_keys(F.col("bucket"), flips).alias("bucket"),
        F.col("v").alias("qv"),
    )
    return (
        with_bits.where(F.col("vec_id") != query_id)
        .join(F.broadcast(probes), "bucket")
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), F.col("qv"))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_pairs(emb: DataFrame, flips: tuple[int, ...] = (0,)) -> DataFrame:
    """Near-dup pairs, LSH-bucketed: only pairs whose buckets match up to
    one of ``flips`` are scored — the equi-join on bucket id replaces the
    quadratic cross join at scale (recall < 1 by design; the oracle
    encodes the same bucketing, so the comparison is exact).
    LSH_MULTIPROBE_FLIPS also scores every pair whose signatures differ
    in ONE hyperplane bit. Each qualifying pair matches exactly once
    (equal buckets only via the identity flip, Hamming-1 buckets only
    via the single differing bit), so no dedup pass is needed beyond
    the a < b canonicalization."""
    return _cosine_pairs(
        _with_buckets(_vectors(emb)), "bucket", COSINE_NEARDUP_THRESHOLD, flips
    )


def _cosine_pairs(
    rel: DataFrame, key: str, tau: float, flips: tuple[int, ...] = (0,)
) -> DataFrame:
    """(vec_a, vec_b, cosine) over ``rel`` (vec_id, v, ``key``): every
    pair vec_a < vec_b with ``key(a) xor f == key(b)`` for some ``f`` in
    ``flips`` and round6(cosine) >= ``tau``. The within-key self-join
    shared by the LSH near-dup pairs and SemDeDup: candidate volume is
    sum |key group|^2 (times |flips|), never all pairs. The pairwise dot
    runs in the Arrow kernel over precomputed norms; rounding before the
    threshold keeps the boundary pair set engine-identical."""
    wn = _with_norm(rel)
    a = wn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
        _probe_keys(F.col(key), flips).alias(key),
    )
    b = wn.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
        key,
    )
    return (
        a.join(b, key)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _round6(
                _dot_udf(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= tau)
    )


def _lsh_ctes(flips: tuple[int, ...]) -> list[str]:
    """Oracle CTEs e -> planes -> buckets(vec_id, label, v, bucket) ->
    flips(flip): the relational twin of :func:`_with_buckets` plus the
    probed flip set."""
    plane_list = ", ".join(str(p) for p in PLANE_IDS)
    flip_list = ", ".join(f"({f})" for f in flips)
    return [
        _E_CTE,
        "planes AS (\n"
        f"  SELECT vec_id AS plane_id, v AS pv FROM e WHERE vec_id IN"
        f" ({plane_list})\n)",
        "buckets AS (\n"
        "  SELECT e.vec_id,\n"
        "         e.label,\n"
        "         ANY_VALUE(e.v) AS v,\n"
        "         CAST(SUM(\n"
        f"           (CASE WHEN {_DOT_SQL.format(a='e.v', b='pv')} > 0"
        " THEN 1 ELSE 0 END)\n"
        f"           << (plane_id - {min(PLANE_IDS)})\n"
        "         ) AS BIGINT) AS bucket\n"
        "  FROM e, planes\n"
        "  GROUP BY e.vec_id, e.label\n)",
        f"flips AS (SELECT * FROM (VALUES {flip_list}) AS t(flip))",
    ]


def lsh_topk_sql(
    query_id: int = 0, k: int = TOP_K, flips: tuple[int, ...] = (0,)
) -> str:
    ctes = _lsh_ctes(flips) + [
        "q AS (SELECT bucket AS qbucket, v AS qv FROM buckets WHERE"
        f" vec_id = {query_id})",
        "probes AS (SELECT xor(qbucket, CAST(flip AS BIGINT)) AS bucket, qv"
        " FROM q, flips)",
    ]
    return f"""
WITH {_with(ctes)}
SELECT b.vec_id,
       b.label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='b.v', b='qv'))} AS cosine
FROM buckets b JOIN probes p ON b.bucket = p.bucket
WHERE b.vec_id != {query_id}
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


def _pairs_sql(probes: str, base: str, key: str, tau: float) -> str:
    """Oracle twin of :func:`_cosine_pairs`: (vec_a, vec_b, cosine) over
    ``probes`` a JOIN ``base`` b on ``key``, a.vec_id < b.vec_id,
    round6(cosine) >= ``tau``."""
    cos = _ROUND6_SQL.format(x=_COS_SQL.format(a="a.v", b="b.v"))
    return (
        f"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine\n"
        f"FROM {probes} a\n"
        f"JOIN {base} b ON a.{key} = b.{key} AND a.vec_id < b.vec_id\n"
        f"WHERE {cos} >= {tau}"
    )


def lsh_pairs_sql(flips: tuple[int, ...] = (0,)) -> str:
    ctes = _lsh_ctes(flips) + [
        "probes AS (\n"
        "  SELECT vec_id, v, xor(bucket, CAST(flip AS BIGINT)) AS bucket\n"
        "  FROM buckets, flips\n)"
    ]
    return f"""
WITH {_with(ctes)}
{_pairs_sql("probes", "buckets", "bucket", COSINE_NEARDUP_THRESHOLD)}
"""


# ---------------------------------------------------------------------------
# IVF ANN: coarse quantization into centroid cells, exact rerank within
# the ``nprobe`` cells nearest the query. The seed centroids are fixed
# corpus vectors (CENTROID_IDS); ``iters`` exact-decimal Lloyd iterations
# refine them, and iters=0 is the seed quantizer itself. Float k-means
# would break the cross-engine oracle, because per-dimension double sums
# depend on partition/accumulation order. The Lloyd update sidesteps it:
# components are pinned to integer NANO-units (decimal hop, HALF_UP — the
# money discipline), per-cell sums are exact BIGINT, the mean is exact
# truncating integer division (Spark `div` == DuckDB `//`, both
# toward-zero, verified on negatives), and only the final /1e9 returns to
# double — one exact-integer-by-constant IEEE division, bit-identical on
# both engines. So the refined centroids, the assignment and the probe
# are all engine-stable: real Lloyd, no float drift.
# ---------------------------------------------------------------------------

#: vec_ids whose embeddings act as the IVF seed centroids
CENTROID_IDS = tuple(range(1, 9))
#: cells probed by the multi-probe IVF queries (top-m nearest centroids)
IVF_NPROBE = 2
#: nano-unit scale for exact centroid means
_NANO = 1_000_000_000


def _seed_centroids(
    vecs: DataFrame, n: int = len(CENTROID_IDS)
) -> dict[int, list[float]]:
    """The deterministic seed band: bounded collect of the corpus vectors
    ``vec_id 1..n`` (n rows, a plan constant — the IVF seed centroids
    CENTROID_IDS by default, the first ``k`` ids for a SemDeDup cell
    count ``k``, and the 2**bits sub-codebook seeds of a
    :class:`ProductQuantizer`). A query that needs the band twice
    collects it once and passes it on."""
    cent_rows = (
        vecs.where(F.col("vec_id").between(1, n))
        .select("vec_id", "v")
        .collect()
    )
    return {r["vec_id"]: list(r["v"]) for r in cent_rows}

def _cell_expr(cents: dict[int, list[float]]) -> Column:
    """The max-cosine cell-assignment expression over ``F.col("v")``
    (ties -> lowest centroid id) — the reference expression form of the
    assignment argmax that :func:`_cell_np_udf` runs as a vectorized
    kernel (tests lock their equality)."""
    cids = sorted(cents)
    # ONE 2-D literal + a transform keeps the expression tree tiny (vs 8
    # separate 64-literal arrays, whose codegen cost dominated first-run)
    # one folded string-literal per centroid row (8 py4j calls) vs 8x64
    # element-wise F.lit roundtrips — bit-identical values, ~1s less
    # driver-side plan construction per call (see _dbl_arr_lit)
    cent_mat = F.array(*[_dbl_arr_lit(cents[cid]) for cid in cids])
    vnorm = F.sqrt(dot(F.col("v"), F.col("v")))
    scores = F.transform(
        cent_mat, lambda cv: dot(F.col("v"), cv) / vnorm / F.sqrt(dot(cv, cv))
    )
    # array_position returns the FIRST index of the max -> lowest cid wins
    # exact ties, identical to the oracle's (cs DESC, cid ASC) ranking
    idx = F.array_position(scores, F.array_max(scores))
    cid_arr = F.array(*[F.lit(c).cast("bigint") for c in cids])
    return F.element_at(cid_arr, idx.cast("int"))


def _with_cells(vecs: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Assign each vector to its max-cosine centroid cell (ties -> lowest
    centroid id) as a single PROJECTION: centroids are tiny plan constants
    (collected once, inlined as array literals) and the argmax is an
    expression fold — no crossJoin, no window shuffle; at scale this is a
    pure map over the corpus."""
    # r10: assignment via the vectorized kernel (guide §4.2) — the
    # interpreted 8x(3-dot) argmax fold cost seconds per pass on the
    # single toy input split; values bit-identical (see the kernel
    # section header)
    return vecs.select(
        "vec_id", "label", "v", _cell_np_udf(cents).alias("cell")
    )


def _seq_dot(a: list, b: list) -> float:
    """Strict sequential left-to-right double dot product — the exact
    accumulation order of both Spark's interpreted ``aggregate`` fold
    (see :func:`dot`) and DuckDB's list_dot_product, so a driver-side
    centroid ranking computed with it agrees bit-for-bit with the
    relational cell assignment on either engine."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + float(x) * float(y)
    return s


def _probe_cells(
    qv: list[float], cents: dict[int, list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` nearest centroid cell ids by cosine to the query
    (ties -> lowest cid) — the bounded driver-side probe-list step
    shared by every IVF search. Uses the sequential-fold dot, so the
    ranking agrees bit-for-bit with the oracle's relational form, and
    its first entry is the cell the assignment kernel gives the query
    (tests lock that over the whole corpus)."""
    import math

    qnorm = math.sqrt(_seq_dot(qv, qv))
    ranked = sorted(
        (
            -(_seq_dot(qv, cv) / qnorm / math.sqrt(_seq_dot(cv, cv))),
            cid,
        )
        for cid, cv in cents.items()
    )
    return [cid for _, cid in ranked[:nprobe]]


def _lloyd_cents(
    vecs: DataFrame,
    iters: int,
    seeds: dict[int, list[float]] | None = None,
) -> dict[int, list[float]]:
    """The centroid dict after ``iters`` Lloyd iterations from the seed
    centroids (``seeds`` when the caller already holds them); iters=0
    returns the seeds.

    Each iteration's per-cell per-dimension mean is computed distributed
    (posexplode -> groupBy(cell, dim) with exact BIGINT sums) and
    collected as |cells| x dim bounded rows (8 x 64 — a plan constant,
    the same class as the seed collect); the assignment feeding it is a
    pure projection over inlined centroid literals, so the whole loop
    is ``iters`` scan+aggregate passes, no iterative join state. A cell
    that lost every member keeps its previous centroid (possible only
    under duplicate seed vectors; the fallback keeps both engines
    aligned)."""
    cents = _seed_centroids(vecs) if seeds is None else seeds
    nano = F.expr(
        f"CAST(round(CAST(comp AS DECIMAL(30,15)) * {_NANO}, 0) AS BIGINT)"
    )
    for _ in range(iters):
        assigned = _with_cells(vecs, cents=cents)
        means = (
            assigned.select(
                "cell", F.posexplode(F.col("v")).alias("dim", "comp")
            )
            .select("cell", "dim", nano.alias("nv"))
            .groupBy("cell", "dim")
            .agg(
                F.sum("nv").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "cell", "dim", F.expr("s div n").cast("bigint").alias("m")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = r["m"]
        refined = {}
        for cid, prev in cents.items():
            got = by_cell.get(cid)
            if got is None:
                refined[cid] = list(prev)
            else:
                refined[cid] = [got[d] / _NANO for d in range(len(prev))]
        cents = refined
    return cents


def ivf_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 0,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN top-k: exact cosine rerank inside the ``nprobe`` cells
    whose centroids are nearest the query, over the seed centroids
    refined by ``iters`` Lloyd iterations.

    - ``iters``: 0 is the seed quantizer (8 arbitrary members); refined
      cells track the corpus distribution, so cell populations even out
      and the probed fraction is closer to the ideal 1/|cells|.
    - ``nprobe``: 1 probes the query's own cell (~N/|cells| scanned);
      IVF_NPROBE=2 adds the runner-up cell, where a query near a cell
      boundary has its true neighbors. Candidates are a superset of the
      smaller nprobe's, so recall@k can only improve.

    The probe-cell list is resolved driver-side from bounded constants
    (the centroids + the 1 query row), ranked by the sequential-dot
    cosine the relational cell assignment uses, then inlined as an IN
    filter: the corpus-side plan is a filter + one scan of the probed
    cells, no joins. An id the corpus lacks raises ValueError naming
    it."""
    vecs = _vectors(emb)
    return _ivf_search(vecs, _lloyd_cents(vecs, iters), query_id, k, nprobe)


def _ivf_search(
    vecs: DataFrame,
    cents: dict[int, list[float]],
    query_id: int,
    k: int,
    nprobe: int,
) -> DataFrame:
    """The search step of :func:`ivf_topk` over trained ``cents``, for a
    caller that probes many query ids against one training."""
    qv = _query_vec(vecs, query_id)
    probe = _probe_cells(qv, cents, nprobe)
    return (
        _with_cells(vecs, cents)
        .where((F.col("vec_id") != query_id) & F.col("cell").isin(*probe))
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), _dbl_arr_lit(qv))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _lloyd_cells_ctes(
    iters: int, include_e: bool = True, ids: tuple[int, ...] = CENTROID_IDS
) -> list[str]:
    """The shared CTE chain e -> cents0 -> (scored/cells/comps/means/
    cents)+ -> scored_fin -> cells_fin(vec_id, label, v, cell): the
    relational assignment every cell-keyed oracle builds on (IVF,
    IVF-PQ, SemDeDup), seeded by the vectors ``ids`` and refined by
    ``iters`` Lloyd iterations, each (score vs current centroids ->
    cells -> nano-unit component explode -> exact means -> next
    centroids), exactly the Python loop. ``include_e=False`` leaves
    ``e`` to the caller (the IVF-PQ oracle takes it from its
    quantizer)."""
    cid_list = ", ".join(str(c) for c in ids)

    def cs(cent_col: str) -> str:
        return (
            f"{_DOT_SQL.format(a='e.v', b=cent_col)}"
            f" / sqrt({_DOT_SQL.format(a='e.v', b='e.v')})"
            f" / sqrt({_DOT_SQL.format(a=cent_col, b=cent_col)})"
        )

    ctes = [
        *([_E_CTE] if include_e else []),
        "cents0 AS (\n"
        f"  SELECT vec_id AS cid, v AS cv0 FROM e WHERE vec_id IN"
        f" ({cid_list})\n)",
    ]
    for i in range(iters):
        cv, ncv = f"cv{i}", f"cv{i + 1}"
        ctes.append(
            f"scored{i} AS (\n"
            f"  SELECT e.vec_id, e.v, cid,\n"
            f"         row_number() OVER (\n"
            f"           PARTITION BY e.vec_id ORDER BY {cs(cv)} DESC,"
            f" cid ASC\n"
            f"         ) AS rn\n"
            f"  FROM e, cents{i}\n)"
        )
        ctes.append(
            f"cells{i} AS (SELECT vec_id, v, cid AS cell FROM scored{i}"
            " WHERE rn = 1)"
        )
        ctes.append(
            f"comps{i} AS (\n"
            "  -- parallel unnests in one SELECT zip positionally (DuckDB"
            " 1.0 has no\n"
            "  -- WITH ORDINALITY): dim i pairs with component i\n"
            "  SELECT cell,\n"
            "         unnest(range(len(v))) AS dim,\n"
            f"         CAST(round(CAST(unnest(v) AS DECIMAL(30,15)) *"
            f" {_NANO}, 0)\n"
            f"              AS BIGINT) AS nv\n"
            f"  FROM cells{i}\n)"
        )
        ctes.append(
            f"means{i} AS (\n"
            "  SELECT cell, dim,\n"
            "         CAST(CAST(SUM(CAST(nv AS HUGEINT)) AS HUGEINT)\n"
            "              // COUNT(*) AS BIGINT) AS m\n"
            f"  FROM comps{i} GROUP BY 1, 2\n)"
        )
        ctes.append(
            f"cents{i + 1} AS (\n"
            f"  SELECT cents{i}.cid,\n"
            f"         COALESCE(mm.rv, cents{i}.{cv}) AS {ncv}\n"
            f"  FROM cents{i}\n"
            "  LEFT JOIN (\n"
            "    SELECT cell,\n"
            f"           array_agg(CAST(m AS DOUBLE) / {_NANO} ORDER BY"
            " dim) AS rv\n"
            f"    FROM means{i} GROUP BY cell\n"
            f"  ) mm ON mm.cell = cents{i}.cid\n)"
        )
    fin = f"cv{iters}"
    ctes.append(
        "scored_fin AS (\n"
        "  SELECT e.vec_id, e.label, e.v, cid,\n"
        "         row_number() OVER (\n"
        f"           PARTITION BY e.vec_id ORDER BY {cs(fin)} DESC,"
        " cid ASC\n"
        "         ) AS rn\n"
        f"  FROM e, cents{iters}\n)"
    )
    ctes.append(
        "cells_fin AS (SELECT vec_id, label, v, cid AS cell FROM"
        " scored_fin WHERE rn = 1)"
    )
    return ctes


def _qcells_cte(query_id: int, nprobe: int) -> str:
    """The query's ``nprobe`` nearest cells, straight from the final
    assignment ranking (rn <= nprobe; rn = 1 is the query's own cell)."""
    return (
        "qcells AS (SELECT cid AS cell FROM scored_fin WHERE"
        f" vec_id = {query_id} AND rn <= {nprobe})"
    )


def ivf_topk_sql(
    query_id: int = 0, k: int = TOP_K, iters: int = 0, nprobe: int = 1
) -> str:
    """Oracle twin of :func:`ivf_topk`: the lloyd-cells chain, the
    query's probe cells, exact cosine rerank."""
    ctes = _lloyd_cells_ctes(iters) + [
        _qcells_cte(query_id, nprobe),
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})",
    ]
    return f"""
WITH {_with(ctes)}
SELECT c.vec_id,
       c.label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='c.v', b='qv'))} AS cosine
FROM cells_fin c JOIN qcells USING (cell), q
WHERE c.vec_id != {query_id}
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# label centroid similarity
# ---------------------------------------------------------------------------

def label_centroid_similarity(emb: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid vectors — the
    cluster-coherence check run on an embedded corpus (are my labels
    actually separated?).

    Cosine is scale-invariant, so the centroid MEAN never needs to be
    materialized: the cosine of the per-label component SUMS is identical,
    and sums (unlike double means) can be made exactly order-independent
    by accumulating in DECIMAL — the per-component sum is bit-identical
    on any partitioning and any engine. Components come back together as
    an idx-sorted array, so the final pairwise fold is row-local
    deterministic double math.

    Scale: one explode + one (label × dim) aggregate — bounded key space,
    partial map-side combine; the pairwise stage is |labels|² rows, a
    constant. The explode moves (label, idx, x) triples, never whole
    vectors, and at 100 TB the shuffle carries only |labels| × dim
    partial sums per task.
    """
    comps = (
        _vectors(emb)
        .select("label", F.posexplode("v").alias("idx", "x"))
        .groupBy("label", "idx")
        .agg(
            F.sum(F.col("x").cast("decimal(30,15)"))
            .cast("double")
            .alias("comp")
        )
    )
    cents = comps.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "comp"))),
            lambda s: s["comp"],
        ).alias("v")
    )
    a = cents.select(F.col("label").alias("label_a"), F.col("v").alias("va"))
    b = cents.select(F.col("label").alias("label_b"), F.col("v").alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            _round6(cosine(F.col("va"), F.col("vb"))).alias("cosine"),
        )
    )


LABEL_CENTROID_SQL = f"""
WITH comp AS (
  SELECT label,
         i AS idx,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,15)))
              AS DOUBLE) AS comp
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
  GROUP BY 1, 2
),
cent AS (
  SELECT label, list(comp ORDER BY idx) AS v FROM comp GROUP BY 1
)
SELECT a.label AS label_a,
       b.label AS label_b,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))} AS cosine
FROM cent a JOIN cent b ON a.label < b.label
"""


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------

def embedding_quantize(emb: DataFrame) -> DataFrame:
    """Per-vector min-max int8 quantization — the 4x storage-compression
    pass an embedding store runs before indexing. Emits the quantization
    params and a checksum of the codes (their sum), which pins the full
    code array cross-engine without shipping 64 ints per row through the
    comparison.

    Every operation is row-local double math (identical IEEE results in
    any engine): ties in the rounding are resolved with floor(z + 0.5)
    explicitly, because round() half-up vs half-even differs between
    engines. Pure projection — no shuffle at any scale.
    """
    v = _as_double(F.col("embedding"))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    code = lambda x: (  # noqa: E731
        F.when(mx == mn, F.lit(0))
        .otherwise(F.floor((x - mn) / scale + F.lit(0.5)))
        .cast("bigint")
    )
    return emb.select(
        "vec_id",
        "label",
        _round6(mn).alias("v_min"),
        _round6(mx).alias("v_max"),
        F.aggregate(
            v, F.lit(0).cast("bigint"), lambda acc, x: acc + code(x)
        ).alias("code_sum"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH e AS (
  SELECT vec_id,
         label,
         {_VEC_SQL.format(e='embedding')} AS v
  FROM embeddings
),
mm AS (
  SELECT vec_id, label, v,
         list_aggregate(v, 'min') AS mn,
         list_aggregate(v, 'max') AS mx
  FROM e
)
SELECT vec_id,
       label,
       {_ROUND6_SQL.format(x='mn')} AS v_min,
       {_ROUND6_SQL.format(x='mx')} AS v_max,
       CAST(list_sum(list_transform(v, x ->
         CASE WHEN mx = mn THEN 0
              ELSE CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5)
                        AS BIGINT) END)) AS BIGINT) AS code_sum
FROM mm
"""


# ---------------------------------------------------------------------------
# Folded literals and the query-vector fetch, shared by the IVF and PQ
# families.
# ---------------------------------------------------------------------------


def _dbl_arr_lit(values: list[float]) -> Column:
    """Bounded double-array literal as ONE string literal + split +
    cast, which Catalyst constant-folds to an array literal before
    execution. F.lit on a 2048-element nested list costs ~1.8 s of
    element-wise py4j roundtrips per subspace (measured), and the
    F.expr text form pays a same-size ANTLR parse; this is three calls
    total. repr roundtrips each double and the string->double cast is
    a correctly-rounded parse, so the folded literal is bit-identical
    to the Python values."""
    return F.split(
        F.lit(",".join(repr(float(x)) for x in values)), ","
    ).cast("array<double>")


def _query_vec(vecs: DataFrame, query_id: int) -> list[float]:
    """Driver-side fetch of the one query row's raw vector (bounded
    single-row first(); the per-query artifact every ADC/rerank
    variant folds into plan constants). An id the corpus lacks raises
    ValueError naming it."""
    qrow = vecs.where(F.col("vec_id") == query_id).select("v").first()
    if qrow is None:
        raise ValueError(f"query vec_id {query_id} is not in the corpus")
    return [float(x) for x in qrow["v"]]


# ---------------------------------------------------------------------------
# Vectorized assignment kernels (r10, guide §4.2): the per-row argmin
# over a codebook and the per-row argmax over the coarse centroids used
# to run as interpreted array higher-order functions — measured at
# ~120 ms/row for the 16x256 PQ16 assignment (one 7.5 s 32-task Spark
# job per training pass over 2,000 sf0.1 vectors; see
# OPTIMIZATION_r10.md). These pandas UDFs hand whole Arrow batches to
# numpy and are BIT-IDENTICAL to the expression forms they replace
# (:func:`_cell_expr`, :func:`_code_idx_ref`):
#
# - every inner product accumulates STRICTLY left-to-right over the
#   feature axis (an explicit per-dimension `acc += v_i * c_i` loop,
#   vectorized across rows/codes — one rounded multiply and one rounded
#   add per step, the exact op sequence of the interpreted
#   `F.aggregate` fold and of DuckDB's list_dot_product);
# - the two PQ distance forms keep the expression parenthesization
#   (2-term `cn - 2*inner`, 3-term `(vv - 2*inner) + cn`);
# - np.argmin / np.argmax return the FIRST extremum, matching
#   array_position(first-match) ties -> lowest code / lowest cid.
# - FINITE-INPUT PRECONDITION (r11 ADVICE): on a NaN/Inf embedding or
#   codebook value np.argmin picks the index of the FIRST NaN while
#   Spark's array_min orders NaN greater than every double — the two
#   forms would silently diverge. The corpus embeddings and the
#   exact-decimal-trained codebooks are finite by construction
#   (decimal sums of finite parquet doubles); feeding external vectors
#   through these kernels requires an upstream isfinite guard.
#
# tests/test_r10_operators.py locks full-corpus equality of the numpy
# and expression forms (seed and trained books, raw and OPQ-permuted
# vectors); the DuckDB oracle sweep re-proves it on every ANN query.
# ---------------------------------------------------------------------------


def _np_seq_inner(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """<V_r, C_j> for all rows r x codebook rows j with strictly
    sequential accumulation over the feature axis (bit-identical to the
    interpreted fold: each += is one rounded multiply + one rounded
    add, in dimension order, starting from 0.0)."""
    n, d = V.shape
    acc = np.zeros((n, C.shape[0]), dtype=np.float64)
    for i in range(d):
        acc += V[:, i : i + 1] * C[None, :, i]
    return acc


def _js_np_udf(books: list[list[list[float]]], d: int, form: str) -> Column:
    """pandas_udf column: full vector ``v`` -> array<int> of the
    per-subspace 0-based nearest-code indexes, one per ``books[s]``.
    ``form`` is the quantizer's assignment distance: "2term" =
    ``cn[j] - 2*inner``, "3term" = ``(vv - 2*inner) + cn[j]``."""
    m = len(books)
    mats = [np.array(book, dtype=np.float64) for book in books]
    # codebook self-dots with the same sequential fold the oracle uses
    # (python floats, exact)
    cns = [
        np.array([_seq_dot(c, c) for c in book], dtype=np.float64)
        for book in books
    ]

    def _codes(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.values).astype(np.float64, copy=False)
        out = np.empty((len(V), m), dtype=np.int32)
        for s in range(m):
            Vs = V[:, s * d : (s + 1) * d]
            inner = _np_seq_inner(Vs, mats[s])
            if form == "2term":
                dist = cns[s][None, :] - 2.0 * inner
            else:
                vv = np.zeros(len(V), dtype=np.float64)
                for i in range(d):
                    vv += Vs[:, i] * Vs[:, i]
                dist = (vv[:, None] - 2.0 * inner) + cns[s][None, :]
            out[:, s] = np.argmin(dist, axis=1)
        return pd.Series(list(out))

    return F.pandas_udf(_codes, "array<int>")(F.col("v"))


def _code_idx_ref(s: int, book: list[list[float]], d: int, form: str) -> Column:
    """Reference expression form of :func:`_js_np_udf` for subspace
    ``s`` (the spec the kernel is tested against): interpreted folds
    over a flat folded codebook literal (``flat[j*d + dd]``), the
    distance ``form`` spelled out, argmin via array_position's first
    match (ties -> lowest j)."""
    flat = _dbl_arr_lit([x for c in book for x in c])
    cn = _dbl_arr_lit([_seq_dot(c, c) for c in book])
    vs = F.slice(F.col("v"), s * d + 1, d)

    def dist(j: Column) -> Column:
        inner = F.aggregate(
            F.sequence(F.lit(1), F.lit(d)),
            F.lit(0.0),
            lambda acc, dd: acc
            + F.element_at(vs, dd.cast("int"))
            * F.element_at(flat, (j * d + dd).cast("int")),
        )
        cc = F.element_at(cn, (j + 1).cast("int"))
        if form == "2term":
            return cc - 2 * inner
        return (dot(vs, vs) - 2 * inner) + cc

    dists = F.transform(F.sequence(F.lit(0), F.lit(len(book) - 1)), dist)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _cell_np_udf(cents: dict[int, list[float]]) -> Column:
    """pandas_udf column: ``v`` -> max-cosine cell id (bigint), the
    vectorized twin of :func:`_cell_expr`: scores =
    ``dot(v,c)/sqrt(dot(v,v))/sqrt(dot(c,c))`` with the same two
    divisions in the same order, first-match argmax ties -> lowest
    cid."""
    cids = sorted(cents)
    C = np.array([cents[c] for c in cids], dtype=np.float64)
    cn = np.sqrt(
        np.array([_seq_dot(cents[c], cents[c]) for c in cids],
                 dtype=np.float64)
    )
    cid_arr = np.array(cids, dtype=np.int64)

    def _cells(vs: pd.Series) -> pd.Series:
        V = np.stack(vs.values).astype(np.float64, copy=False)
        inner = _np_seq_inner(V, C)
        vv = np.zeros(len(V), dtype=np.float64)
        for i in range(V.shape[1]):
            vv += V[:, i] * V[:, i]
        scores = inner / np.sqrt(vv)[:, None] / cn[None, :]
        return pd.Series(cid_arr[np.argmax(scores, axis=1)])

    return F.pandas_udf(_cells, "bigint")(F.col("v"))


# ---------------------------------------------------------------------------
# Product quantization (PQ): the ANN memory-compression path. A 64-dim
# double vector (512 bytes) becomes ``m`` sub-centroid indexes packed into
# one or two bigints, and queries scan CODES with a per-query distance
# lookup table (asymmetric distance computation, ADC) instead of raw
# vectors. One ProductQuantizer(m, bits, train_iters, rotation) covers
# every registered configuration:
#
# - 3 bits x 8 subspaces: the 8-entry architecture demo (its measured
#   recall@10 of 0.07-0.13, SCALE.md, is what 8-entry books buy);
# - 8 bits x 8 or 16 subspaces: the FAISS-standard 256-entry
#   sub-codebooks of faiss.IndexPQ(d, m, 8), 8- or 16-byte codes;
# - rotation="opq": the balanced-energy dimension permutation (OPQ init,
#   see _opq_perm) applied before quantizing.
#
# Rules every configuration shares:
# 1. Seeds are the corpus vectors vec_id 1..2**bits (for 3 bits exactly
#    the IVF CENTROID_IDS); Lloyd training is the exact nano-unit
#    integer mean of the IVF Lloyd update, run per subspace, so trained
#    books are engine-stable.
# 2. The assignment distance follows from the codebook size. 8-entry
#    books rank by the full 3-term expansion |v|^2 - 2<v,c> + |c|^2;
#    256-entry books by the monotone 2-term |c|^2 - 2<v,c> (|v|^2 is
#    constant across candidates, so dropping it keeps the argmin and
#    saves a fold per candidate). The oracle ranks by the same text in
#    the same accumulation order, so near-ties break identically.
# 3. Codes pack 64 // bits per signed bigint (CodeLayout). A field that
#    reaches bit 63 wraps two's-complement on Spark (shiftleft/sum over
#    disjoint bit ranges == bitwise OR); the oracle packs in HUGEINT and
#    applies the explicit wrap  p >= 2^63 ? p - 2^64 : p.
# 4. LUT values are the true quantized L2^2 (3-term), computed
#    driver-side with the sequential dot the oracle's list_dot_product
#    evaluates, and folded into plan constants (_dbl_arr_lit); the scan
#    reads only the code words.
#
# Training fits the bounded-aggregation contract: one Lloyd iteration
# collects <= m x 2**bits x d nano-unit means — the codebook itself (the
# artifact faiss.train ships to every query node), independent of corpus
# size.
# ---------------------------------------------------------------------------

#: embedding width a quantizer splits into ``m`` subspaces
DIM = 64
#: the assignment distance of each codebook size (bits per code)
_FORMS = {3: "3term", 8: "2term"}
#: packed-code column names of a one-word and a two-word layout
_WORD_COLS = (("pq_code",), ("pq_lo", "pq_hi"))
_TWO63 = 1 << 63
_TWO64 = 1 << 64


class CodeLayout:
    """Where each subspace's code lives: ``per = 64 // bits`` codes per
    signed bigint word, subspace ``s`` in word ``s // per`` at shift
    ``bits * (s % per)``. The one layout behind the Spark pack, the
    Spark ADC unpack and the oracle's pack/unpack; ``m`` codes that need
    more than two words raise ValueError."""

    def __init__(self, m: int, bits: int) -> None:
        per = 64 // bits
        words = -(-m // per)
        if words > len(_WORD_COLS):
            raise ValueError(
                f"{m} codes of {bits} bits need {words} code words; the"
                f" layout holds at most {len(_WORD_COLS)}"
            )
        self.bits = bits
        self.cols = _WORD_COLS[words - 1]
        self.slots = [(s // per, bits * (s % per)) for s in range(m)]

    @property
    def nbytes(self) -> int:
        """Stored code bytes per vector."""
        return 8 * len(self.cols)

    def pack(self, js: Column) -> list[Column]:
        """The aliased code-word columns of an array<int> of code
        indexes: one shift-sum per word (Java << wraps, matching the
        oracle's HUGEINT unwrap)."""
        words = [F.lit(0).cast("bigint") for _ in self.cols]
        for s, (w, shift) in enumerate(self.slots):
            words[w] = words[w] + F.shiftleft(
                F.element_at(js, s + 1).cast("bigint"), shift
            )
        return [word.alias(c) for word, c in zip(words, self.cols)]

    def unpack(self, s: int) -> Column:
        """Subspace ``s``'s code index read back from its word."""
        w, shift = self.slots[s]
        return (
            F.shiftrightunsigned(F.col(self.cols[w]), shift)
            .bitwiseAND(F.lit((1 << self.bits) - 1))
            .cast("int")
        )

    def sql_pack_ctes(self, assigned: str) -> list[str]:
        """Oracle CTEs mults -> packed -> codes(vec_id, label, <words>):
        pack ``assigned``(vec_id, s, j) through HUGEINT with the explicit
        two's-complement wrap; labels come from ``e``."""
        mults = ", ".join(
            f"({s}, CAST({1 << shift} AS HUGEINT), {w})"
            for s, (w, shift) in enumerate(self.slots)
        )
        sums = ",\n".join(
            f"         SUM(CASE WHEN m.w = {w} THEN CAST(a.j AS HUGEINT)"
            f" * m.mult ELSE CAST(0 AS HUGEINT) END) AS p{w}"
            for w in range(len(self.cols))
        )
        wraps = ",\n".join(
            f"         CAST(CASE WHEN p{w} >= {_TWO63} THEN p{w} - {_TWO64}\n"
            f"              ELSE p{w} END AS BIGINT) AS {c}"
            for w, c in enumerate(self.cols)
        )
        return [
            f"mults AS (SELECT * FROM (VALUES {mults}) AS t(s, mult, w))",
            "packed AS (\n"
            "  SELECT a.vec_id,\n"
            f"{sums}\n"
            f"  FROM {assigned} a JOIN mults m ON a.s = m.s\n"
            "  GROUP BY a.vec_id\n)",
            "codes AS (\n"
            "  SELECT e.vec_id, e.label,\n"
            f"{wraps}\n"
            "  FROM packed JOIN e ON e.vec_id = packed.vec_id\n)",
        ]

    def sql_unpack_ctes(self, coded: str) -> list[str]:
        """Oracle CTEs unwrapped -> unpacked(vec_id, label, s, j), the
        inverse of :meth:`sql_pack_ctes` over the FROM clause ``coded``
        (rows of vec_id, label, <words>); reads ``mults``."""
        unwraps = ",\n".join(
            f"         CASE WHEN {c} < 0 THEN CAST({c} AS HUGEINT) + {_TWO64}"
            f"\n              ELSE CAST({c} AS HUGEINT) END AS up{w}"
            for w, c in enumerate(self.cols)
        )
        word = (
            "u.up0"
            if len(self.cols) == 1
            else "CASE m.w WHEN 0 THEN u.up0 ELSE u.up1 END"
        )
        return [
            "unwrapped AS (\n"
            "  SELECT vec_id, label,\n"
            f"{unwraps}\n"
            f"  FROM {coded}\n)",
            "unpacked AS (\n"
            "  SELECT u.vec_id, u.label, m.s,\n"
            f"         CAST((({word}) // m.mult) % {1 << self.bits}"
            " AS BIGINT) AS j\n"
            "  FROM unwrapped u CROSS JOIN mults m\n)",
        ]


class ProductQuantizer:
    """``m`` subspaces of ``d = 64 // m`` dims, each quantized against a
    ``2**bits``-entry sub-codebook seeded from the corpus vectors vec_id
    1..2**bits and refined by ``train_iters`` exact-decimal Lloyd
    iterations; ``rotation="opq"`` first permutes the dims by the
    balanced-energy OPQ initializer. The rest follows from the config:
    the assignment distance form, the code layout and the oracle SQL.
    Trained state lives in :class:`PqIndex` (see :func:`pq_index`)."""

    def __init__(
        self,
        m: int,
        bits: int,
        train_iters: int = 0,
        rotation: str | None = None,
    ) -> None:
        if bits not in _FORMS:
            raise ValueError(f"bits must be one of {sorted(_FORMS)}, got {bits}")
        if m < 1 or DIM % m:
            raise ValueError(f"m must divide {DIM}, got {m}")
        if train_iters < 0:
            raise ValueError(f"train_iters must be >= 0, got {train_iters}")
        if rotation not in (None, "opq"):
            raise ValueError(f"rotation must be None or 'opq', got {rotation!r}")
        self.m, self.bits = m, bits
        self.train_iters, self.rotation = train_iters, rotation
        self.d = DIM // m
        self.k = 1 << bits
        self.form = _FORMS[bits]
        self.layout = CodeLayout(m, bits)

    @property
    def params(self) -> tuple:
        return (self.m, self.bits, self.train_iters, self.rotation)

    # -- training --------------------------------------------------------

    def vectors(self, emb: DataFrame) -> DataFrame:
        """(vec_id, label, v) as the quantizer sees them: permuted by the
        OPQ initializer when ``rotation="opq"`` (a pure projection over
        64 plan-constant indexes)."""
        vecs = _vectors(emb)
        if self.rotation is None:
            return vecs
        perm = _opq_perm(vecs, self.m, self.d)
        rv = F.array(*[F.element_at(F.col("v"), p + 1) for p in perm])
        return vecs.select("vec_id", "label", rv.alias("v"))

    def books(
        self,
        vecs: DataFrame,
        seeds: dict[int, list[float]] | None = None,
    ) -> list[list[list[float]]]:
        """books[s][j]: sub-centroid ``j`` of subspace ``s``, trained on
        ``vecs`` (the permuted relation when ``rotation="opq"``).
        ``seeds`` is the seed band vec_id 1..2**bits when the caller
        already holds it."""
        if seeds is None:
            seeds = _seed_centroids(vecs, self.k)
        if len(seeds) != self.k:
            # loud contract failure instead of a downstream KeyError: the
            # deterministic seeding needs every id in the seed band
            raise ValueError(
                f"PQ seed band incomplete: corpus has {len(seeds)} of the"
                f" {self.k} seed vectors (vec_id 1..{self.k}) — PQ"
                " codebooks need the full band; train on the unfiltered"
                " corpus or re-seed"
            )
        d = self.d
        books = [
            [seeds[j + 1][s * d : (s + 1) * d] for j in range(self.k)]
            for s in range(self.m)
        ]
        for _ in range(self.train_iters):
            books = self._lloyd_step(vecs, books)
        return books

    def _lloyd_step(
        self, vecs: DataFrame, books: list[list[list[float]]]
    ) -> list[list[list[float]]]:
        """One exact-decimal Lloyd iteration in every subspace: assign,
        explode to (s, j, dim, nano-component), exact integer mean per
        (s, j, dim) — one projection pass and one bounded aggregate. A
        code that lost all members keeps its centroid."""
        m, d = self.m, self.d
        nano = F.expr(
            f"CAST(round(CAST(comp AS DECIMAL(30,15)) * {_NANO}, 0) AS BIGINT)"
        )
        pre = vecs.select("v", self.assign(books).alias("_js"))
        assigned = [
            F.struct(
                F.lit(s).alias("s"),
                F.element_at(F.col("_js"), s + 1).alias("j"),
                F.slice(F.col("v"), s * d + 1, d).alias("vs"),
            )
            for s in range(m)
        ]
        means = (
            pre.select(F.explode(F.array(*assigned)).alias("a"))
            .select(
                F.col("a.s").alias("s"),
                F.col("a.j").alias("j"),
                F.posexplode(F.col("a.vs")).alias("dim", "comp"),
            )
            .select("s", "j", "dim", nano.alias("nv"))
            .groupBy("s", "j", "dim")
            .agg(F.sum("nv").alias("sm"), F.count(F.lit(1)).alias("n"))
            .select(
                "s", "j", "dim",
                F.expr("sm div n").cast("bigint").alias("m"),
            )
            .collect()
        )
        got: dict[tuple[int, int], dict[int, int]] = {}
        for r in means:
            got.setdefault((r["s"], r["j"]), {})[r["dim"]] = r["m"]
        return [
            [
                [got[(s, j)][dd] / _NANO for dd in range(d)]
                if (s, j) in got
                else list(books[s][j])
                for j in range(self.k)
            ]
            for s in range(m)
        ]

    # -- encode and score --------------------------------------------------

    def assign(self, books: list[list[list[float]]]) -> Column:
        """array<int> of per-subspace nearest-code indexes of ``v``."""
        return _js_np_udf(books, self.d, self.form)

    def encode(
        self,
        vecs: DataFrame,
        books: list[list[list[float]]],
        cents: dict[int, list[float]] | None = None,
    ) -> DataFrame:
        """(vec_id, label, [cell,] <code words>) in ONE projection over
        one corpus scan: no shuffle at any scale. With IVF ``cents`` the
        cell id rides the same projection (cell and code are both
        row-local functions of ``v``; a vec_id self-join of two
        projections would re-scan the corpus and pay a join exchange),
        and a downstream probe-cell filter substitutes through it, so
        the codes kernel runs only on rows that survive the cell cut."""
        cell = [] if cents is None else [_cell_np_udf(cents).alias("cell")]
        pre = vecs.select(
            "vec_id", "label", *cell, self.assign(books).alias("_js")
        )
        return pre.select(
            "vec_id",
            "label",
            *(["cell"] if cell else []),
            *self.layout.pack(F.col("_js")),
        )

    def lut(
        self, qv: list[float], books: list[list[list[float]]]
    ) -> list[list[float]]:
        """Exact-L2^2 query lookup table: LUT[s][j] = |q_s|^2 -
        2<q_s, c_sj> + |c_sj|^2 (the VALUE must be the true quantized
        L2^2, unlike the assignment argmin, where the query term may
        cancel)."""
        d = self.d
        out = []
        for s, book in enumerate(books):
            qs = qv[s * d : (s + 1) * d]
            qq = _seq_dot(qs, qs)
            out.append(
                [qq - 2 * _seq_dot(qs, c) + _seq_dot(c, c) for c in book]
            )
        return out

    def adc(self, lut: list[list[float]]) -> Column:
        """Asymmetric distance: one folded-literal LUT lookup per
        subspace, indexed by the code unpacked from its word."""
        adc = F.lit(0.0)
        for s, row in enumerate(lut):
            adc = adc + F.element_at(
                _dbl_arr_lit(row), self.layout.unpack(s) + 1
            )
        return adc

    # -- oracle ------------------------------------------------------------

    def sql_e_ctes(self) -> list[str]:
        """The oracle's ``e`` relation: raw vectors, or the permuted
        ones for ``rotation="opq"``."""
        if self.rotation is None:
            return [_E_CTE]
        return _opq_e_ctes(self.m, self.d)

    @property
    def sql_books(self) -> str:
        """Name of the oracle's final codebook relation (s, j, cs)."""
        return f"csubs{self.train_iters}"

    def _sql_dist(self, a: str, b: str) -> str:
        """The assignment distance, textually fixed so DuckDB's op order
        matches the kernel's."""
        vc = _DOT_SQL.format(a=a, b=b)
        cc = _DOT_SQL.format(a=b, b=b)
        if self.form == "2term":
            return f"{cc} - 2 * {vc}"
        return f"{_DOT_SQL.format(a=a, b=a)} - 2 * {vc} + {cc}"

    def sql_ctes(self) -> list[str]:
        """Oracle CTE chain over ``e``: subs -> csubs0 -> (assign/pm/mn/
        csubs)+ -> assigned -> mults -> packed -> codes(vec_id, label,
        <words>) — the relational twin of :meth:`books` + :meth:`encode`
        (row_number over (distance ASC, j ASC) is the argmin)."""
        m, d = self.m, self.d
        nano = (
            f"CAST(round(CAST(unnest(vs) AS DECIMAL(30,15)) * {_NANO}, 0)\n"
            "              AS BIGINT)"
        )

        def ranked(books: str) -> str:
            return (
                "  SELECT subs.vec_id, subs.s, c.j, subs.vs,\n"
                "         row_number() OVER (\n"
                "           PARTITION BY subs.vec_id, subs.s\n"
                f"           ORDER BY {self._sql_dist('subs.vs', 'c.cs')}"
                " ASC, c.j ASC\n"
                "         ) AS rn\n"
                f"  FROM subs JOIN {books} c ON subs.s = c.s"
            )

        ctes = [
            "subs AS (\n"
            "  SELECT vec_id, label, s,\n"
            f"         v[s * {d} + 1 : s * {d} + {d}] AS vs\n"
            f"  FROM e, unnest(range({m})) AS r(s)\n)",
            "csubs0 AS (\n"
            f"  SELECT s, vec_id - 1 AS j,\n"
            f"         v[s * {d} + 1 : s * {d} + {d}] AS cs\n"
            f"  FROM e, unnest(range({m})) AS r(s)\n"
            f"  WHERE vec_id BETWEEN 1 AND {self.k}\n)",
        ]
        for i in range(self.train_iters):
            ctes += [
                f"assign{i} AS (\n{ranked(f'csubs{i}')}\n)",
                f"pm{i} AS (\n"
                "  SELECT s, j,\n"
                "         unnest(range(len(vs))) AS dim,\n"
                f"         {nano} AS nv\n"
                f"  FROM assign{i} WHERE rn = 1\n)",
                f"mn{i} AS (\n"
                "  SELECT s, j, dim,\n"
                "         CAST(CAST(SUM(CAST(nv AS HUGEINT)) AS HUGEINT)\n"
                "              // COUNT(*) AS BIGINT) AS m\n"
                f"  FROM pm{i} GROUP BY 1, 2, 3\n)",
                f"csubs{i + 1} AS (\n"
                "  SELECT c.s, c.j, COALESCE(mm.rv, c.cs) AS cs\n"
                f"  FROM csubs{i} c\n"
                "  LEFT JOIN (\n"
                "    SELECT s, j,\n"
                f"           array_agg(CAST(m AS DOUBLE) / {_NANO} ORDER BY"
                " dim) AS rv\n"
                f"    FROM mn{i} GROUP BY 1, 2\n"
                "  ) mm ON mm.s = c.s AND mm.j = c.j\n)",
            ]
        ctes.append(
            "assigned AS (\n"
            "  SELECT vec_id, s, j FROM (\n"
            f"{ranked(self.sql_books)}\n"
            "  ) WHERE rn = 1\n)"
        )
        return ctes + self.layout.sql_pack_ctes("assigned")


# ---------------------------------------------------------------------------
# OPQ-lite: the balanced-energy dimension permutation behind
# rotation="opq". Product quantization quantizes each subspace
# independently, so recall suffers when a few subspaces hold most of the
# corpus energy (their entries must cover a wider spread). OPQ (Ge et al.,
# CVPR 2013, "Optimized Product Quantization") fixes this with a learned
# rotation; its non-parametric initializer — eigenvalue allocation,
# balancing per-subspace variance by REORDERING dimensions — captures most
# of the gain for near-independent dims and is a pure permutation, which
# keeps everything deterministic and oracle-expressible. The permutation
# snake-deals the energy-ranked dims across the subspaces (with 16
# subspaces each gets one dim from each energy quartile); energies are
# exact nano-unit integer sums, so both engines derive the identical
# permutation. At 100 TB: the permutation is 64 plan constants from one
# bounded aggregate; applying it is free inside the one-map-pass
# quantization projection.
# ---------------------------------------------------------------------------


def _opq_perm(vecs: DataFrame, m: int, d: int) -> list[int]:
    """perm[newpos] = source dim. Dims are ranked by total corpus energy
    (exact integer sum of squared nano-unit components — DECIMAL(38,0)
    sums on the Spark side, HUGEINT on the oracle's, both overflow-free
    and bit-identical) and snake-dealt across the ``m`` subspaces: rank
    r lands in subspace (m-1 - r%m if (r//m) odd else r%m), slot r//m.
    One bounded aggregate; the collect is exactly |dims| = 64 rows."""
    nano = F.expr(
        f"CAST(round(CAST(comp AS DECIMAL(30,15)) * {_NANO}, 0) AS BIGINT)"
    )
    nv = F.col("nv").cast("decimal(19,0)")
    rows = (
        vecs.select(F.posexplode(F.col("v")).alias("dim", "comp"))
        .select("dim", nano.alias("nv"))
        .select("dim", (nv * nv).alias("nv2"))
        .groupBy("dim")
        .agg(F.sum(F.col("nv2").cast("decimal(38,0)")).alias("energy"))
        .collect()
    )
    ranked = sorted(rows, key=lambda r: (-int(r["energy"]), r["dim"]))
    perm = [0] * (m * d)
    for r, row in enumerate(ranked):
        rnd, col = divmod(r, m)
        if rnd % 2 == 1:
            col = m - 1 - col
        perm[col * d + rnd] = row["dim"]
    return perm


def _opq_e_ctes(m: int, d: int) -> list[str]:
    """Oracle CTEs deriving the SAME permuted ``e``: exact HUGEINT
    energy per dim, rank, snake-deal arithmetic, ordered array_agg."""
    return [
        "raw AS (\n"
        f"  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v"
        " FROM embeddings\n)",
        "dimstats AS (\n"
        "  SELECT dim, SUM(CAST(nv AS HUGEINT) * CAST(nv AS HUGEINT))"
        " AS energy\n"
        "  FROM (SELECT unnest(range(len(v))) AS dim,\n"
        f"               CAST(round(CAST(unnest(v) AS DECIMAL(30,15)) *"
        f" {_NANO}, 0)\n"
        "                    AS BIGINT) AS nv\n"
        "        FROM raw)\n"
        "  GROUP BY dim\n)",
        "dimperm AS (\n"
        "  SELECT dim AS olddim,\n"
        "         row_number() OVER (ORDER BY energy DESC, dim ASC) - 1"
        " AS r\n"
        "  FROM dimstats\n)",
        "perm AS (\n"
        f"  SELECT olddim,\n"
        f"         (CASE WHEN (r // {m}) % 2 = 1 THEN {m - 1} - (r % {m})\n"
        f"               ELSE r % {m} END) * {d} + (r // {m}) AS newpos\n"
        "  FROM dimperm\n)",
        "e AS (\n"
        "  SELECT vec_id, ANY_VALUE(label) AS label,\n"
        "         array_agg(v[olddim + 1] ORDER BY newpos) AS v\n"
        "  FROM raw, perm\n"
        "  GROUP BY vec_id\n)",
    ]


# ---------------------------------------------------------------------------
# PQ indexes and search: the faiss train -> add -> search split made
# explicit. pq_index trains the quantizer (and, with ``iters``, the
# Lloyd-refined IVF cells) and builds the coded relation — (vec_id, label,
# [cell,] code words), 8 or 16 bytes of codes per vector. pq_search runs
# the serving plan over it: a probe-cell filter (IVF), the ADC scan and
# TakeOrdered, plus, with a ``shortlist``, an exact-L2 rerank of only the
# shortlisted rows' raw vectors (a broadcast key fetch). A one-shot query
# (pq_topk) is the serving plan over an index that is not materialized;
# pq_index_for pins the coded relation with a localCheckpoint once per
# (session, corpus, params), so a later search runs no training job and
# no assignment. At 100 TB the coded table is parquet partitioned by cell
# (write_pq_index), so the probe filter is partition PRUNING — per query:
# (nprobe/|cells|) x code bytes per vector scanned, |shortlist|
# raw-vector key fetches for the rerank.
# ---------------------------------------------------------------------------


@dataclass(eq=False)
class PqIndex:
    """A quantizer bound to one corpus: ``books`` (and ``cents``, the
    IVF centroids, when the index has coarse cells) are the trained
    state, ``coded`` the serving relation, ``vecs`` the raw vectors for
    the query lookup and the rerank fetch. Built by :func:`pq_index`."""

    pq: ProductQuantizer
    vecs: DataFrame
    books: list[list[list[float]]]
    coded: DataFrame
    cents: dict[int, list[float]] | None = None


def pq_index(
    emb: DataFrame, pq: ProductQuantizer, iters: int | None = None
) -> PqIndex:
    """TRAIN + ADD: train ``pq`` (exact-decimal kernels), with ``iters``
    also Lloyd-refine the IVF cells, and assign + pack every vector in
    one projection. The codebook seed band vec_id 1..2**bits holds the
    IVF seeds (CENTROID_IDS), so both trainings share one collect. The
    coded relation is a plan, not data: :func:`pq_index_for`
    materializes it."""
    vecs = pq.vectors(emb)
    band = _seed_centroids(vecs, pq.k)
    books = pq.books(vecs, band)  # raises unless the band is complete
    cents = None
    if iters is not None:
        seeds = {cid: band[cid] for cid in CENTROID_IDS}
        cents = _lloyd_cents(vecs, iters, seeds)
    coded = pq.encode(vecs, books, cents)
    return PqIndex(pq=pq, vecs=vecs, books=books, coded=coded, cents=cents)


def pq_search(
    index: PqIndex,
    query_id: int = 0,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    shortlist: int | None = None,
) -> DataFrame:
    """SEARCH: the query's exact LUT folds into the ADC column, the
    scan reads the code words (of the ``nprobe`` nearest cells when the
    index has IVF cells) and ranks by ROUND6(adc), vec_id. With
    ``shortlist``, that ranking only cuts ``shortlist`` candidates
    (sub-1e-6 float noise collapses before the cut, so both engines
    admit the identical set) and ONLY their raw vectors are fetched for
    the exact 3-term L2 final order (the sequential-fold dot ==
    DuckDB list_dot_product op order)."""
    pq = index.pq
    qv = _query_vec(index.vecs, query_id)
    keep = F.col("vec_id") != query_id
    if index.cents is not None:
        probe = _probe_cells(qv, index.cents, nprobe)
        keep = keep & F.col("cell").isin(*probe)
    adc = _round6(pq.adc(pq.lut(qv, index.books))).alias("adc")
    cands = index.coded.where(keep)
    if shortlist is None:
        return (
            cands.select("vec_id", "label", adc)
            .orderBy(F.asc("adc"), F.asc("vec_id"))
            .limit(k)
        )
    short = (
        cands.select("vec_id", adc)
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    l2 = (
        F.lit(_seq_dot(qv, qv))
        - 2 * dot(_dbl_arr_lit(qv), F.col("v"))
        + dot(F.col("v"), F.col("v"))
    )
    return (
        index.vecs.join(F.broadcast(short.select("vec_id")), "vec_id")
        .select("vec_id", "label", _round6(l2).alias("l2"))
        .orderBy(F.asc("l2"), F.asc("vec_id"))
        .limit(k)
    )


def pq_codes(emb: DataFrame, pq: ProductQuantizer) -> DataFrame:
    """(vec_id, label, <code words>): every vector's packed codes — one
    map pass (plus ``pq.train_iters`` bounded training aggregates)."""
    return pq_index(emb, pq).coded


def pq_topk(
    emb: DataFrame,
    pq: ProductQuantizer,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int | None = None,
    nprobe: int = IVF_NPROBE,
    shortlist: int | None = None,
) -> DataFrame:
    """One-shot PQ top-k: :func:`pq_search` over an index that is not
    materialized (training inside the call)."""
    return pq_search(pq_index(emb, pq, iters), query_id, k, nprobe, shortlist)


#: built indexes per (session, corpus, params), each with the RDD its
#: localCheckpoint pinned; a checkpointed relation is session-bound, so
#: the session id is part of the key
_INDEX_CACHE: dict[tuple, tuple[PqIndex, object]] = {}


def pq_index_for(
    emb: DataFrame, pq: ProductQuantizer, iters: int | None = None
) -> PqIndex:
    """:func:`pq_index` with the coded relation pinned by an eager
    localCheckpoint (block-manager RDD blocks, which survive
    catalog.clearCache()), so no later search re-runs assignment or
    packing; in a persisted deployment follow with
    :func:`write_pq_index`. Held per (session, corpus, params) until
    :func:`clear_trained_state`: every search after the first runs the
    pure serving plan. The corpus key is the semantic hash of the
    input's analyzed plan, identical for every re-read of one path."""
    key = (
        emb.sparkSession.sparkContext.applicationId,
        emb._jdf.queryExecution().analyzed().semanticHash(),
        pq.params,
        iters,
    )
    if key not in _INDEX_CACHE:
        index = pq_index(emb, pq, iters)
        coded = index.coded.localCheckpoint(eager=True)
        pinned = coded._jdf.queryExecution().analyzed().rdd()
        _INDEX_CACHE[key] = (replace(index, coded=coded), pinned)
    return _INDEX_CACHE[key][0]


def clear_trained_state(spark=None) -> None:
    """Drop the indexes :func:`pq_index_for` holds for ``spark``'s
    session (every session's when None) and unpersist the RDDs their
    checkpoints pinned. No other cached or checkpointed relation is
    touched. A dropped index's ``coded`` relation cannot be recomputed
    once its blocks are gone, so callers must not hold it across this
    call."""
    app = None if spark is None else spark.sparkContext.applicationId
    for key in [k for k in _INDEX_CACHE if app in (None, k[0])]:
        _, pinned = _INDEX_CACHE.pop(key)
        # blocking: the async form returns before the block manager
        # removes the blocks, and the removal then races with whatever
        # the caller runs next
        pinned.unpersist(True)


def write_pq_index(index: PqIndex, path: str) -> None:
    """Persist the coded relation partitioned BY CELL — the on-disk
    layout that turns the probe filter into partition pruning (the scan
    reads only nprobe directories at any corpus size)."""
    index.coded.write.mode("overwrite").partitionBy("cell").parquet(path)


def read_pq_index_table(
    spark, path: str, pq: ProductQuantizer
) -> DataFrame:
    """Reload a persisted coded relation (cell restored to BIGINT —
    partition-column values parse as INT by default)."""
    df = spark.read.parquet(path)
    return df.select(
        "vec_id",
        "label",
        F.col("cell").cast("bigint").alias("cell"),
        *pq.layout.cols,
    )


def pq_index_stats(index: PqIndex) -> DataFrame:
    """Index-health census over an IVF index's coded relation: per
    cell, the population and the number of DISTINCT packed codes — the
    two numbers an ANN index monitor watches (a collapsing cell means
    the coarse quantizer stopped discriminating; collapsing code
    diversity means the codebooks no longer spread the cell's members).
    One groupBy over the coded rows; |cells| output rows."""
    return (
        index.coded.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.count_distinct(F.struct(*index.pq.layout.cols))
            .cast("bigint")
            .alias("n_codes"),
        )
        .orderBy("cell")
    )


# -- oracle twins ----------------------------------------------------------


def pq_codes_sql(pq: ProductQuantizer) -> str:
    return f"""
WITH {_with(pq.sql_e_ctes() + pq.sql_ctes())}
SELECT vec_id, label, {", ".join(pq.layout.cols)} FROM codes
"""


def pq_topk_sql(
    pq: ProductQuantizer,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int | None = None,
    nprobe: int = IVF_NPROBE,
    shortlist: int | None = None,
) -> str:
    """Oracle twin of :func:`pq_topk`: the quantizer's codes chain (behind
    the lloyd-cells chain and its probe-cell candidate cut when
    ``iters`` is set), the LUT from the final codebook relation joined
    to the query's subvectors, ADC summed over the unpacked code
    indexes, and with ``shortlist`` the rounded-ADC cut plus the exact
    3-term L2 rerank."""
    ctes = pq.sql_e_ctes()
    coded = f"codes WHERE vec_id != {query_id}"
    if iters is not None:
        ctes += _lloyd_cells_ctes(iters, include_e=False)
        ctes += [
            _qcells_cte(query_id, nprobe),
            "cands AS (\n"
            "  SELECT cf.vec_id\n"
            "  FROM cells_fin cf JOIN qcells USING (cell)\n"
            f"  WHERE cf.vec_id != {query_id}\n)",
        ]
        coded = "codes JOIN cands USING (vec_id)"
    ctes += pq.sql_ctes()
    ctes.append(
        "lut AS (\n"
        "  SELECT c.s, c.j,\n"
        f"         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}\n"
        f"           - 2 * {_DOT_SQL.format(a='qs.vs', b='c.cs')}\n"
        f"           + {_DOT_SQL.format(a='c.cs', b='c.cs')} AS dist\n"
        f"  FROM {pq.sql_books} c\n"
        f"  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs\n"
        "    ON qs.s = c.s\n)"
    )
    ctes += pq.layout.sql_unpack_ctes(coded)
    ctes.append(
        "adcs AS (\n"
        "  SELECT vec_id, ANY_VALUE(label) AS label, SUM(lut.dist) AS adc\n"
        "  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j\n"
        "  GROUP BY vec_id\n)"
    )
    if shortlist is None:
        return f"""
WITH {_with(ctes)}
SELECT vec_id, label, {_ROUND6_SQL.format(x='adc')} AS adc
FROM adcs
ORDER BY adc ASC, vec_id ASC
LIMIT {k}
"""
    ctes += [
        "short AS (\n"
        f"  SELECT vec_id, {_ROUND6_SQL.format(x='adc')} AS adc\n"
        "  FROM adcs\n"
        f"  ORDER BY {_ROUND6_SQL.format(x='adc')} ASC, vec_id ASC\n"
        f"  LIMIT {shortlist}\n)",
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})",
    ]
    l2 = (
        _DOT_SQL.format(a="qv", b="qv")
        + " - 2 * " + _DOT_SQL.format(a="qv", b="e.v")
        + " + " + _DOT_SQL.format(a="e.v", b="e.v")
    )
    return f"""
WITH {_with(ctes)}
SELECT e.vec_id, e.label, {_ROUND6_SQL.format(x=l2)} AS l2
FROM e JOIN short ON e.vec_id = short.vec_id, q
ORDER BY l2 ASC, e.vec_id ASC
LIMIT {k}
"""


def pq_index_stats_sql(pq: ProductQuantizer, iters: int) -> str:
    """Oracle twin of :func:`pq_index_stats`: the lloyd-cells chain and
    the quantizer's codes chain behind one shared ``e``, census over
    the cells x codes join."""
    ctes = (
        pq.sql_e_ctes()
        + _lloyd_cells_ctes(iters, include_e=False)
        + pq.sql_ctes()
    )
    words = ", ".join(f"c.{c}" for c in pq.layout.cols)
    return f"""
WITH {_with(ctes)}
SELECT cf.cell,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT ({words})) AS BIGINT) AS n_codes
FROM cells_fin cf JOIN codes c ON cf.vec_id = c.vec_id
GROUP BY cf.cell
ORDER BY cf.cell
"""


# -- the registered configurations -----------------------------------------

#: codes queries: name -> quantizer
PQ_CODES: dict[str, ProductQuantizer] = {
    "embedding_pq_codes": ProductQuantizer(8, 3),
    "embedding_pq8_codes": ProductQuantizer(8, 8),
    "embedding_pq16_codes": ProductQuantizer(16, 8),
    "embedding_opq16_codes": ProductQuantizer(16, 8, 1, rotation="opq"),
}

#: top-k queries: name -> keyword arguments of pq_topk / pq_topk_sql
#: (quantizer, IVF Lloyd iterations for a cell-probed scan, exact-rerank
#: shortlist)
PQ_TOPK: dict[str, dict] = {
    "ann_pq_adc_topk": {"pq": ProductQuantizer(8, 3)},
    "ann_pq_adc_topk_lloyd": {"pq": ProductQuantizer(8, 3, 1)},
    "ann_ivfpq_topk": {"pq": ProductQuantizer(8, 3), "iters": 1},
    "ann_pq8_adc_topk": {"pq": ProductQuantizer(8, 8)},
    "ann_pq8_adc_topk_lloyd": {"pq": ProductQuantizer(8, 8, 1)},
    "ann_pq16_adc_topk": {"pq": ProductQuantizer(16, 8)},
    "ann_pq16_adc_topk_lloyd": {"pq": ProductQuantizer(16, 8, 1)},
    "ann_opq16_adc_topk": {"pq": ProductQuantizer(16, 8, 1, rotation="opq")},
    "ann_pq16_rerank_topk": {"pq": ProductQuantizer(16, 8, 1), "shortlist": 64},
    "ann_ivfpq16_topk": {"pq": ProductQuantizer(16, 8, 1), "iters": 1},
    "ann_ivfpq16_rerank_topk": {
        "pq": ProductQuantizer(16, 8, 1), "iters": 1, "shortlist": 64,
    },
}


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means
# cells bucket the corpus, exact cosine is computed ONLY within a cell,
# and each ε-duplicate pair keeps its lowest-id member — embedding-space
# near-dup removal for training corpora, the semantic companion to the
# lexical MinHash chain. At 100 TB the pair relation is bounded per cell
# (sum of |cell|² over cells, never corpus²) only when the cell count k
# grows with the corpus (the paper holds the expected cell population
# constant, k ~= n / cell size); the cell assignment is one map pass, and
# the greedy min-id rule needs no iterative CC: one bucketed self-join
# (:func:`_cosine_pairs` keyed on the cell) + one anti-join.
# ---------------------------------------------------------------------------


def _semdedup_cells(emb: DataFrame, k: int = len(CENTROID_IDS)) -> DataFrame:
    """Cell assignment for the SemDeDup family: the first ``k`` vec_ids
    as seed centroids (k=8, the fixture default, is CENTROID_IDS). The
    assignment stays a pure projection; only the number of folded
    centroid literals grows with k."""
    vecs = _vectors(emb)
    return _with_cells(vecs, cents=_seed_centroids(vecs, n=k))


def _semdedup(
    emb: DataFrame, tau: float, k: int
) -> tuple[DataFrame, DataFrame]:
    """The cells relation and the ids it drops: a row is DROPPED iff
    some lower-id row in the SAME cell has round6(cosine) >= ``tau``
    (SemDeDup's within-cluster ε-rule with the deterministic
    keep-lowest-id tiebreak)."""
    cells = _semdedup_cells(emb, k)
    dropped = (
        _cosine_pairs(cells, "cell", tau)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return cells, dropped


def semdedup_keep(
    emb: DataFrame,
    tau: float = COSINE_NEARDUP_THRESHOLD,
    k: int = len(CENTROID_IDS),
) -> DataFrame:
    """Kept rows (vec_id, label, cell) after semantic dedup over ``k``
    cells (see :func:`_semdedup`)."""
    cells, dropped = _semdedup(emb, tau, k)
    return cells.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "label", "cell"
    )


def _semdedup_ctes(tau: float, k: int) -> list[str]:
    """Oracle twin of :func:`_semdedup`: the seed-cell chain over vec_id
    1..k (cells_fin) and the ``dropped`` ids of its within-cell pairs."""
    pairs = _pairs_sql("cells_fin", "cells_fin", "cell", tau)
    return _lloyd_cells_ctes(0, ids=tuple(range(1, k + 1))) + [
        f"dropped AS (\n  SELECT DISTINCT vec_b AS vec_id FROM (\n{pairs}\n  )\n)"
    ]


def semdedup_keep_sql(
    tau: float = COSINE_NEARDUP_THRESHOLD, k: int = len(CENTROID_IDS)
) -> str:
    return f"""
WITH {_with(_semdedup_ctes(tau, k))}
SELECT c.vec_id, c.label, c.cell
FROM cells_fin c LEFT JOIN dropped d ON c.vec_id = d.vec_id
WHERE d.vec_id IS NULL
"""


def semdedup_rate_by_label(
    emb: DataFrame,
    tau: float = COSINE_NEARDUP_THRESHOLD,
    k: int = len(CENTROID_IDS),
) -> DataFrame:
    """Per-label semantic-dedup health: (label, n_docs, n_dropped,
    drop_ppm) with drop_ppm = exact integer 1e6 * dropped / docs — the
    monitoring twin of :func:`semdedup_keep` (labels stand in for the
    per-source feed monitor on the embeddings table). ONE cells build
    serves the census and the drop relation."""
    cells, dropped_ids = _semdedup(emb, tau, k)
    per = cells.groupBy("label").agg(F.count(F.lit(1)).alias("n_docs"))
    dropped = (
        cells.join(dropped_ids, "vec_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        per.join(dropped, "label", "left")
        .select(
            "label",
            "n_docs",
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias(
                "n_dropped"
            ),
        )
        .withColumn(
            "drop_ppm",
            F.expr("(n_dropped * 1000000) div n_docs").cast("bigint"),
        )
        .orderBy("label")
    )


def semdedup_rate_by_label_sql(
    tau: float = COSINE_NEARDUP_THRESHOLD, k: int = len(CENTROID_IDS)
) -> str:
    return f"""
WITH {_with(_semdedup_ctes(tau, k))}
SELECT c.label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST((COUNT(d.vec_id) * 1000000) // COUNT(*) AS BIGINT) AS drop_ppm
FROM cells_fin c LEFT JOIN dropped d ON c.vec_id = d.vec_id
GROUP BY c.label
ORDER BY c.label
"""
