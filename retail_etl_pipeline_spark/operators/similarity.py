"""Similarity search over embedding columns (SURVEY.md §2.10).

- brute-force cosine top-k (the exactness baseline)
- LSH-bucketed ANN top-k (random-hyperplane signs; the scale path — the
  candidate scan shrinks from N to N/2^bits per bucket)
- embedding-cosine near-duplicate pairs (brute force + LSH-bucketed form)

All vector math is JVM-side via array higher-order functions
(``zip_with`` products + ``aggregate`` summation over double arrays) — no
Python UDFs. Cosines are rounded at 6 decimals via DECIMAL (see
functions.metrics) before ranking/thresholding so results are
engine-stable; ties break on vec_id.

At 100 TB: brute-force top-k against ONE query is a single scan (fine);
pairwise brute force is quadratic and exists only as the correctness
baseline — the LSH-bucketed variants are the production path (equi-join on
bucket id). An IVF variant would replace the hyperplane bucket with a
k-means cell id; the join shape is identical.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Trained-state memo (r9 VERDICT items 1b/5): every ANN training kernel
# ends in a bounded driver-side collect of plain Python floats (seed
# centroids, Lloyd cents, PQ/OPQ codebooks, the query vector) that is a
# DETERMINISTIC function of (corpus, params) — the exact-integer updates
# exist precisely so the result is engine- and run-stable. So training
# artifacts memoize safely per process, keyed by the canonicalized
# logical plan of the input relation (semanticHash — identical for every
# re-read of the same path, different for any other source/projection)
# plus the training params. Effect: within one bench/driver process the
# PQ/IVF family trains ONCE per (corpus, params) instead of once per
# query invocation, which is also exactly how a real index lifecycle
# works (faiss train -> add -> search; see build_ivfpq16_index).
# SPARK_GRAFT_TRAIN_CACHE=0 disables (every call retrains).
# ---------------------------------------------------------------------------

_TRAINED_CACHE: dict[tuple, object] = {}


def _corpus_key(vecs: DataFrame) -> int | None:
    """Canonical identity of the input relation, or None when memoing
    is disabled/unavailable (callers then retrain unconditionally)."""
    if os.environ.get("SPARK_GRAFT_TRAIN_CACHE", "1") != "1":
        return None
    try:
        return vecs._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # pragma: no cover - py4j surface change
        return None


def _memo_trained(kind: str, vecs: DataFrame, params: tuple, build):
    """Memoize ``build()`` (a driver-side dict/list of plain floats)
    under (kind, corpus plan hash, params)."""
    ck = _corpus_key(vecs)
    if ck is None:
        return build()
    key = (kind, ck, params)
    if key not in _TRAINED_CACHE:
        _TRAINED_CACHE[key] = build()
    return _TRAINED_CACHE[key]

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
#: size. The unbounded production path is embedding_neardup_lsh.
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


def ann_lsh_topk(emb: DataFrame, query_id: int = 0, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket, then exact cosine
    within the query's bucket only.

    The LSH_PLANES hyperplanes are the embeddings of PLANE_IDS —
    deterministic and data-independent of the query. bucket(v) =
    sum_i [dot(v, p_i) > 0] << i. At scale this turns the scan into an
    equi-lookup of one bucket (~N/2^bits vectors)."""
    vecs = _vectors(emb)
    with_bits = _with_buckets(vecs)
    qb = with_bits.where(F.col("vec_id") == query_id).select(
        F.col("bucket").alias("qbucket"), F.col("v").alias("qv")
    )
    return (
        with_bits.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(qb))
        .where(F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), F.col("qv"))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ann_lsh_topk_sql(query_id: int = 0, k: int = TOP_K) -> str:
    plane_list = ", ".join(str(p) for p in PLANE_IDS)
    return f"""
WITH e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
planes AS (
  SELECT vec_id AS plane_id, v AS pv FROM e WHERE vec_id IN ({plane_list})
),
buckets AS (
  SELECT e.vec_id,
         e.label,
         ANY_VALUE(e.v) AS v,
         CAST(SUM(
           (CASE WHEN {_DOT_SQL.format(a='e.v', b='pv')} > 0 THEN 1 ELSE 0 END)
           << (plane_id - {min(PLANE_IDS)})
         ) AS BIGINT) AS bucket
  FROM e, planes
  GROUP BY e.vec_id, e.label
),
q AS (
  SELECT bucket AS qbucket, v AS qv FROM buckets WHERE vec_id = {query_id}
)
SELECT vec_id,
       label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='v', b='qv'))} AS cosine
FROM buckets, q
WHERE vec_id != {query_id} AND bucket = qbucket
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


def ann_lsh_topk_multiprobe(
    emb: DataFrame, query_id: int = 0, k: int = TOP_K
) -> DataFrame:
    """Multi-probe LSH ANN: probe the query's bucket AND every bucket at
    Hamming distance 1 (flip each plane bit once) — the standard recall
    knob for sign-LSH. A vector whose true neighbors straddle one
    hyperplane lands one bit away; probing the 1+LSH_PLANES neighbor
    buckets recovers exactly those misses, so recall@k >= the
    single-probe ``ann_lsh_topk`` by construction (candidate superset),
    at (1+bits)/2^bits of the corpus scanned instead of 1/2^bits.

    Plan shape: the probe set is derived from the ONE query row (explode
    of a (1+bits)-element xor array — stays relational, no driver
    round-trip) and broadcast into an equi-join on bucket id, so the
    scale story of the single-probe form is unchanged: an equi-lookup
    of a handful of buckets, never a corpus scan."""
    vecs = _vectors(emb)
    with_bits = _with_buckets(vecs)
    qb = with_bits.where(F.col("vec_id") == query_id).select(
        F.col("bucket").alias("qbucket"), F.col("v").alias("qv")
    )
    probes = qb.select(
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(LSH_PLANES)
                ],
            )
        ).alias("bucket"),
        "qv",
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


def ann_lsh_topk_multiprobe_sql(query_id: int = 0, k: int = TOP_K) -> str:
    plane_list = ", ".join(str(p) for p in PLANE_IDS)
    flip_list = ", ".join(
        f"({1 << i})" for i in range(LSH_PLANES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
planes AS (
  SELECT vec_id AS plane_id, v AS pv FROM e WHERE vec_id IN ({plane_list})
),
buckets AS (
  SELECT e.vec_id,
         e.label,
         ANY_VALUE(e.v) AS v,
         CAST(SUM(
           (CASE WHEN {_DOT_SQL.format(a='e.v', b='pv')} > 0 THEN 1 ELSE 0 END)
           << (plane_id - {min(PLANE_IDS)})
         ) AS BIGINT) AS bucket
  FROM e, planes
  GROUP BY e.vec_id, e.label
),
q AS (
  SELECT bucket AS qbucket, v AS qv FROM buckets WHERE vec_id = {query_id}
),
probes AS (
  SELECT xor(qbucket, CAST(flip AS BIGINT)) AS bucket, qv
  FROM q, (VALUES (0), {flip_list}) AS flips(flip)
)
SELECT b.vec_id,
       b.label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='b.v', b='qv'))} AS cosine
FROM buckets b JOIN probes p ON b.bucket = p.bucket
WHERE b.vec_id != {query_id}
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


def embedding_neardup(
    emb: DataFrame, max_docs: int = NEARDUP_SAMPLE_DOCS
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a bounded,
    deterministic sample (the ``max_docs`` lowest vec_ids): the brute-force
    correctness BASELINE for :func:`embedding_neardup_lsh`, which is the
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


def embedding_neardup_lsh(emb: DataFrame) -> DataFrame:
    """Near-dup pairs, LSH-bucketed: only pairs sharing the hyperplane
    bucket are scored — the equi-join on bucket id replaces the quadratic
    cross join at scale (recall < 1 by design; the oracle encodes the same
    bucketing, so the comparison is exact)."""
    vecs = _vectors(emb)
    with_norm = _with_norm(_with_buckets(vecs))
    a = with_norm.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("norm").alias("na"), "bucket",
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"), F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        _round6(
            _dot_udf(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        ).alias("cosine"),
    ).where(F.col("cosine") >= COSINE_NEARDUP_THRESHOLD)


EMBEDDING_NEARDUP_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
planes AS (
  SELECT vec_id AS plane_id, v AS pv FROM e
  WHERE vec_id IN ({", ".join(str(p) for p in PLANE_IDS)})
),
buckets AS (
  SELECT e.vec_id,
         ANY_VALUE(e.v) AS v,
         CAST(SUM(
           (CASE WHEN {_DOT_SQL.format(a='e.v', b='pv')} > 0 THEN 1 ELSE 0 END)
           << (plane_id - {min(PLANE_IDS)})
         ) AS BIGINT) AS bucket
  FROM e, planes
  GROUP BY e.vec_id
)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))} AS cosine
FROM buckets a
JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))}
      >= {COSINE_NEARDUP_THRESHOLD}
"""


def embedding_neardup_lsh_multiprobe(emb: DataFrame) -> DataFrame:
    """Near-dup pairs with multi-probe recall: one side of the bucket
    join is expanded into its own bucket PLUS every Hamming-1 flip, so
    any pair whose signatures differ in at most ONE hyperplane bit is
    scored — the pair-level analog of ann_lsh_topk_multiprobe (a true
    near-duplicate loses recall exactly when it straddles one plane).

    Each qualifying pair matches EXACTLY once (equal buckets match only
    via the identity flip; Hamming-1 buckets only via the single
    differing bit), so no dedup pass is needed beyond the a < b
    canonicalization. Candidate volume is (1+bits)x the single-probe
    join — still linear + collisions, never all-pairs."""
    vecs = _vectors(emb)
    with_norm = _with_norm(_with_buckets(vecs))
    probe = with_norm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(LSH_PLANES)
                ],
            )
        ).alias("bucket"),
    )
    b = with_norm.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"), "bucket",
    )
    pairs = probe.join(
        b, ["bucket"]
    ).where(F.col("vec_a") < F.col("vec_b"))
    return pairs.select(
        "vec_a",
        "vec_b",
        _round6(
            _dot_udf(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        ).alias("cosine"),
    ).where(F.col("cosine") >= COSINE_NEARDUP_THRESHOLD)


EMBEDDING_NEARDUP_LSH_MULTIPROBE_SQL = f"""
WITH e AS (
  SELECT vec_id, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
planes AS (
  SELECT vec_id AS plane_id, v AS pv FROM e
  WHERE vec_id IN ({", ".join(str(p) for p in PLANE_IDS)})
),
buckets AS (
  SELECT e.vec_id,
         ANY_VALUE(e.v) AS v,
         CAST(SUM(
           (CASE WHEN {_DOT_SQL.format(a='e.v', b='pv')} > 0 THEN 1 ELSE 0 END)
           << (plane_id - {min(PLANE_IDS)})
         ) AS BIGINT) AS bucket
  FROM e, planes
  GROUP BY e.vec_id
),
probes AS (
  SELECT vec_id, v, xor(bucket, CAST(flip AS BIGINT)) AS bucket
  FROM buckets,
       (VALUES (0), {", ".join(f"({1 << i})" for i in range(LSH_PLANES))})
       AS flips(flip)
)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))} AS cosine
FROM probes a
JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))}
      >= {COSINE_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantization into centroid cells, exact rerank
# within the probed cell (nprobe=1). Deterministic "centroids" are fixed
# corpus vectors (CENTROID_IDS) — a seeded k-means would slot in the same
# way, but fp-nondeterministic training would break the cross-engine oracle.
# ---------------------------------------------------------------------------

#: vec_ids whose embeddings act as the IVF coarse centroids
CENTROID_IDS = tuple(range(1, 9))


def _seed_centroids(
    vecs: DataFrame, ids: tuple[int, ...] = CENTROID_IDS
) -> dict[int, list[float]]:
    """The deterministic seed centroids: bounded collect of the ``ids``
    corpus vectors (|ids| rows, a plan constant — CENTROID_IDS unless a
    caller sizes the cell count to its corpus, see
    :func:`semdedup_cell_count`). Memoized per (corpus, ids)."""

    def build() -> dict[int, list[float]]:
        cent_rows = (
            vecs.where(F.col("vec_id").isin(*ids))
            .select("vec_id", "v")
            .collect()
        )
        return {r["vec_id"]: list(r["v"]) for r in cent_rows}

    return _memo_trained("seed_centroids", vecs, (ids,), build)


def _cell_expr(cents: dict[int, list[float]]) -> Column:
    """The max-cosine cell-assignment expression over ``F.col("v")``
    (ties -> lowest centroid id) — the single home of the assignment
    argmax, shared by :func:`_with_cells` and the fused cells+codes
    projections of the IVF-PQ variants."""
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


def _with_cells(
    vecs: DataFrame, cents: dict[int, list[float]] | None = None
) -> DataFrame:
    """Assign each vector to its max-cosine centroid cell (ties -> lowest
    centroid id) as a single PROJECTION: centroids are tiny plan constants
    (collected once, inlined as array literals) and the argmax is an
    expression fold — no crossJoin, no window shuffle; at scale this is a
    pure map over the corpus. ``cents`` overrides the seed centroids
    (the Lloyd-refined assignment passes the updated means)."""
    if cents is None:
        cents = _seed_centroids(vecs)
    # r10: assignment via the vectorized kernel (guide §4.2) — the
    # interpreted 8x(3-dot) argmax fold cost seconds per pass on the
    # single toy input split; values bit-identical (see the kernel
    # section header)
    return vecs.select(
        "vec_id", "label", "v", _cell_np_udf(cents).alias("cell")
    )


def ann_ivf_topk(emb: DataFrame, query_id: int = 0, k: int = TOP_K) -> DataFrame:
    """IVF ANN top-k: probe only the query's cell, exact cosine rerank
    inside it. The candidate scan shrinks from N to ~N/len(CENTROID_IDS);
    recall < 1 by construction and the oracle encodes the same cells."""
    cells = _with_cells(_vectors(emb))
    # resolve the query row driver-side (1 row) and inline it: avoids a
    # self-join of `cells` with itself, which both adds a join stage and
    # trips Spark's attribute dedup on the outer column captured by the
    # cell-assignment transform lambda (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    qrow = cells.where(F.col("vec_id") == query_id).select("cell", "v").first()
    qv = _dbl_arr_lit([float(x) for x in qrow["v"]])
    return (
        cells.where(
            (F.col("vec_id") != query_id) & (F.col("cell") == F.lit(qrow["cell"]))
        )
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), qv)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivf_topk_sql(query_id: int = 0, k: int = TOP_K) -> str:
    cid_list = ", ".join(str(c) for c in CENTROID_IDS)
    return f"""
WITH e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN ({cid_list})
),
scored AS (
  SELECT e.vec_id, e.label, e.v, cid,
         {_DOT_SQL.format(a='e.v', b='cv')}
           / sqrt({_DOT_SQL.format(a='e.v', b='e.v')})
           / sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS cs,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY
             {_DOT_SQL.format(a='e.v', b='cv')}
               / sqrt({_DOT_SQL.format(a='e.v', b='e.v')})
               / sqrt({_DOT_SQL.format(a='cv', b='cv')}) DESC,
             cid ASC
         ) AS rn
  FROM e, cents
),
cells AS (
  SELECT vec_id, label, v, cid AS cell FROM scored WHERE rn = 1
),
q AS (
  SELECT cell AS qcell, v AS qv FROM cells WHERE vec_id = {query_id}
)
SELECT vec_id,
       label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='v', b='qv'))} AS cosine
FROM cells, q
WHERE vec_id != {query_id} AND cell = qcell
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


#: cells probed by the multi-probe IVF variant (top-m nearest centroids)
IVF_NPROBE = 2


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
    shared by every IVF variant. Uses the sequential-fold dot so the
    ranking agrees bit-for-bit with the oracle's relational form."""
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


def ann_ivf_topk_multiprobe(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Multi-probe IVF ANN: rerank inside the ``nprobe`` centroid cells
    NEAREST the query instead of only its own cell — the standard IVF
    recall knob (a query near a cell boundary has true neighbors in the
    runner-up cell; nprobe=2 recovers exactly those). Candidates are a
    superset of ``ann_ivf_topk``'s, so recall@k can only improve, at
    ~nprobe/len(CENTROID_IDS) of the corpus scanned.

    The probe-cell list is resolved driver-side from bounded constants
    (the 8 centroid vectors + the 1 query row — same footprint as the
    single-probe ``first()``), ranked by the identical sequential-dot
    cosine the relational cell assignment uses, then inlined as an IN
    filter: the corpus-side plan stays a partition-prunable filter +
    one scan of the probed cells, no joins added."""
    vecs = _vectors(emb)
    cells = _with_cells(vecs)
    qv_list = _query_vec(vecs, query_id)
    probe_cells = _probe_cells(qv_list, _seed_centroids(vecs), nprobe)
    qv = _dbl_arr_lit(qv_list)
    return (
        cells.where(
            (F.col("vec_id") != query_id)
            & (F.col("cell").isin(*probe_cells))
        )
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), qv)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivf_topk_multiprobe_sql(
    query_id: int = 0, k: int = TOP_K, nprobe: int = IVF_NPROBE
) -> str:
    cid_list = ", ".join(str(c) for c in CENTROID_IDS)
    return f"""
WITH e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN ({cid_list})
),
scored AS (
  SELECT e.vec_id, e.label, e.v, cid,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY
             {_DOT_SQL.format(a='e.v', b='cv')}
               / sqrt({_DOT_SQL.format(a='e.v', b='e.v')})
               / sqrt({_DOT_SQL.format(a='cv', b='cv')}) DESC,
             cid ASC
         ) AS rn
  FROM e, cents
),
cells AS (
  SELECT vec_id, label, v, cid AS cell FROM scored WHERE rn = 1
),
qcells AS (
  SELECT cid AS cell FROM scored WHERE vec_id = {query_id} AND rn <= {nprobe}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})
SELECT c.vec_id,
       c.label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='c.v', b='qv'))} AS cosine
FROM cells c JOIN qcells USING (cell), q
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
# IVF with one exact-decimal Lloyd refinement: the honest k-means upgrade.
# The module-head caveat ("fp-nondeterministic training would break the
# oracle") is about FLOAT means — per-dimension double sums depend on
# partition/accumulation order. The refinement below sidesteps it entirely:
# components are pinned to integer NANO-units (decimal hop, HALF_UP — the
# money discipline), per-cell sums are exact BIGINT, the mean is exact
# truncating integer division (Spark `div` == DuckDB `//`, both
# toward-zero, verified on negatives), and only the final /1e9 returns to
# double — one exact-integer-by-constant IEEE division, bit-identical on
# both engines. So the refined centroids, the re-assignment, and the probe
# are all engine-stable: real Lloyd, no float drift.
# ---------------------------------------------------------------------------

#: nano-unit scale for exact centroid means
_NANO = 1_000_000_000


def _lloyd_refined_cells(
    vecs: DataFrame, iters: int = 1
) -> tuple[DataFrame, dict]:
    """``iters`` Lloyd iterations over the seed assignment: returns the
    final re-assigned cells relation and the refined centroid dict.

    Each iteration's per-cell per-dimension mean is computed distributed
    (posexplode -> groupBy(cell, dim) with exact BIGINT sums) and
    collected as |cells| x dim bounded rows (8 x 64 — a plan constant,
    the same class as the seed collect); the assignment feeding it is a
    pure projection over inlined centroid literals, so the whole loop
    is ``iters`` scan+aggregate passes, no iterative join state. A cell
    that lost every member keeps its previous centroid (possible only
    under duplicate seed vectors; the fallback keeps both engines
    aligned). The exact-integer mean (nano-unit components, truncating
    div) makes every iteration engine-stable — see the section header.

    The trained cents memoize per (corpus, iters) (``_memo_trained``):
    within one process the Lloyd loop runs once per corpus/params and
    every later call rebuilds only the assignment projection."""
    cents = _memo_trained(
        "lloyd_cents", vecs, (iters,), lambda: _lloyd_cents_impl(vecs, iters)
    )
    return _with_cells(vecs, cents=cents), cents


def _lloyd_cents_impl(vecs: DataFrame, iters: int) -> dict:
    cents = _seed_centroids(vecs)
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


def ann_ivf_topk_lloyd(
    emb: DataFrame, query_id: int = 0, k: int = TOP_K, iters: int = 1
) -> DataFrame:
    """IVF ANN top-k over Lloyd-REFINED centroids (``iters``
    exact-decimal k-means iterations from the seed assignment), probing
    the query's refined cell. Same probe/rerank machinery as
    :func:`ann_ivf_topk`; only the quantizer improved — refined cells
    track the corpus distribution instead of 8 arbitrary members, so
    cell populations even out and the probed fraction is closer to the
    ideal 1/|cells|."""
    cells, _ = _lloyd_refined_cells(_vectors(emb), iters=iters)
    qrow = (
        cells.where(F.col("vec_id") == query_id).select("cell", "v").first()
    )
    qv = _dbl_arr_lit([float(x) for x in qrow["v"]])
    return (
        cells.where(
            (F.col("vec_id") != query_id)
            & (F.col("cell") == F.lit(qrow["cell"]))
        )
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), qv)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivf_topk_lloyd_multiprobe(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Multi-probe IVF over Lloyd-refined centroids: the two quantizer
    upgrades composed — refined cells track the corpus distribution,
    nprobe=2 recovers boundary queries' runner-up-cell neighbors.
    Candidates are a superset of ``ann_ivf_topk_lloyd``'s, so recall@k
    can only improve, at ~nprobe/|cells| of the corpus scanned.

    The probe ranking runs driver-side over the refined centroid dict
    with the same strict sequential dot (:func:`_seq_dot`) the SQL
    twin's relational ranking evaluates — the refined components are
    exact nano-unit quotients, identical doubles on both engines, so
    the probe-cell list agrees bit-for-bit."""
    vecs = _vectors(emb)
    cells, cents = _lloyd_refined_cells(vecs, iters=iters)
    qv_list = _query_vec(vecs, query_id)
    probe_cells = _probe_cells(qv_list, cents, nprobe)
    qv = _dbl_arr_lit(qv_list)
    return (
        cells.where(
            (F.col("vec_id") != query_id)
            & (F.col("cell").isin(*probe_cells))
        )
        .select(
            "vec_id",
            "label",
            _round6(cosine(F.col("v"), qv)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _lloyd_cells_ctes(iters: int) -> list[str]:
    """The shared CTE chain e -> cents0 -> (scored/cells/comps/means/
    cents)+ -> scored_fin -> cells_fin: the relational Lloyd assignment
    every lloyd-flavored oracle builds on (single/multi-probe rerank,
    IVF-PQ)."""
    cid_list = ", ".join(str(c) for c in CENTROID_IDS)

    def cs(cent_col: str) -> str:
        return (
            f"{_DOT_SQL.format(a='e.v', b=cent_col)}"
            f" / sqrt({_DOT_SQL.format(a='e.v', b='e.v')})"
            f" / sqrt({_DOT_SQL.format(a=cent_col, b=cent_col)})"
        )

    ctes = [
        "e AS (\n"
        f"  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v"
        " FROM embeddings\n)",
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


def ann_ivf_topk_lloyd_sql(
    query_id: int = 0, k: int = TOP_K, iters: int = 1, nprobe: int = 1
) -> str:
    """Oracle twin: the SAME seed assignment, exact nano-unit means
    (HUGEINT sums, `//` toward-zero division — matches Spark `div`),
    refined re-assignment per iteration, probe, rerank. The CTE chain
    unrolls ``iters`` times — each iteration is (score vs current
    centroids -> cells -> nano-unit component explode -> exact means ->
    next centroids), exactly the Python loop."""
    ctes = _lloyd_cells_ctes(iters)
    if nprobe <= 1:
        ctes.append(
            "q AS (SELECT cell AS qcell, v AS qv FROM cells_fin WHERE"
            f" vec_id = {query_id})"
        )
        body = ",\n".join(ctes)
        return f"""
WITH {body}
SELECT vec_id,
       label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='v', b='qv'))} AS cosine
FROM cells_fin, q
WHERE vec_id != {query_id} AND cell = qcell
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""
    # multi-probe tail: the query's nprobe nearest refined cells come
    # straight from the final assignment ranking (rn <= nprobe), the
    # same relational form as ann_ivf_topk_multiprobe_sql
    ctes.append(
        "qcells AS (SELECT cid AS cell FROM scored_fin WHERE"
        f" vec_id = {query_id} AND rn <= {nprobe})"
    )
    ctes.append(f"q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT c.vec_id,
       c.label,
       {_ROUND6_SQL.format(x=_COS_SQL.format(a='c.v', b='qv'))} AS cosine
FROM cells_fin c JOIN qcells USING (cell), q
WHERE c.vec_id != {query_id}
ORDER BY cosine DESC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): the ANN memory-compression path. A 64-dim
# double vector (512 bytes) becomes one packed BIGINT of 8x 3-bit codes —
# ~64x smaller — and queries scan CODES with a per-query distance lookup
# table (asymmetric distance computation, ADC) instead of raw vectors.
# At 100 TB of embeddings this is the difference between scanning vectors
# and scanning a codes column that fits in a fraction of the page cache.
# Codebooks are deterministic (the CENTROID_IDS seed vectors' subspace
# slices), and every distance is the dot-product expansion
# |a-b|^2 = <a,a> - 2<a,b> + <b,b> — the exact form whose Spark fold /
# DuckDB list_dot_product agreement the IVF cell assignment already
# proves, so codes and ADC rankings are engine-stable.
# ---------------------------------------------------------------------------

#: PQ layout: PQ_M subspaces of PQ_DIMS dims each (PQ_M x PQ_DIMS = 64);
#: one code indexes the 8 seed sub-centroids -> 3 bits per subspace
PQ_M = 8
PQ_DIMS = 8


def _pq_codebooks(vecs: DataFrame) -> dict[int, dict[int, list[float]]]:
    """codebooks[s][cid] = the cid seed vector's dims [s*PQ_DIMS,
    (s+1)*PQ_DIMS) — bounded collect of 8 rows, a plan constant."""
    seeds = _seed_centroids(vecs)
    return {
        s: {
            cid: [float(x) for x in v[s * PQ_DIMS : (s + 1) * PQ_DIMS]]
            for cid, v in seeds.items()
        }
        for s in range(PQ_M)
    }


def _sub_dists(vs: Column, cent_mat: Column) -> Column:
    """Per-candidate L2^2 of subvector ``vs`` against every row of the
    inlined sub-codebook matrix, via the dot-product expansion. The
    lambda must take exactly ONE parameter — F.transform binds a
    2-parameter callable as (element, index); ``vs`` is captured by
    closure (safe: transform builds the expression eagerly)."""
    return F.transform(
        cent_mat,
        lambda cs: dot(vs, vs) - 2 * dot(vs, cs) + dot(cs, cs),
    )


def _sub_code_idx(s: int, books: dict) -> Column:
    """0-based sub-centroid index (argmin L2^2, ties -> lowest codebook
    position) of subspace ``s`` — the shared assignment expression of
    code packing AND codebook training."""
    cids = sorted(books[s])
    vs = F.slice(F.col("v"), s * PQ_DIMS + 1, PQ_DIMS)
    cent_mat = F.array(*[_dbl_arr_lit(books[s][cid]) for cid in cids])
    dists = _sub_dists(vs, cent_mat)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _pq_lloyd_codebooks(
    vecs: DataFrame, iters: int = 1
) -> dict[int, dict[int, list[float]]]:
    """Memoized front of :func:`_pq_lloyd_codebooks_impl` (same
    contract as the other trained-state memos)."""
    return _memo_trained(
        "pq_lloyd_codebooks",
        vecs,
        (iters,),
        lambda: _pq_lloyd_codebooks_impl(vecs, iters),
    )


def _pq_lloyd_codebooks_impl(
    vecs: DataFrame, iters: int = 1
) -> dict[int, dict[int, list[float]]]:
    """``iters`` exact-decimal Lloyd iterations over the PQ
    sub-codebooks: assign every vector's subvector to its nearest
    sub-centroid, recompute each (subspace, code) centroid as the exact
    nano-unit integer mean of its members — the SAME engine-stable
    k-means update as ``_lloyd_refined_cells``, run in the 8 subspaces
    independently (FAISS-style PQ training, determinized).

    Per iteration: one projection pass (assignment is inlined
    literals), one explode to (subspace, code, dim, nano-component),
    one bounded aggregate collected as <= PQ_M x |codes| x PQ_DIMS =
    512 rows — plan constants at any corpus size. A code that lost all
    members keeps its previous centroid."""
    books = _pq_codebooks(vecs)
    nano = F.expr(
        f"CAST(round(CAST(comp AS DECIMAL(30,15)) * {_NANO}, 0) AS BIGINT)"
    )
    for _ in range(iters):
        pre = vecs.select(
            "v", _js_np_udf(books, PQ_M, PQ_DIMS, "3term").alias("_js")
        )
        assigned = [
            F.struct(
                F.lit(s).alias("s"),
                F.element_at(F.col("_js"), s + 1).alias("j"),
                F.slice(F.col("v"), s * PQ_DIMS + 1, PQ_DIMS).alias("vs"),
            )
            for s in range(PQ_M)
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
        books = {
            s: {
                cid: (
                    [got[(s, j)][d] / _NANO for d in range(PQ_DIMS)]
                    if (s, j) in got
                    else list(books[s][cid])
                )
                for j, cid in enumerate(sorted(books[s]))
            }
            for s in range(PQ_M)
        }
    return books


def _pq_pack_codes(vecs: DataFrame, books: dict) -> DataFrame:
    # r10: per-subspace argmin via the vectorized kernel (guide §4.2);
    # the bit-pack stays a native shift-sum over the returned indexes
    pre = vecs.select(
        "vec_id",
        "label",
        _js_np_udf(books, PQ_M, PQ_DIMS, "3term").alias("_js"),
    )
    [word] = _pack_js(F.col("_js"), PQ_M, 3)
    return pre.select("vec_id", "label", word.alias("pq_code"))


def _pq_cells_codes(
    vecs: DataFrame,
    cents: dict[int, list[float]],
    books: dict[int, dict[int, list[float]]],
) -> DataFrame:
    """(vec_id, label, cell, pq_code) in ONE projection — the fused
    replacement for ``cells.select("vec_id","cell").join(codes,
    "vec_id")`` in :func:`ann_ivfpq_topk`. Cell and code are both pure
    per-row functions of ``v`` (identical expressions to
    ``_with_cells`` / ``_pq_pack_codes``), so the self-join of two
    projections of the same relation is a second full scan plus a join
    exchange for nothing (guide §2.4)."""
    pre = vecs.select(
        "vec_id",
        "label",
        _cell_np_udf(cents).alias("cell"),
        _js_np_udf(books, PQ_M, PQ_DIMS, "3term").alias("_js"),
    )
    [word] = _pack_js(F.col("_js"), PQ_M, 3)
    return pre.select("vec_id", "label", "cell", word.alias("pq_code"))


def embedding_pq_codes(emb: DataFrame, train_iters: int = 0) -> DataFrame:
    """(vec_id, label, pq_code): each vector's packed product-quantizer
    code — per subspace, the index (0..7, by CENTROID_IDS order) of the
    L2-nearest sub-centroid, packed little-endian at 3 bits/subspace.
    ``train_iters > 0`` first refines the sub-codebooks with that many
    exact-decimal Lloyd iterations (:func:`_pq_lloyd_codebooks`).

    Pure PROJECTION: sub-codebooks are inlined literals, each subspace's
    argmin is an expression fold over 8 candidate distances (ties ->
    lowest centroid id, same contract as the IVF cell assignment), and
    the pack is integer shifts. No shuffle at any scale — quantizing
    100 TB is one map pass (plus ``train_iters`` bounded-aggregate
    training passes)."""
    vecs = _vectors(emb)
    books = (
        _pq_codebooks(vecs)
        if train_iters == 0
        else _pq_lloyd_codebooks(vecs, train_iters)
    )
    return _pq_pack_codes(vecs, books)


def _pq_codes_cte(include_e: bool = True) -> str:
    """Shared oracle CTE chain producing codes(vec_id, label, pq_code):
    the relational twin of the projection — per (vec, subspace),
    row_number over (L2^2 ASC, cid ASC) picks the sub-centroid, SUM of
    shifted indexes packs the code. ``include_e=False`` drops the
    leading ``e`` CTE so the chain composes with another chain (the
    lloyd cells) that already defines it."""
    cid_list = ", ".join(str(c) for c in CENTROID_IDS)
    d = PQ_DIMS
    # per-subspace slices as a UNION-free lateral: unnest the subspace
    # index and slice with list indexing (DuckDB slices are 1-based
    # inclusive)
    e_cte = f"""
e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),"""
    return f"""{e_cte if include_e else ""}
subs AS (
  SELECT vec_id, label, s,
         v[s * {d} + 1 : s * {d} + {d}] AS vs
  FROM e, unnest(range({PQ_M})) AS r(s)
),
csubs AS (
  SELECT vec_id AS cid, s, v[s * {d} + 1 : s * {d} + {d}] AS cs
  FROM e, unnest(range({PQ_M})) AS r(s)
  WHERE vec_id IN ({cid_list})
),
scored AS (
  SELECT subs.vec_id, subs.label, subs.s, csubs.cid,
         row_number() OVER (
           PARTITION BY subs.vec_id, subs.s
           ORDER BY {_DOT_SQL.format(a='vs', b='vs')}
                    - 2 * {_DOT_SQL.format(a='vs', b='cs')}
                    + {_DOT_SQL.format(a='cs', b='cs')} ASC,
                    csubs.cid ASC
         ) AS rn
  FROM subs JOIN csubs ON subs.s = csubs.s
),
codes AS (
  SELECT vec_id,
         ANY_VALUE(label) AS label,
         CAST(SUM((cid - {min(CENTROID_IDS)}) << (3 * s)) AS BIGINT)
           AS pq_code
  FROM scored WHERE rn = 1
  GROUP BY vec_id
)"""


EMBEDDING_PQ_CODES_SQL = f"""
WITH {_pq_codes_cte().strip()}
SELECT vec_id, label, pq_code FROM codes
"""


def ann_pq_adc_topk(
    emb: DataFrame, query_id: int = 0, k: int = TOP_K, train_iters: int = 0
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance computation: the
    query's RAW vector builds a 8x8 lookup table (LUT[s][j] = exact
    L2^2 of the query's subspace s slice to sub-centroid j — 64 plan
    constants, computed driver-side with the same sequential dot the
    relational form evaluates), and every corpus vector's approximate
    distance is the sum of 8 LUT lookups indexed by its code — the scan
    touches ONLY the packed code column, never raw vectors.

    Returned distance is the raw ADC value (rounded at 6 decimals on
    both sides); ordering is (adc ASC, vec_id ASC). Recall is bounded
    by quantization distortion — this is the memory-bound scan path;
    compose with IVF cells for the full IVF-PQ shape. ``train_iters``
    selects Lloyd-trained sub-codebooks (codes AND the LUT use the same
    books — the quantizer and the query-side table must agree)."""
    vecs = _vectors(emb)
    books = (
        _pq_codebooks(vecs)
        if train_iters == 0
        else _pq_lloyd_codebooks(vecs, train_iters)
    )
    qv = _query_vec(vecs, query_id)
    lut = _pq_query_lut(qv, books, PQ_M, PQ_DIMS)
    codes = _pq_pack_codes(vecs, books)
    adc = _adc_expr(lut, PQ_M, bits=3)
    return (
        codes.where(F.col("vec_id") != query_id)
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def ann_pq_adc_topk_sql(query_id: int = 0, k: int = TOP_K) -> str:
    """Oracle twin: the same codes CTE, the LUT computed relationally
    (query slices x sub-centroids), ADC as a SUM over the 8 unpacked
    code indexes joined against the LUT."""
    d = PQ_DIMS
    return f"""
WITH {_pq_codes_cte().strip()},
lut AS (
  SELECT csubs.s,
         csubs.cid - {min(CENTROID_IDS)} AS j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='csubs.cs')}
           + {_DOT_SQL.format(a='csubs.cs', b='csubs.cs')} AS dist
  FROM csubs
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = csubs.s
),
unpacked AS (
  SELECT codes.vec_id, codes.label, r.s,
         (codes.pq_code >> (3 * r.s)) & 7 AS j
  FROM codes, unnest(range({PQ_M})) AS r(s)
  WHERE codes.vec_id != {query_id}
),
adcs AS (
  SELECT vec_id, ANY_VALUE(label) AS label, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
)
SELECT vec_id, label, {_ROUND6_SQL.format(x='adc')} AS adc
FROM adcs
ORDER BY adc ASC, vec_id ASC
LIMIT {k}
"""


def ann_ivfpq_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Full IVF-PQ: probe the query's ``nprobe`` nearest Lloyd-refined
    cells, rank candidates by PQ asymmetric distance — the standard
    billion-scale ANN architecture (FAISS IVFADC shape) with both
    state components deterministic and engine-stable.

    At 100 TB: the scan is doubly reduced — the cell filter prunes to
    ~nprobe/|cells| of the corpus, and what remains is scanned as
    packed CODES (one bigint/vector) against a 64-entry LUT of plan
    constants. Raw vectors are touched only to assign cells/codes (one
    projection pass each at ingest) and for the single query row."""
    vecs = _vectors(emb)
    _, cents = _lloyd_refined_cells(vecs, iters=iters)
    qv = _query_vec(vecs, query_id)
    probe_cells = _probe_cells(qv, cents, nprobe)
    books = _pq_codebooks(vecs)
    lut = _pq_query_lut(qv, books, PQ_M, PQ_DIMS)
    adc = _adc_expr(lut, PQ_M, bits=3)
    # r10: cell + code fused into one projection (_pq_cells_codes) —
    # the former cells x codes vec_id self-join re-scanned the corpus
    # and shuffled for columns that are row-local functions of v
    return (
        _pq_cells_codes(vecs, cents, books)
        .where(
            (F.col("vec_id") != query_id)
            & (F.col("cell").isin(*probe_cells))
        )
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivfpq_topk_sql(
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
) -> str:
    """Oracle twin: the lloyd cells chain + the PQ codes chain composed
    (one shared ``e``), probe cells from the final assignment ranking,
    LUT relational, ADC summed over unpacked code indexes."""
    ctes = _lloyd_cells_ctes(iters)
    ctes.append(
        "qcells AS (SELECT cid AS cell FROM scored_fin WHERE"
        f" vec_id = {query_id} AND rn <= {nprobe})"
    )
    body = ",\n".join(ctes) + ",\n" + _pq_codes_cte(include_e=False).strip()
    return f"""
WITH {body},
lut AS (
  SELECT csubs.s,
         csubs.cid - {min(CENTROID_IDS)} AS j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='csubs.cs')}
           + {_DOT_SQL.format(a='csubs.cs', b='csubs.cs')} AS dist
  FROM csubs
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = csubs.s
),
cands AS (
  SELECT cf.vec_id
  FROM cells_fin cf JOIN qcells USING (cell)
  WHERE cf.vec_id != {query_id}
),
unpacked AS (
  SELECT codes.vec_id, codes.label, r.s,
         (codes.pq_code >> (3 * r.s)) & 7 AS j
  FROM codes
  JOIN cands ON codes.vec_id = cands.vec_id,
  unnest(range({PQ_M})) AS r(s)
),
adcs AS (
  SELECT vec_id, ANY_VALUE(label) AS label, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
)
SELECT vec_id, label, {_ROUND6_SQL.format(x='adc')} AS adc
FROM adcs
ORDER BY adc ASC, vec_id ASC
LIMIT {k}
"""


def _pq_trained_ctes(iters: int) -> tuple[list[str], str]:
    """CTE chain for Lloyd-TRAINED PQ: returns (ctes, final_csubs_name).
    Each iteration is (assign subvectors to current sub-codebooks ->
    nano-unit exact means per (subspace, code, dim) -> next codebooks),
    the relational mirror of :func:`_pq_lloyd_codebooks`; the chain ends
    with ``codes`` built from the final codebooks."""
    cid_list = ", ".join(str(c) for c in CENTROID_IDS)
    d = PQ_DIMS
    ctes = [
        "e AS (\n"
        f"  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v"
        " FROM embeddings\n)",
        "subs AS (\n"
        "  SELECT vec_id, label, s,\n"
        f"         v[s * {d} + 1 : s * {d} + {d}] AS vs\n"
        f"  FROM e, unnest(range({PQ_M})) AS r(s)\n)",
        "csubs0 AS (\n"
        f"  SELECT s, vec_id AS cid, vec_id - {min(CENTROID_IDS)} AS j,\n"
        f"         v[s * {d} + 1 : s * {d} + {d}] AS cs\n"
        f"  FROM e, unnest(range({PQ_M})) AS r(s)\n"
        f"  WHERE vec_id IN ({cid_list})\n)",
    ]

    def dist(a: str, b: str) -> str:
        return (
            f"{_DOT_SQL.format(a=a, b=a)} - 2 * {_DOT_SQL.format(a=a, b=b)}"
            f" + {_DOT_SQL.format(a=b, b=b)}"
        )

    for i in range(iters):
        ctes.append(
            f"assign{i} AS (\n"
            "  SELECT subs.vec_id, subs.s, c.j, subs.vs,\n"
            "         row_number() OVER (\n"
            "           PARTITION BY subs.vec_id, subs.s\n"
            f"           ORDER BY {dist('subs.vs', 'c.cs')} ASC, c.j ASC\n"
            "         ) AS rn\n"
            f"  FROM subs JOIN csubs{i} c ON subs.s = c.s\n)"
        )
        ctes.append(
            f"pm{i} AS (\n"
            "  SELECT s, j,\n"
            "         unnest(range(len(vs))) AS dim,\n"
            f"         CAST(round(CAST(unnest(vs) AS DECIMAL(30,15)) *"
            f" {_NANO}, 0)\n"
            "              AS BIGINT) AS nv\n"
            f"  FROM assign{i} WHERE rn = 1\n)"
        )
        ctes.append(
            f"mn{i} AS (\n"
            "  SELECT s, j, dim,\n"
            "         CAST(CAST(SUM(CAST(nv AS HUGEINT)) AS HUGEINT)\n"
            "              // COUNT(*) AS BIGINT) AS m\n"
            f"  FROM pm{i} GROUP BY 1, 2, 3\n)"
        )
        ctes.append(
            f"csubs{i + 1} AS (\n"
            "  SELECT c.s, c.cid, c.j, COALESCE(mm.rv, c.cs) AS cs\n"
            f"  FROM csubs{i} c\n"
            "  LEFT JOIN (\n"
            "    SELECT s, j,\n"
            f"           array_agg(CAST(m AS DOUBLE) / {_NANO} ORDER BY"
            " dim) AS rv\n"
            f"    FROM mn{i} GROUP BY 1, 2\n"
            "  ) mm ON mm.s = c.s AND mm.j = c.j\n)"
        )
    fin = f"csubs{iters}"
    ctes.append(
        "codes AS (\n"
        "  SELECT a.vec_id, ANY_VALUE(subs.label) AS label,\n"
        "         CAST(SUM(a.j << (3 * a.s)) AS BIGINT) AS pq_code\n"
        "  FROM (\n"
        "    SELECT subs.vec_id, subs.s, c.j,\n"
        "           row_number() OVER (\n"
        "             PARTITION BY subs.vec_id, subs.s\n"
        f"             ORDER BY {dist('subs.vs', 'c.cs')} ASC, c.j ASC\n"
        "           ) AS rn\n"
        f"    FROM subs JOIN {fin} c ON subs.s = c.s\n"
        "  ) a\n"
        "  JOIN subs ON subs.vec_id = a.vec_id AND subs.s = a.s\n"
        "  WHERE a.rn = 1\n"
        "  GROUP BY a.vec_id\n)"
    )
    return ctes, fin


def ann_pq_adc_topk_lloyd_sql(
    query_id: int = 0, k: int = TOP_K, train_iters: int = 1
) -> str:
    """Oracle twin of the trained-codebook ADC scan: LUT from the FINAL
    codebooks relation, codes from the same — quantizer and query-side
    table agree by construction."""
    ctes, fin = _pq_trained_ctes(train_iters)
    body = ",\n".join(ctes)
    return f"""
WITH {body},
lut AS (
  SELECT c.s, c.j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='c.cs')}
           + {_DOT_SQL.format(a='c.cs', b='c.cs')} AS dist
  FROM {fin} c
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = c.s
),
unpacked AS (
  SELECT codes.vec_id, codes.label, r.s,
         (codes.pq_code >> (3 * r.s)) & 7 AS j
  FROM codes, unnest(range({PQ_M})) AS r(s)
  WHERE codes.vec_id != {query_id}
),
adcs AS (
  SELECT vec_id, ANY_VALUE(label) AS label, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
)
SELECT vec_id, label, {_ROUND6_SQL.format(x='adc')} AS adc
FROM adcs
ORDER BY adc ASC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# PQ8: product quantization with the FAISS-STANDARD 256-entry sub-codebooks
# (8 bits/subspace -> 8-byte codes at 64x compression). The 3-bit family
# above is the architecture demo; its measured recall@10 (0.07-0.13,
# SCALE.md) is what 8-entry codebooks buy. PQ8 is the production constant:
# k*=256 per subspace, the default of faiss.IndexPQ(d, 8, 8) — same
# machinery, two changes that matter at this size:
#
# 1. Codebooks are FLAT string literals split+cast to array<double>
#    (constant-folded by Catalyst; F.lit on the same 2048 values costs
#    ~1.8 s/subspace of py4j roundtrips, and eager DataFrame analysis of
#    a 16k-literal tree another ~2.7 s — both measured) and the
#    assignment argmin uses the MONOTONE form |cs|^2 - 2<vs,cs> (the
#    |vs|^2 term is constant across candidates, so dropping it preserves
#    the argmin) with |cs|^2 pre-computed driver-side — one interpreted
#    fold per candidate instead of three. The ORACLE ranks by the same
#    2-term expression with the same left-to-right accumulation, so
#    near-ties stay bit-identical across engines (the proven
#    Spark-fold == list_dot_product agreement).
# 2. Packing 8x 8-bit codes fills all 64 bits: subspace 7 can set the sign
#    bit. Spark's shiftleft/sum wraps two's-complement natively (disjoint
#    bit ranges make sum == bitwise OR); the oracle packs in HUGEINT and
#    applies the explicit wrap  p >= 2^63 ? p - 2^64 : p  so both engines
#    emit the same signed BIGINT.
#
# Training still fits the bounded-aggregation contract: one Lloyd
# iteration collects <= PQ_M x 256 x PQ_DIMS = 16384 exact nano-unit means
# — the codebook ITSELF (128 KB, the same artifact faiss.train ships to
# every query node), independent of corpus size.
# ---------------------------------------------------------------------------

#: PQ8 layout: 256 sub-centroids (8 bits) per subspace; seeds are corpus
#: vec_ids 1..256 (j = vec_id - 1), the same fixed-seed determinism as
#: CENTROID_IDS
PQ8_K = 256
PQ8_BITS = 8
PQ8_SEED_LO, PQ8_SEED_HI = 1, 256

_TWO63 = 9223372036854775808
_TWO64 = 18446744073709551616


def _pq8_books(
    vecs: DataFrame, m: int = PQ_M, d: int = PQ_DIMS
) -> dict[int, dict[int, list[float]]]:
    """books[s][j] = seed vector (j+1)'s dims [s*d, (s+1)*d) — bounded
    collect of 256 rows (the untrained codebook, a plan constant like
    the 8-row CENTROID_IDS collect). ``m`` subspaces of ``d`` dims
    (m*d = 64): (8, 8) is the PQ8 layout, (16, 4) the PQ16 one.
    Memoized per (corpus, m, d)."""

    def build() -> dict[int, dict[int, list[float]]]:
        rows = (
            vecs.where(F.col("vec_id").between(PQ8_SEED_LO, PQ8_SEED_HI))
            .select("vec_id", "v")
            .collect()
        )
        full = {
            r["vec_id"] - PQ8_SEED_LO: [float(x) for x in r["v"]]
            for r in rows
        }
        want = PQ8_SEED_HI - PQ8_SEED_LO + 1
        if len(full) != want:
            # loud contract failure instead of a downstream KeyError:
            # the deterministic seeding needs every id in the seed band
            # present (real corpora are >> 256 rows; a slice that cuts
            # into the band cannot train a full 256-entry codebook)
            raise ValueError(
                f"PQ seed band incomplete: corpus has {len(full)} of the"
                f" {want} seed vectors (vec_id {PQ8_SEED_LO}..{PQ8_SEED_HI})"
                " — PQ codebooks need the full band; train on the"
                " unfiltered corpus or re-seed"
            )
        return {
            s: {j: v[s * d : (s + 1) * d] for j, v in full.items()}
            for s in range(m)
        }

    return _memo_trained("pq8_books", vecs, (m, d), build)


def _pq8_sliced(
    vecs: DataFrame,
    m: int = PQ_M,
    d: int = PQ_DIMS,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Materialize the ``m`` subspace slices as real columns once — the
    argmin lambdas then reference attributes instead of re-slicing per
    candidate. Repartitioned to the session's parallelism AFTER the
    slice projection: quantization is pure map work, and the toy corpus
    files arrive as a single input split that would otherwise serialize
    2048 folds/row on one core (at real scale the input is already
    partitioned and the tiny exchange is noise). Order matters —
    ``repartition().select()`` lets the optimizer evaluate the
    downstream distance projection below the exchange, back on the one
    input partition (measured 10x slower); slicing first pins the
    exchange under the heavy projection."""
    n = vecs.sparkSession.sparkContext.defaultParallelism
    return vecs.select(
        "vec_id",
        "label",
        *keep,
        *[
            F.slice("v", s * d + 1, d).alias(f"_vs{s}")
            for s in range(m)
        ],
    ).repartition(n)


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
    variant folds into plan constants). Memoized per (corpus, id)."""

    def build() -> list[float]:
        qrow = (
            vecs.where(F.col("vec_id") == query_id).select("v").first()
        )
        return [float(x) for x in qrow["v"]]

    return _memo_trained("query_vec", vecs, (query_id,), build)


def _pq_query_lut(
    qv: list[float],
    books: dict[int, dict[int, list[float]]],
    m: int,
    d: int,
) -> list[list[float]]:
    """Per-subspace exact-L2^2 query lookup table: LUT[s][j] = |q_s|^2
    - 2<q_s, c_sj> + |c_sj|^2 over codebook entries in sorted-j order.
    The single home of the 3-term expansion — the VALUE must be the
    true quantized L2^2 (unlike the assignment argmin, where the query
    term cancels); every PQ/OPQ/IVF-PQ variant folds this table into
    plan constants via :func:`_adc_expr`."""
    lut = []
    for s in range(m):
        qs = qv[s * d : (s + 1) * d]
        qq = _seq_dot(qs, qs)
        lut.append(
            [
                qq
                - 2 * _seq_dot(qs, books[s][j])
                + _seq_dot(books[s][j], books[s][j])
                for j in sorted(books[s])
            ]
        )
    return lut


def _adc_expr(lut: list[list[float]], m: int, bits: int = 8) -> Column:
    """Asymmetric-distance column: ``m`` LUT lookups, each indexed by
    unpacking a ``bits``-wide field from the packed code word(s) in
    the `_pq_word_cols` layout (8 fields per bigint word; the 3-bit
    PQ_M=8 family occupies the low 24 bits of its single word). All
    LUT rows fold to array literals via `_dbl_arr_lit`, so the scan
    reads only the code column(s)."""
    cols = _pq_word_cols(m)
    mask = (1 << bits) - 1
    adc = F.lit(0.0)
    for s in range(m):
        idx = (
            F.shiftrightunsigned(F.col(cols[s // 8]), bits * (s % 8))
            .bitwiseAND(F.lit(mask))
            .cast("int")
        )
        adc = adc + F.element_at(_dbl_arr_lit(lut[s]), idx + 1)
    return adc


# ---------------------------------------------------------------------------
# Vectorized quantization kernels (r10, guide §4.2): the per-row argmin
# over a codebook and the per-row argmax over the coarse centroids used
# to run as interpreted array higher-order functions — measured at
# ~120 ms/row for the 16x256 PQ16 assignment (one 7.5 s 32-task Spark
# job per training pass over 2,000 sf0.1 vectors; see
# OPTIMIZATION_r10.md). These pandas UDFs hand whole Arrow batches to
# numpy and are BIT-IDENTICAL to the expression forms they replace:
#
# - every inner product accumulates STRICTLY left-to-right over the
#   feature axis (an explicit per-dimension `acc += v_i * c_i` loop,
#   vectorized across rows/codes — one rounded multiply and one rounded
#   add per step, the exact op sequence of the interpreted
#   `F.aggregate` fold and of DuckDB's list_dot_product);
# - the distance forms mirror each family's expression verbatim
#   (2-term `cn - 2*inner` for the 256-entry books, 3-term
#   `vv - 2*inner + cc` for the seed family, same parenthesization);
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
# and expression forms at sf0.001/0.01; the DuckDB oracle re-proves it
# per driver round on every ANN query.
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


def _js_np_udf(
    books: dict[int, dict[int, list[float]]],
    m: int,
    d: int,
    form: str,
) -> Column:
    """pandas_udf column: full vector ``v`` -> array<int> of the ``m``
    per-subspace 0-based nearest-code indexes (sorted-j codebook
    order). ``form`` mirrors the family's distance expression exactly:
    "2term" = ``cn[j] - 2*inner`` (:func:`_pq8_dists_col`), "3term" =
    ``vv - 2*inner + cc`` (:func:`_sub_dists`)."""
    mats = [
        np.array([books[s][j] for j in sorted(books[s])], dtype=np.float64)
        for s in range(m)
    ]
    # codebook self-dots with the same sequential fold the inlined
    # literals used (python floats, exact)
    cns = [
        np.array(
            [_seq_dot(books[s][j], books[s][j]) for j in sorted(books[s])],
            dtype=np.float64,
        )
        for s in range(m)
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


def _pack_js(js: Column, m: int, bits: int) -> list[Column]:
    """Pack the ``m`` code indexes into bigint word column(s) — the
    identical shift-sum the expression packers emit (Java << wraps,
    matching the oracle's HUGEINT unwrap)."""
    words: list[Column] = []
    # 64//bits codes per word unconditionally (r11 ADVICE): identical
    # words for both current callers (m=8/bits=3 -> 21/word >= m, and
    # bits=8 -> 8/word), and removes the silent all-m-fit-one-word
    # assumption a future bits=3, m>21 caller would corrupt on
    per = 64 // bits
    for w in range((m + per - 1) // per):
        word = F.lit(0).cast("bigint")
        for s in range(w * per, min((w + 1) * per, m)):
            word = word + F.shiftleft(
                F.element_at(js, s + 1).cast("bigint"), bits * (s - w * per)
            )
        words.append(word)
    return words


def _pq8_family_books(
    vecs: DataFrame, train_iters: int, m: int, d: int
) -> dict[int, dict[int, list[float]]]:
    """Seed (``train_iters == 0``) or Lloyd-trained 256-entry books for
    the 8-bit family — the codes and the query LUT must always share
    one book set, so variants obtain both from this single dispatch."""
    if train_iters == 0:
        return _pq8_books(vecs, m=m, d=d)
    return _pq8_lloyd_books(vecs, train_iters, m=m, d=d)


def _pq8_dists_col(s: int, books: dict) -> Column:
    """256-entry distance array of subspace ``s``: the monotone 2-term
    form |cs_j|^2 - 2<vs, cs_j> (the |vs|^2 term is constant across
    candidates, so dropping it preserves the argmin; the oracle ranks
    by the same 2-term expression). The codebook is a FLAT folded
    literal indexed as flat[j*d + dd]; the inner fold accumulates
    acc + vs[dd]*cs[dd] strictly left-to-right — the same op order as
    DuckDB's list_dot_product, so near-ties break identically."""
    js = sorted(books[s])
    d = len(books[s][js[0]])
    flat = _dbl_arr_lit([x for j in js for x in books[s][j]])
    cn = _dbl_arr_lit([_seq_dot(books[s][j], books[s][j]) for j in js])
    vs = F.col(f"_vs{s}")

    def dist(j: Column) -> Column:
        inner = F.aggregate(
            F.sequence(F.lit(1), F.lit(d)),
            F.lit(0.0),
            lambda acc, dd: acc
            + F.element_at(vs, dd.cast("int"))
            * F.element_at(flat, (j * d + dd).cast("int")),
        )
        return F.element_at(cn, (j + 1).cast("int")) - 2 * inner

    return F.transform(F.sequence(F.lit(0), F.lit(len(js) - 1)), dist)


def _pq8_with_dists(
    sliced: DataFrame, books: dict, keep: tuple[str, ...] = ()
) -> DataFrame:
    """One projection adding the per-subspace distance arrays — built
    once so downstream argmin consumers (pack AND training) reference
    columns instead of re-evaluating 2048 folds per use. A single
    select keeps eager analysis to one pass."""
    m = len(books)
    return sliced.select(
        "vec_id",
        "label",
        *keep,
        *[F.col(f"_vs{s}") for s in range(m)],
        *[_pq8_dists_col(s, books).alias(f"_d{s}") for s in range(m)],
    )


def _pq8_idx(s: int) -> Column:
    """0-based argmin over the ``_d{s}`` distance array (ties -> lowest
    j via array_position's first-match, matching the oracle's
    (dist ASC, j ASC) row_number)."""
    d = F.col(f"_d{s}")
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def _pq8_pack(vecs: DataFrame, books: dict) -> DataFrame:
    pre = vecs.select(
        "vec_id",
        "label",
        _js_np_udf(books, PQ_M, PQ_DIMS, "2term").alias("_js"),
    )
    [word] = _pack_js(F.col("_js"), PQ_M, PQ8_BITS)
    return pre.select("vec_id", "label", word.alias("pq_code"))


def _pq8_lloyd_books(
    vecs: DataFrame, iters: int = 1, m: int = PQ_M, d: int = PQ_DIMS
) -> dict[int, dict[int, list[float]]]:
    """Memoized front of :func:`_pq8_lloyd_books_impl` — the trained
    books are a deterministic function of (corpus, iters, m, d), so the
    Lloyd passes run once per process per corpus/params."""
    return _memo_trained(
        "pq8_lloyd_books",
        vecs,
        (iters, m, d),
        lambda: _pq8_lloyd_books_impl(vecs, iters, m, d),
    )


def _pq8_lloyd_books_impl(
    vecs: DataFrame, iters: int = 1, m: int = PQ_M, d: int = PQ_DIMS
) -> dict[int, dict[int, list[float]]]:
    """Exact-decimal Lloyd training of the 256-entry sub-codebooks —
    the same nano-unit integer-mean kernel as :func:`_pq_lloyd_codebooks`
    at the FAISS-standard codebook size. Per iteration: one assignment
    projection, one explode to (s, j, dim, nano), one bounded aggregate
    collected as <= m x 256 x d = 16384 rows (the codebook itself;
    corpus-size independent). A code that lost all members keeps its
    centroid."""
    books = _pq8_books(vecs, m=m, d=d)
    nano = F.expr(
        f"CAST(round(CAST(comp AS DECIMAL(30,15)) * {_NANO}, 0) AS BIGINT)"
    )
    for _ in range(iters):
        pre = vecs.select(
            "v", _js_np_udf(books, m, d, "2term").alias("_js")
        )
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
        books = {
            s: {
                j: (
                    [got[(s, j)][dd] / _NANO for dd in range(d)]
                    if (s, j) in got
                    else list(books[s][j])
                )
                for j in range(PQ8_K)
            }
            for s in range(m)
        }
    return books


def embedding_pq8_codes(emb: DataFrame, train_iters: int = 0) -> DataFrame:
    """(vec_id, label, pq_code): 8-bit-per-subspace product-quantizer
    codes — the FAISS-standard 256-entry sub-codebooks, one signed
    BIGINT per vector (8 bytes vs 512 raw: 64x). Pure projection (one
    folded flat-literal codebook per subspace, monotone 2-term argmin,
    shift pack); quantizing 100 TB is one map pass. ``train_iters > 0``
    first runs that many exact-decimal Lloyd iterations per subspace."""
    vecs = _vectors(emb)
    books = (
        _pq8_books(vecs)
        if train_iters == 0
        else _pq8_lloyd_books(vecs, train_iters)
    )
    return _pq8_pack(vecs, books)


def ann_pq8_adc_topk(
    emb: DataFrame, query_id: int = 0, k: int = TOP_K, train_iters: int = 0
) -> DataFrame:
    """Approximate top-k by 8-bit PQ asymmetric distance: the query's
    raw vector builds an 8x256 exact-L2 lookup table driver-side (2048
    plan constants — the same per-query artifact FAISS keeps in L1),
    and each corpus vector's distance is 8 LUT lookups indexed from its
    packed code. The scan reads ONLY the 8-byte code column. Distances
    use the full 3-term expansion (the VALUE must be the true quantized
    L2^2, unlike the assignment argmin where the query term cancels).
    ``train_iters`` selects Lloyd-trained books; codes and LUT always
    share one book set."""
    vecs = _vectors(emb)
    books = _pq8_family_books(vecs, train_iters, PQ_M, PQ_DIMS)
    qv = _query_vec(vecs, query_id)
    lut = _pq_query_lut(qv, books, PQ_M, PQ_DIMS)
    codes = _pq8_pack(vecs, books)
    adc = _adc_expr(lut, PQ_M)
    return (
        codes.where(F.col("vec_id") != query_id)
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def _pq8_dist2(a: str, b: str) -> str:
    """The monotone 2-term assignment distance, textually fixed so the
    oracle's op order matches the Spark lambda's exactly."""
    return f"{_DOT_SQL.format(a=b, b=b)} - 2 * {_DOT_SQL.format(a=a, b=b)}"


def _pq_word_cols(m: int) -> list[str]:
    """Packed-code column names: one signed bigint per 8 subspaces —
    ``pq_code`` for the 8-byte PQ8 layout, ``pq_lo``/``pq_hi`` for the
    16-byte PQ16 one."""
    words = (m + 7) // 8
    return ["pq_code"] if words == 1 else ["pq_lo", "pq_hi"]


def _pq8_ctes(
    train_iters: int,
    m: int = PQ_M,
    d: int = PQ_DIMS,
    include_e: bool = True,
    e_name: str = "e",
) -> tuple[list[str], str]:
    """Oracle CTE chain ending in ``codes`` (vec_id, label, <word
    cols>) + the final codebook relation name. csubs{i}(s, j, cs);
    packing goes through HUGEINT with the explicit two's-complement
    wrap, one output word per 8 subspaces (the mults relation carries
    (s, mult, w): multiplier 256^(s%8) into word s//8).
    ``include_e=False`` skips the leading ``e`` CTE so a caller can
    compose this chain behind its own ``e`` relation (the IVF-PQ16
    oracle shares the lloyd-cells chain's ``e``; the OPQ oracle feeds
    a permuted ``e``); ``e_name`` points the chain at a differently
    named vector relation (the residual-PQ oracle quantizes ``er``,
    the per-cell residuals, while the lloyd chain's ``e`` keeps the
    raw vectors)."""
    words = (m + 7) // 8
    wcols = _pq_word_cols(m)
    mult_rows = ", ".join(
        f"({s}, CAST({(1 << (PQ8_BITS * (s % 8)))} AS HUGEINT), {s // 8})"
        for s in range(m)
    )
    e_cte = (
        f"{e_name} AS (\n"
        f"  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v"
        " FROM embeddings\n)"
    )
    ctes = [
        *([e_cte] if include_e else []),
        f"mults AS (SELECT * FROM (VALUES {mult_rows}) AS t(s, mult, w))",
        "subs AS (\n"
        "  SELECT vec_id, label, s,\n"
        f"         v[s * {d} + 1 : s * {d} + {d}] AS vs\n"
        f"  FROM {e_name}, unnest(range({m})) AS r(s)\n)",
        "csubs0 AS (\n"
        f"  SELECT s, vec_id - {PQ8_SEED_LO} AS j,\n"
        f"         v[s * {d} + 1 : s * {d} + {d}] AS cs\n"
        f"  FROM {e_name}, unnest(range({m})) AS r(s)\n"
        f"  WHERE vec_id BETWEEN {PQ8_SEED_LO} AND {PQ8_SEED_HI}\n)",
    ]
    for i in range(train_iters):
        ctes.append(
            f"assign{i} AS (\n"
            "  SELECT subs.vec_id, subs.s, c.j, subs.vs,\n"
            "         row_number() OVER (\n"
            "           PARTITION BY subs.vec_id, subs.s\n"
            f"           ORDER BY {_pq8_dist2('subs.vs', 'c.cs')} ASC,"
            " c.j ASC\n"
            "         ) AS rn\n"
            f"  FROM subs JOIN csubs{i} c ON subs.s = c.s\n)"
        )
        ctes.append(
            f"pm{i} AS (\n"
            "  SELECT s, j,\n"
            "         unnest(range(len(vs))) AS dim,\n"
            f"         CAST(round(CAST(unnest(vs) AS DECIMAL(30,15)) *"
            f" {_NANO}, 0)\n"
            "              AS BIGINT) AS nv\n"
            f"  FROM assign{i} WHERE rn = 1\n)"
        )
        ctes.append(
            f"mn{i} AS (\n"
            "  SELECT s, j, dim,\n"
            "         CAST(CAST(SUM(CAST(nv AS HUGEINT)) AS HUGEINT)\n"
            "              // COUNT(*) AS BIGINT) AS m\n"
            f"  FROM pm{i} GROUP BY 1, 2, 3\n)"
        )
        ctes.append(
            f"csubs{i + 1} AS (\n"
            "  SELECT c.s, c.j, COALESCE(mm.rv, c.cs) AS cs\n"
            f"  FROM csubs{i} c\n"
            "  LEFT JOIN (\n"
            "    SELECT s, j,\n"
            f"           array_agg(CAST(m AS DOUBLE) / {_NANO} ORDER BY"
            " dim) AS rv\n"
            f"    FROM mn{i} GROUP BY 1, 2\n"
            "  ) mm ON mm.s = c.s AND mm.j = c.j\n)"
        )
    fin = f"csubs{train_iters}"
    word_sums = ",\n".join(
        f"         SUM(CASE WHEN m.w = {w} THEN CAST(a.j AS HUGEINT)"
        f" * m.mult ELSE CAST(0 AS HUGEINT) END) AS p{w}"
        for w in range(words)
    )
    ctes.append(
        "packed AS (\n"
        "  SELECT a.vec_id,\n"
        f"{word_sums}\n"
        "  FROM (\n"
        "    SELECT subs.vec_id, subs.s, c.j,\n"
        "           row_number() OVER (\n"
        "             PARTITION BY subs.vec_id, subs.s\n"
        f"             ORDER BY {_pq8_dist2('subs.vs', 'c.cs')} ASC,"
        " c.j ASC\n"
        "           ) AS rn\n"
        f"    FROM subs JOIN {fin} c ON subs.s = c.s\n"
        "  ) a JOIN mults m ON a.s = m.s\n"
        "  WHERE a.rn = 1\n"
        "  GROUP BY a.vec_id\n)"
    )
    word_wraps = ",\n".join(
        f"         CAST(CASE WHEN p{w} >= {_TWO63} THEN p{w} - {_TWO64}\n"
        f"              ELSE p{w} END AS BIGINT) AS {wcols[w]}"
        for w in range(words)
    )
    ctes.append(
        "codes AS (\n"
        f"  SELECT {e_name}.vec_id, {e_name}.label,\n"
        f"{word_wraps}\n"
        f"  FROM packed JOIN {e_name} ON {e_name}.vec_id ="
        " packed.vec_id\n)"
    )
    return ctes, fin


def embedding_pq8_codes_sql(
    train_iters: int = 0,
    m: int = PQ_M,
    d: int = PQ_DIMS,
    pre_ctes: list[str] | None = None,
) -> str:
    ctes, _ = _pq8_ctes(train_iters, m=m, d=d, include_e=pre_ctes is None)
    ctes = list(pre_ctes or []) + ctes
    body = ",\n".join(ctes)
    cols = ", ".join(_pq_word_cols(m))
    return f"""
WITH {body}
SELECT vec_id, label, {cols} FROM codes
"""


def ann_pq8_adc_topk_sql(
    query_id: int = 0,
    k: int = TOP_K,
    train_iters: int = 0,
    m: int = PQ_M,
    d: int = PQ_DIMS,
    pre_ctes: list[str] | None = None,
) -> str:
    """Oracle twin: codes + LUT from the same final codebook relation;
    code words unpacked through the HUGEINT un-wrap, 3-term LUT
    distances. ``pre_ctes`` supplies a caller-built ``e`` relation
    (the OPQ oracle's permuted vectors) in place of the default scan."""
    ctes, fin = _pq8_ctes(train_iters, m=m, d=d, include_e=pre_ctes is None)
    ctes = list(pre_ctes or []) + ctes
    body = ",\n".join(ctes)
    wcols = _pq_word_cols(m)
    unwraps = ",\n".join(
        f"         CASE WHEN {c} < 0 THEN CAST({c} AS HUGEINT) + {_TWO64}"
        f"\n              ELSE CAST({c} AS HUGEINT) END AS up{w}"
        for w, c in enumerate(wcols)
    )
    word_pick = (
        "u.up0"
        if len(wcols) == 1
        else "CASE m.w WHEN 0 THEN u.up0 ELSE u.up1 END"
    )
    return f"""
WITH {body},
lut AS (
  SELECT c.s, c.j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='c.cs')}
           + {_DOT_SQL.format(a='c.cs', b='c.cs')} AS dist
  FROM {fin} c
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = c.s
),
unwrapped AS (
  SELECT vec_id, label,
{unwraps}
  FROM codes WHERE vec_id != {query_id}
),
unpacked AS (
  SELECT u.vec_id, u.label, m.s,
         CAST((({word_pick}) // m.mult) % {PQ8_K} AS BIGINT) AS j
  FROM unwrapped u CROSS JOIN mults m
),
adcs AS (
  SELECT vec_id, ANY_VALUE(label) AS label, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
)
SELECT vec_id, label, {_ROUND6_SQL.format(x='adc')} AS adc
FROM adcs
ORDER BY adc ASC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# PQ16: 16 subspaces x 4 dims x 8 bits = 16-byte codes (32x compression).
# More, narrower subspaces cut per-subspace quantization distortion — the
# standard FAISS recall knob once k*=256 is maxed. Measured at sf0.1
# (SCALE.md): recall@10 0.513 untrained / 0.580 Lloyd-trained — above the
# IVF multiprobe family at a scan that reads 16 bytes/vector. Same
# machinery as PQ8 with (m, d) = (16, 4); the code spans TWO signed
# bigints (subspaces 0-7 -> pq_lo, 8-15 -> pq_hi).
# ---------------------------------------------------------------------------

PQ16_M = 16
PQ16_DIMS = 4


def _pq16_pack(
    vecs: DataFrame, books: dict, keep: tuple[str, ...] = ()
) -> DataFrame:
    pre = vecs.select(
        "vec_id",
        "label",
        *keep,
        _js_np_udf(books, PQ16_M, PQ16_DIMS, "2term").alias("_js"),
    )
    lo, hi = _pack_js(F.col("_js"), PQ16_M, PQ8_BITS)
    return pre.select(
        "vec_id", "label", *keep, lo.alias("pq_lo"), hi.alias("pq_hi")
    )


def _pq16_cells_codes(
    vecs: DataFrame,
    cents: dict[int, list[float]],
    books: dict[int, dict[int, list[float]]],
) -> DataFrame:
    """(vec_id, label, cell, pq_lo, pq_hi) in ONE projection over one
    corpus scan — the fused replacement for
    ``cells.select("vec_id","cell").join(codes, "vec_id")`` in the
    IVF-PQ16 variants. Cell and code words are both pure per-row
    functions of ``v``, so the vec_id self-join of two projections of
    the SAME relation bought nothing and cost a second full scan plus a
    join exchange (guide §2.4: remove shuffles outright). Values are
    identical by construction: :func:`_cell_expr` and the
    `_pq8_idx`-packed words are the exact expressions the unfused
    ``_with_cells`` / ``_pq16_pack`` emit. A downstream probe-cell
    filter substitutes through the projection, so the 16x256 distance
    arrays are evaluated only for rows that survive the cell cut."""
    pre = vecs.select(
        "vec_id",
        "label",
        _cell_np_udf(cents).alias("cell"),
        _js_np_udf(books, PQ16_M, PQ16_DIMS, "2term").alias("_js"),
    )
    lo, hi = _pack_js(F.col("_js"), PQ16_M, PQ8_BITS)
    return pre.select(
        "vec_id",
        "label",
        "cell",
        lo.alias("pq_lo"),
        hi.alias("pq_hi"),
    )


def embedding_pq16_codes(emb: DataFrame, train_iters: int = 0) -> DataFrame:
    """(vec_id, label, pq_lo, pq_hi): 16-subspace product-quantizer
    codes — 16 bytes/vector at 32x compression, the recall-over-memory
    point of the PQ family (4-dim subspaces quantize far tighter than
    8-dim ones at the same 256-entry codebooks). Same single-map-pass
    plan as PQ8; two packed words because 16 x 8 bits outgrows one
    bigint."""
    vecs = _vectors(emb)
    books = (
        _pq8_books(vecs, m=PQ16_M, d=PQ16_DIMS)
        if train_iters == 0
        else _pq8_lloyd_books(vecs, train_iters, m=PQ16_M, d=PQ16_DIMS)
    )
    return _pq16_pack(vecs, books)


def ann_pq16_adc_topk(
    emb: DataFrame, query_id: int = 0, k: int = TOP_K, train_iters: int = 0
) -> DataFrame:
    """16-subspace PQ asymmetric-distance top-k: a 16x256 exact-L2 LUT
    (4096 folded plan constants), 16 lookups per vector unpacked from
    the two code words. The highest-recall memory-bound scan in the
    family (SCALE.md table)."""
    vecs = _vectors(emb)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    qv = _query_vec(vecs, query_id)
    lut = _pq_query_lut(qv, books, PQ16_M, PQ16_DIMS)
    codes = _pq16_pack(vecs, books)
    adc = _adc_expr(lut, PQ16_M)
    return (
        codes.where(F.col("vec_id") != query_id)
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def embedding_pq16_codes_sql(train_iters: int = 0) -> str:
    return embedding_pq8_codes_sql(train_iters, m=PQ16_M, d=PQ16_DIMS)


def ann_pq16_adc_topk_sql(
    query_id: int = 0, k: int = TOP_K, train_iters: int = 0
) -> str:
    return ann_pq8_adc_topk_sql(
        query_id, k, train_iters, m=PQ16_M, d=PQ16_DIMS
    )


# ---------------------------------------------------------------------------
# OPQ-lite: balanced-energy dimension permutation before PQ16. Product
# quantization quantizes each subspace independently, so recall suffers when
# a few subspaces hold most of the corpus energy (their 256 entries must
# cover a wider spread). OPQ (Ge et al., CVPR 2013, "Optimized Product
# Quantization") fixes this with a learned rotation; its non-parametric
# initializer — eigenvalue allocation, balancing per-subspace variance by
# REORDERING dimensions — captures most of the gain for near-independent
# dims and is a pure permutation, which keeps everything deterministic and
# oracle-expressible. The permutation snake-deals the energy-ranked dims
# across the 16 subspaces (each gets one dim from each energy quartile);
# energies are exact nano-unit integer sums, so both engines derive the
# identical permutation. At 100 TB: the permutation is 64 plan constants
# from one bounded aggregate; applying it is free inside the existing
# one-map-pass quantization projection.
# ---------------------------------------------------------------------------


def _opq_perm(
    vecs: DataFrame, m: int = PQ16_M, d: int = PQ16_DIMS
) -> list[int]:
    """perm[newpos] = source dim. Dims are ranked by total corpus energy
    (exact integer sum of squared nano-unit components — DECIMAL(38,0)
    sums on the Spark side, HUGEINT on the oracle's, both overflow-free
    and bit-identical) and snake-dealt across the ``m`` subspaces: rank
    r lands in subspace (m-1 - r%m if (r//m) odd else r%m), slot r//m.
    One bounded aggregate; the collect is exactly |dims| = 64 rows.
    Memoized per (corpus, m, d)."""
    return _memo_trained(
        "opq_perm", vecs, (m, d), lambda: _opq_perm_impl(vecs, m, d)
    )


def _opq_perm_impl(vecs: DataFrame, m: int, d: int) -> list[int]:
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


def _opq_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, label, v) with v permuted by the balanced-energy
    permutation — a pure projection over 64 plan-constant indexes."""
    vecs = _vectors(emb)
    perm = _opq_perm(vecs)
    rv = F.array(*[F.element_at(F.col("v"), p + 1) for p in perm])
    return vecs.select("vec_id", "label", rv.alias("v"))


def _opq_e_ctes(m: int = PQ16_M, d: int = PQ16_DIMS) -> list[str]:
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


def embedding_opq16_codes(emb: DataFrame, train_iters: int = 1) -> DataFrame:
    """PQ16 codes over balanced-energy-permuted vectors — the OPQ-init
    quantizer. Identical storage shape to :func:`embedding_pq16_codes`
    (two packed bigints, 32x compression); the permutation costs one
    bounded aggregate at train time and nothing at scan time."""
    vecs = _opq_vectors(emb)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    return _pq16_pack(vecs, books)


def ann_opq16_adc_topk(
    emb: DataFrame, query_id: int = 0, k: int = TOP_K, train_iters: int = 1
) -> DataFrame:
    """16-subspace PQ ADC top-k over the balanced-energy permutation:
    the query vector passes through the same 64-constant permutation
    projection, so LUT subspaces line up with the permuted codes. Same
    16-lookup scan as :func:`ann_pq16_adc_topk`."""
    vecs = _opq_vectors(emb)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    qv = _query_vec(vecs, query_id)
    lut = _pq_query_lut(qv, books, PQ16_M, PQ16_DIMS)
    codes = _pq16_pack(vecs, books)
    adc = _adc_expr(lut, PQ16_M)
    return (
        codes.where(F.col("vec_id") != query_id)
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def embedding_opq16_codes_sql(train_iters: int = 1) -> str:
    return embedding_pq8_codes_sql(
        train_iters, m=PQ16_M, d=PQ16_DIMS, pre_ctes=_opq_e_ctes()
    )


def ann_opq16_adc_topk_sql(
    query_id: int = 0, k: int = TOP_K, train_iters: int = 1
) -> str:
    return ann_pq8_adc_topk_sql(
        query_id, k, train_iters, m=PQ16_M, d=PQ16_DIMS,
        pre_ctes=_opq_e_ctes(),
    )


def ann_pq16_rerank_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    shortlist: int = 64,
    train_iters: int = 1,
) -> DataFrame:
    """Two-stage retrieval, the production serving pattern: a 16-byte
    ADC scan shortlists ``shortlist`` candidates, then ONLY those rows'
    raw vectors are fetched for an exact-L2 rerank to the final top-k.
    Recall ~= the probability the true top-k survives a 6.4x-larger ADC
    cut — near-exact at a scan that still reads 16 bytes/vector
    (measured in SCALE.md); the raw 512-byte vectors are touched for
    just |shortlist| rows (at scale: a key-lookup fetch, not a scan).

    Determinism: the shortlist ranks by ROUND6(adc) with vec_id
    tiebreak — sub-1e-6 engine float-noise collapses before the cut, so
    both engines admit the identical candidate set; the exact stage
    uses the sequential-fold dot (== DuckDB list_dot_product op order),
    the proven bit-identical kernel."""
    vecs = _vectors(emb)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    qv = _query_vec(vecs, query_id)
    lut = _pq_query_lut(qv, books, PQ16_M, PQ16_DIMS)
    codes = _pq16_pack(vecs, books)
    adc = _adc_expr(lut, PQ16_M)
    short = (
        codes.where(F.col("vec_id") != query_id)
        .select("vec_id", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    qlit = _dbl_arr_lit(qv)
    qq_full = _seq_dot(qv, qv)
    l2 = F.lit(qq_full) - 2 * dot(qlit, F.col("v")) + dot(
        F.col("v"), F.col("v")
    )
    return (
        vecs.join(F.broadcast(short.select("vec_id")), "vec_id")
        .select("vec_id", "label", _round6(l2).alias("l2"))
        .orderBy(F.asc("l2"), F.asc("vec_id"))
        .limit(k)
    )


def ann_pq16_rerank_topk_sql(
    query_id: int = 0,
    k: int = TOP_K,
    shortlist: int = 64,
    train_iters: int = 1,
) -> str:
    """Oracle twin: the PQ16 codes/LUT chain, rounded-ADC shortlist,
    exact 3-term L2 rerank over the shortlist join."""
    ctes, fin = _pq8_ctes(train_iters, m=PQ16_M, d=PQ16_DIMS)
    body = ",\n".join(ctes)
    wcols = _pq_word_cols(PQ16_M)
    unwraps = ",\n".join(
        f"         CASE WHEN {c} < 0 THEN CAST({c} AS HUGEINT) + {_TWO64}"
        f"\n              ELSE CAST({c} AS HUGEINT) END AS up{w}"
        for w, c in enumerate(wcols)
    )
    return f"""
WITH {body},
lut AS (
  SELECT c.s, c.j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='c.cs')}
           + {_DOT_SQL.format(a='c.cs', b='c.cs')} AS dist
  FROM {fin} c
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = c.s
),
unwrapped AS (
  SELECT vec_id, label,
{unwraps}
  FROM codes WHERE vec_id != {query_id}
),
unpacked AS (
  SELECT u.vec_id, m.s,
         CAST(((CASE m.w WHEN 0 THEN u.up0 ELSE u.up1 END) // m.mult)
              % {PQ8_K} AS BIGINT) AS j
  FROM unwrapped u CROSS JOIN mults m
),
adcs AS (
  SELECT vec_id, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
),
short AS (
  SELECT vec_id, {_ROUND6_SQL.format(x='adc')} AS adc
  FROM adcs
  ORDER BY {_ROUND6_SQL.format(x='adc')} ASC, vec_id ASC
  LIMIT {shortlist}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})
SELECT e.vec_id, e.label,
       {_ROUND6_SQL.format(
           x=_DOT_SQL.format(a='qv', b='qv')
           + ' - 2 * ' + _DOT_SQL.format(a='qv', b='e.v')
           + ' + ' + _DOT_SQL.format(a='e.v', b='e.v')
       )} AS l2
FROM e JOIN short ON e.vec_id = short.vec_id, q
ORDER BY l2 ASC, e.vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# IVF-PQ16: the production composition — Lloyd-refined IVF cells prune the
# corpus to ~nprobe/|cells|, and the survivors are ranked by 16-subspace
# 256-entry trained-PQ asymmetric distance over 16-byte packed codes. This
# is faiss.IndexIVFPQ(quantizer, d, nlist, 16, 8), determinized: at 100 TB
# the scan cost is (nprobe/|cells|) x 16 bytes/vector — both index
# structures are one ingest-time projection pass each, and the per-query
# state (probe list + 16x256 LUT) is plan constants.
# ---------------------------------------------------------------------------


def ann_ivfpq16_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
    train_iters: int = 1,
) -> DataFrame:
    """Full IVF-PQ at production codebook size: probe the query's
    ``nprobe`` nearest Lloyd-refined cells, rank candidates by
    16-subspace trained-PQ asymmetric distance (16x256 exact-L2 LUT, 16
    lookups per vector from the two packed code words). Both trained
    states are the exact-decimal deterministic kernels the standalone
    variants prove (`_lloyd_refined_cells`, `_pq8_lloyd_books`), so the
    composition stays engine-stable end to end."""
    vecs = _vectors(emb)
    _, cents = _lloyd_refined_cells(vecs, iters=iters)
    qv = _query_vec(vecs, query_id)
    probe_cells = _probe_cells(qv, cents, nprobe)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    lut = _pq_query_lut(qv, books, PQ16_M, PQ16_DIMS)
    adc = _adc_expr(lut, PQ16_M)
    # r10: cell + code words fused into one projection
    # (_pq16_cells_codes) — see its docstring; the probe-cell filter
    # substitutes through the projection so PQ distance arrays are
    # evaluated only for probed-cell rows
    return (
        _pq16_cells_codes(vecs, cents, books)
        .where(
            (F.col("vec_id") != query_id)
            & (F.col("cell").isin(*probe_cells))
        )
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivfpq16_topk_sql(
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
    train_iters: int = 1,
) -> str:
    """Oracle twin: the lloyd-cells chain and the PQ16 trained-codes
    chain composed behind one shared ``e``; probe cells from the final
    cell assignment ranking, candidates = probed cells_fin members,
    ADC summed over HUGEINT-unwrapped code indexes against the
    relational LUT."""
    ctes = _lloyd_cells_ctes(iters)
    ctes.append(
        "qcells AS (SELECT cid AS cell FROM scored_fin WHERE"
        f" vec_id = {query_id} AND rn <= {nprobe})"
    )
    pq_ctes, fin = _pq8_ctes(
        train_iters, m=PQ16_M, d=PQ16_DIMS, include_e=False
    )
    ctes.extend(pq_ctes)
    wcols = _pq_word_cols(PQ16_M)
    unwraps = ",\n".join(
        f"         CASE WHEN {c} < 0 THEN CAST({c} AS HUGEINT) + {_TWO64}"
        f"\n              ELSE CAST({c} AS HUGEINT) END AS up{w}"
        for w, c in enumerate(wcols)
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
lut AS (
  SELECT c.s, c.j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='c.cs')}
           + {_DOT_SQL.format(a='c.cs', b='c.cs')} AS dist
  FROM {fin} c
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = c.s
),
cands AS (
  SELECT cf.vec_id
  FROM cells_fin cf JOIN qcells USING (cell)
  WHERE cf.vec_id != {query_id}
),
unwrapped AS (
  SELECT codes.vec_id, codes.label,
{unwraps}
  FROM codes JOIN cands ON codes.vec_id = cands.vec_id
),
unpacked AS (
  SELECT u.vec_id, u.label, m.s,
         CAST(((CASE m.w WHEN 0 THEN u.up0 ELSE u.up1 END) // m.mult)
              % {PQ8_K} AS BIGINT) AS j
  FROM unwrapped u CROSS JOIN mults m
),
adcs AS (
  SELECT vec_id, ANY_VALUE(label) AS label, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
)
SELECT vec_id, label, {_ROUND6_SQL.format(x='adc')} AS adc
FROM adcs
ORDER BY adc ASC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# IVF-PQ16 + exact rerank: the complete production retrieval stack —
# cell pruning cuts the scan to ~nprobe/|cells| of the corpus, the
# 16-byte ADC ranks the survivors, and only a bounded shortlist of raw
# vectors is fetched for the exact final order. This is the
# faiss IndexIVFPQ + refine/reconstruct serving pattern: at 100 TB the
# per-query cost is (nprobe/|cells|) x 16 bytes/vector scanned plus
# |shortlist| key-lookups — no stage touches the full raw-vector
# column.
# ---------------------------------------------------------------------------


def ann_ivfpq16_rerank_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
    shortlist: int = 64,
    train_iters: int = 1,
) -> DataFrame:
    """Three-stage retrieval: probe the query's ``nprobe`` Lloyd cells,
    shortlist ``shortlist`` candidates by trained-PQ16 asymmetric
    distance (ranked on ROUND6(adc) with vec_id tiebreak so sub-1e-6
    float noise collapses before the cut — both engines admit the
    identical candidate set), then exact-L2 rerank ONLY the shortlist
    rows' raw vectors. Composes the three individually-proven kernels
    (`_lloyd_refined_cells`, `_pq8_lloyd_books`, the sequential-fold
    dot) without new state."""
    vecs = _vectors(emb)
    _, cents = _lloyd_refined_cells(vecs, iters=iters)
    qv = _query_vec(vecs, query_id)
    probe_cells = _probe_cells(qv, cents, nprobe)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    lut = _pq_query_lut(qv, books, PQ16_M, PQ16_DIMS)
    adc = _adc_expr(lut, PQ16_M)
    # r10: cells x codes self-join fused into one projection
    # (_pq16_cells_codes, see its docstring)
    short = (
        _pq16_cells_codes(vecs, cents, books)
        .where(
            (F.col("vec_id") != query_id)
            & (F.col("cell").isin(*probe_cells))
        )
        .select("vec_id", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    qlit = _dbl_arr_lit(qv)
    qq_full = _seq_dot(qv, qv)
    l2 = F.lit(qq_full) - 2 * dot(qlit, F.col("v")) + dot(
        F.col("v"), F.col("v")
    )
    return (
        vecs.join(F.broadcast(short.select("vec_id")), "vec_id")
        .select("vec_id", "label", _round6(l2).alias("l2"))
        .orderBy(F.asc("l2"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivfpq16_rerank_topk_sql(
    query_id: int = 0,
    k: int = TOP_K,
    iters: int = 1,
    nprobe: int = IVF_NPROBE,
    shortlist: int = 64,
    train_iters: int = 1,
) -> str:
    """Oracle twin: lloyd-cells + trained-PQ16 chains behind one shared
    ``e``, probe-cell candidate cut, rounded-ADC shortlist, exact
    3-term L2 rerank over the shortlist join."""
    ctes = _lloyd_cells_ctes(iters)
    ctes.append(
        "qcells AS (SELECT cid AS cell FROM scored_fin WHERE"
        f" vec_id = {query_id} AND rn <= {nprobe})"
    )
    pq_ctes, fin = _pq8_ctes(
        train_iters, m=PQ16_M, d=PQ16_DIMS, include_e=False
    )
    ctes.extend(pq_ctes)
    wcols = _pq_word_cols(PQ16_M)
    unwraps = ",\n".join(
        f"         CASE WHEN {c} < 0 THEN CAST({c} AS HUGEINT) + {_TWO64}"
        f"\n              ELSE CAST({c} AS HUGEINT) END AS up{w}"
        for w, c in enumerate(wcols)
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
lut AS (
  SELECT c.s, c.j,
         {_DOT_SQL.format(a='qs.vs', b='qs.vs')}
           - 2 * {_DOT_SQL.format(a='qs.vs', b='c.cs')}
           + {_DOT_SQL.format(a='c.cs', b='c.cs')} AS dist
  FROM {fin} c
  JOIN (SELECT s, vs FROM subs WHERE vec_id = {query_id}) qs
    ON qs.s = c.s
),
cands AS (
  SELECT cf.vec_id
  FROM cells_fin cf JOIN qcells USING (cell)
  WHERE cf.vec_id != {query_id}
),
unwrapped AS (
  SELECT codes.vec_id,
{unwraps}
  FROM codes JOIN cands ON codes.vec_id = cands.vec_id
),
unpacked AS (
  SELECT u.vec_id, m.s,
         CAST(((CASE m.w WHEN 0 THEN u.up0 ELSE u.up1 END) // m.mult)
              % {PQ8_K} AS BIGINT) AS j
  FROM unwrapped u CROSS JOIN mults m
),
adcs AS (
  SELECT vec_id, SUM(lut.dist) AS adc
  FROM unpacked JOIN lut ON unpacked.s = lut.s AND unpacked.j = lut.j
  GROUP BY vec_id
),
short AS (
  SELECT vec_id, {_ROUND6_SQL.format(x='adc')} AS adc
  FROM adcs
  ORDER BY {_ROUND6_SQL.format(x='adc')} ASC, vec_id ASC
  LIMIT {shortlist}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})
SELECT e.vec_id, e.label,
       {_ROUND6_SQL.format(
           x=_DOT_SQL.format(a='qv', b='qv')
           + ' - 2 * ' + _DOT_SQL.format(a='qv', b='e.v')
           + ' + ' + _DOT_SQL.format(a='e.v', b='e.v')
       )} AS l2
FROM e JOIN short ON e.vec_id = short.vec_id, q
ORDER BY l2 ASC, e.vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): k-means
# cells bucket the corpus, exact cosine is computed ONLY within a cell,
# and each ε-duplicate pair keeps its lowest-id member — embedding-space
# near-dup removal for training corpora, the semantic companion to the
# lexical MinHash chain. At 100 TB the pair relation is bounded per cell
# (sum of |cell|² over cells, never corpus²), the cell assignment is one
# map pass, and the greedy min-id rule needs no iterative CC: one
# bucketed self-join + one anti-join.
# ---------------------------------------------------------------------------


#: SemDeDup cell sizing: the paper's regime holds the EXPECTED CELL
#: POPULATION constant as the corpus grows (Abbas et al. 2023 use tens
#: of thousands of clusters for hundreds of millions of embeddings), so
#: per-cell pair work (sum |cell|^2) stays bounded. k must scale as
#: n/target_cell_size — a FIXED k at a growing n makes the self-join
#: quadratic again.
SEMDEDUP_TARGET_CELL_SIZE = 64


def semdedup_cell_count(
    n_rows: int, target_cell_size: int = SEMDEDUP_TARGET_CELL_SIZE
) -> int:
    """k ~= ceil(n / target_cell_size), floored at 2: the cell count
    that keeps expected per-cell pair work at ~target_cell_size^2/2
    regardless of corpus size. The fixture default (500 rows, target
    64) lands on the historical k=8."""
    return max(2, -(-n_rows // target_cell_size))


def _semdedup_cells(emb: DataFrame, k: int | None) -> DataFrame:
    """Cell assignment for the SemDeDup family: the default
    CENTROID_IDS seeds (k=None -> 8 cells, the fixture regime) or the
    first ``k`` vec_ids as seeds. The assignment stays a pure
    projection; only the number of folded centroid literals grows."""
    vecs = _vectors(emb)
    if k is None:
        return _with_cells(vecs)
    return _with_cells(
        vecs, cents=_seed_centroids(vecs, ids=tuple(range(1, k + 1)))
    )


def semdedup_keep(
    emb: DataFrame,
    tau: float = COSINE_NEARDUP_THRESHOLD,
    k: int | None = None,
) -> DataFrame:
    """Kept rows (vec_id, label, cell) after semantic dedup: a row is
    DROPPED iff some lower-id row in the SAME centroid cell has
    round6(cosine) >= ``tau`` (SemDeDup's within-cluster ε-rule with
    the deterministic keep-lowest-id tiebreak). Rounding before the
    threshold keeps the boundary pair set engine-identical.

    ``k`` sizes the cell count (None -> the 8-cell fixture default);
    production sizing is :func:`semdedup_cell_count` — k grows with
    the corpus so per-cell pair volume stays bounded."""
    cells = _semdedup_cells(emb, k)
    wn = _with_norm(cells)
    a = wn.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("norm").alias("na"), "cell",
    )
    b = wn.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"), F.col("cell").alias("cell_b"),
    )
    dropped = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .where(
            _round6(
                _dot_udf(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            )
            >= tau
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return cells.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "label", "cell"
    )


def _seed_cells_ctes(k: int | None = None) -> str:
    """The e/cents/scored/cells CTE chain assigning every vector to its
    max-cosine seed-centroid cell (ties -> lowest cid), shared by the
    SemDeDup oracles; mirrors ann_ivf_topk_sql's assignment exactly.
    ``k`` sizes the seed set like :func:`_semdedup_cells`."""
    ids = CENTROID_IDS if k is None else tuple(range(1, k + 1))
    cid_list = ", ".join(str(c) for c in ids)
    return f"""e AS (
  SELECT vec_id, label, {_VEC_SQL.format(e='embedding')} AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id IN ({cid_list})
),
scored AS (
  SELECT e.vec_id, e.label, e.v, cid,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY
             {_DOT_SQL.format(a='e.v', b='cv')}
               / sqrt({_DOT_SQL.format(a='e.v', b='e.v')})
               / sqrt({_DOT_SQL.format(a='cv', b='cv')}) DESC,
             cid ASC
         ) AS rn
  FROM e, cents
),
cells AS (
  SELECT vec_id, label, v, cid AS cell FROM scored WHERE rn = 1
)"""


def semdedup_keep_sql(
    tau: float = COSINE_NEARDUP_THRESHOLD, k: int | None = None
) -> str:
    return f"""
WITH {_seed_cells_ctes(k)},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a
  JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))} >= {tau}
)
SELECT c.vec_id, c.label, c.cell
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
WHERE d.vec_id IS NULL
"""


def semdedup_rate_by_label(
    emb: DataFrame,
    tau: float = COSINE_NEARDUP_THRESHOLD,
    k: int | None = None,
) -> DataFrame:
    """Per-label semantic-dedup health: (label, n_docs, n_dropped,
    drop_ppm) with drop_ppm = exact integer 1e6 * dropped / docs — the
    monitoring twin of :func:`semdedup_keep` (labels stand in for the
    per-source feed monitor on the embeddings table)."""
    # ONE cells build shared by the census and the drop relation (the
    # keep-list variant would rebuild the assignment a second time)
    cells = _semdedup_cells(emb, k)
    wn = _with_norm(cells)
    a = wn.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("norm").alias("na"), "cell",
    )
    b = wn.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"), F.col("cell").alias("cell_b"),
    )
    dropped_ids = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .where(
            _round6(
                _dot_udf(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            )
            >= tau
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
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
    tau: float = COSINE_NEARDUP_THRESHOLD, k: int | None = None
) -> str:
    return f"""
WITH {_seed_cells_ctes(k)},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a
  JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_ROUND6_SQL.format(x=_COS_SQL.format(a='a.v', b='b.v'))} >= {tau}
)
SELECT c.label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       CAST((COUNT(d.vec_id) * 1000000) // COUNT(*) AS BIGINT) AS drop_ppm
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
GROUP BY c.label
ORDER BY c.label
"""


# ---------------------------------------------------------------------------
# IVF-PQ16 index LIFECYCLE (r9 VERDICT item 5): the faiss train->add->
# search split made explicit. build_ivfpq16_index trains the coarse
# quantizer + PQ codebooks ONCE and materializes the serving table
# (vec_id, label, cell, pq_lo, pq_hi) — 16 bytes of codes + a cell id
# per vector. The ann_ivfpq16_serve_* functions then run the pure
# serving plan against it: a cell-membership filter + ADC scan +
# TakeOrdered, ZERO training jobs and ZERO joins for the ADC stage
# (the cells x codes join of the one-shot ann_ivfpq16_topk happened
# once at build). At 100 TB the serving table is a parquet table
# partitioned by cell (write_ivfpq16_index) so the probe filter is
# partition PRUNING — per query: (nprobe/|cells|) x 16 bytes/vector
# scanned, |shortlist| raw-vector key-fetches for the rerank.
# ---------------------------------------------------------------------------


class IvfPq16Index:
    """Trained IVF-PQ16 artifacts: the serving-table relation plus the
    driver-side trained state (centroids for probe ranking, codebooks
    for the query LUT). Construct via :func:`build_ivfpq16_index`."""

    def __init__(
        self,
        coded: DataFrame,
        vecs: DataFrame,
        cents: dict[int, list[float]],
        books: dict[int, dict[int, list[float]]],
    ) -> None:
        self.coded = coded  # vec_id, label, cell, pq_lo, pq_hi
        self.vecs = vecs  # raw vectors (rerank fetch / query lookup)
        self.cents = cents
        self.books = books


def build_ivfpq16_index(
    emb: DataFrame, iters: int = 1, train_iters: int = 1
) -> IvfPq16Index:
    """TRAIN + ADD: Lloyd-refine the coarse cells, train the PQ16
    codebooks (both memoized exact-decimal kernels), assign + pack
    every vector, and pin the serving table with an eager
    localCheckpoint so no later query re-runs assignment/packing.
    In a persisted deployment, follow with :func:`write_ivfpq16_index`."""
    vecs = _vectors(emb)
    _, cents = _lloyd_refined_cells(vecs, iters=iters)
    books = _pq8_family_books(vecs, train_iters, PQ16_M, PQ16_DIMS)
    # r10: cell + code words assigned in ONE projection pass
    # (_pq16_cells_codes) — the ADD step is a single corpus scan; the
    # former cells x codes vec_id join re-scanned the corpus and paid a
    # join exchange for row-local columns
    coded = (
        _pq16_cells_codes(vecs, cents, books)
        .select("vec_id", "label", "cell", "pq_lo", "pq_hi")
        # the ADD step: materialize once; survives catalog.clearCache()
        # (block-manager RDD blocks, not SQL cache)
        .localCheckpoint(eager=True)
    )
    return IvfPq16Index(coded=coded, vecs=vecs, cents=cents, books=books)


#: built indexes per (session, corpus, params) — a checkpointed relation
#: is session-bound, so the session id is part of the key (unlike the
#: session-agnostic float dicts in _TRAINED_CACHE)
_INDEX_CACHE: dict[tuple, IvfPq16Index] = {}


def clear_trained_state(spark=None) -> None:
    """Drop ALL memoized training/index state — the single cold-run entry
    point for bench.py and tools/scaling_study.py (r11 ADVICE: each
    harness previously reached into private module state with the cache
    list duplicated, and dropping _INDEX_CACHE references without
    unpersisting leaked the localCheckpoint'd index blocks into the block
    manager for the rest of the session).

    With a live ``spark`` session, additionally unpersists EVERY
    persistent RDD (block-manager level, which ``catalog.clearCache()``
    does not touch) — this also releases the eager localCheckpoints the
    statistical/graph kernels pin inside a single query invocation.
    Callers must hold no live references to previously checkpointed
    DataFrames across this call (a checkpointed relation cannot be
    recomputed once its blocks are dropped); between bench runs that is
    the cold-run contract itself."""
    _TRAINED_CACHE.clear()
    _INDEX_CACHE.clear()
    if spark is not None:
        try:
            # py4j maps java.util.Map to a dict-like JavaMap. BLOCKING
            # unpersist: the async form returns before the block manager
            # does the removal work, which then races with (and showed up
            # inside) the next timed run
            jrdds = spark.sparkContext._jsc.getPersistentRDDs()
            for jrdd in list(jrdds.values()):
                jrdd.unpersist(True)
        except Exception:  # pragma: no cover - py4j surface change
            pass


def ivfpq16_index_for(
    emb: DataFrame, iters: int = 1, train_iters: int = 1
) -> IvfPq16Index:
    """Memoized :func:`build_ivfpq16_index` — one build per (session,
    corpus, params) per process; every serve call after the first runs
    the pure serving plan. SPARK_GRAFT_TRAIN_CACHE=0 disables."""
    ck = _corpus_key(emb)
    if ck is None:
        return build_ivfpq16_index(emb, iters=iters, train_iters=train_iters)
    key = (
        emb.sparkSession.sparkContext.applicationId,
        ck,
        iters,
        train_iters,
    )
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = build_ivfpq16_index(
            emb, iters=iters, train_iters=train_iters
        )
    return _INDEX_CACHE[key]


def ann_ivfpq16_serve_topk(
    index: IvfPq16Index,
    query_id: int = 0,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """SEARCH against a built index: probe-cell filter + 16-byte ADC +
    TakeOrdered over the serving table — no join, no training job.
    Result-identical to :func:`ann_ivfpq16_topk` (same trained state,
    same ranking); only the lifecycle differs."""
    qv = _query_vec(index.vecs, query_id)
    probe = _probe_cells(qv, index.cents, nprobe)
    lut = _pq_query_lut(qv, index.books, PQ16_M, PQ16_DIMS)
    adc = _adc_expr(lut, PQ16_M)
    return (
        index.coded.where(
            (F.col("vec_id") != query_id) & (F.col("cell").isin(*probe))
        )
        .select("vec_id", "label", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(k)
    )


def ann_ivfpq16_serve_rerank_topk(
    index: IvfPq16Index,
    query_id: int = 0,
    k: int = TOP_K,
    nprobe: int = IVF_NPROBE,
    shortlist: int = 64,
) -> DataFrame:
    """SEARCH + refine against a built index: the ADC shortlist comes
    off the serving table (cut on ROUND6(adc) + vec_id so both engines
    admit the identical candidate set), then ONLY the shortlist rows'
    raw vectors are fetched (broadcast semi-join — at scale a
    key-lookup) for the exact-L2 final order. Result-identical to
    :func:`ann_ivfpq16_rerank_topk`."""
    qv = _query_vec(index.vecs, query_id)
    probe = _probe_cells(qv, index.cents, nprobe)
    lut = _pq_query_lut(qv, index.books, PQ16_M, PQ16_DIMS)
    adc = _adc_expr(lut, PQ16_M)
    short = (
        index.coded.where(
            (F.col("vec_id") != query_id) & (F.col("cell").isin(*probe))
        )
        .select("vec_id", _round6(adc).alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    qlit = _dbl_arr_lit(qv)
    qq = _seq_dot(qv, qv)
    l2 = (
        F.lit(qq)
        - 2 * dot(qlit, F.col("v"))
        + dot(F.col("v"), F.col("v"))
    )
    return (
        index.vecs.join(F.broadcast(short.select("vec_id")), "vec_id")
        .select("vec_id", "label", _round6(l2).alias("l2"))
        .orderBy(F.asc("l2"), F.asc("vec_id"))
        .limit(k)
    )


def write_ivfpq16_index(index: IvfPq16Index, path: str) -> None:
    """Persist the serving table partitioned BY CELL — the on-disk
    layout that turns the probe filter into partition pruning (the
    scan reads only nprobe directories at any corpus size)."""
    index.coded.write.mode("overwrite").partitionBy("cell").parquet(path)


def read_ivfpq16_index_table(spark, path: str) -> DataFrame:
    """Reload a persisted serving table (cell restored to BIGINT —
    partition-column values parse as INT by default)."""
    df = spark.read.parquet(path)
    return df.select(
        "vec_id", "label", F.col("cell").cast("bigint").alias("cell"),
        "pq_lo", "pq_hi",
    )


def ivfpq16_index_stats(index: IvfPq16Index) -> DataFrame:
    """Index-health census over the serving table: per cell, the
    population and the number of DISTINCT packed codes — the two
    numbers an ANN index monitor watches (a collapsing cell means the
    coarse quantizer stopped discriminating; collapsing code diversity
    means the PQ codebooks no longer spread the cell's residuals).
    One groupBy over the 17-byte serving rows; |cells| output rows."""
    return (
        index.coded.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.count_distinct(F.struct("pq_lo", "pq_hi"))
            .cast("bigint")
            .alias("n_codes"),
        )
        .orderBy("cell")
    )


def ivfpq16_index_stats_sql(
    iters: int = 1, train_iters: int = 1
) -> str:
    """Oracle twin: the lloyd-cells chain and the PQ16 trained-codes
    chain composed behind one shared ``e`` (the ann_ivfpq16_topk_sql
    composition), census over the cells x codes join."""
    ctes = _lloyd_cells_ctes(iters)
    pq_ctes, _fin = _pq8_ctes(
        train_iters, m=PQ16_M, d=PQ16_DIMS, include_e=False
    )
    ctes.extend(pq_ctes)
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT cf.cell,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT (c.pq_lo, c.pq_hi)) AS BIGINT) AS n_codes
FROM cells_fin cf JOIN codes c ON cf.vec_id = c.vec_id
GROUP BY cf.cell
ORDER BY cf.cell
"""
