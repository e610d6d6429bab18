"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §2.10 / BASELINE.json north star).

- exact dedup: hash-groupBy on content (or its 60-bit fingerprint at scale)
- n-gram Jaccard near-dup: shingle -> inverted-index self-join -> exact
  Jaccard (the verification pass)
- MinHash + LSH near-dup: shingle -> 16 minhashes -> 4 bands -> band-bucket
  join (the candidate-generation pass that avoids the quadratic join)

Scale notes (100 TB):
- all joins are key-equi joins on shingle/band hashes — shuffle-partitioned,
  no cross joins anywhere;
- shingles are 60-bit ints (md5 prefix), not strings: an order of magnitude
  less shuffle volume than raw 3-gram text keys;
- the LSH band join only collides docs that share a full band (4 matching
  minhashes), so the candidate set stays near-linear in practice; the exact
  Jaccard verify runs only on candidates.

Every operator has a DuckDB-oracle SQL equivalent generated from the SAME
Python constants (hash parameters, band layout, thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import TOKENS_SQL, fanout, fingerprint64, fingerprint64_sql, tokens

# ---------------------------------------------------------------------------
# shared constants
# ---------------------------------------------------------------------------

#: words per shingle
SHINGLE_N = 3
#: Jaccard threshold for reported near-duplicates
JACCARD_THRESHOLD = 0.1
#: Mersenne prime modulus for the minhash permutations (fits products in i64)
MINHASH_P = 2_147_483_647
#: (a, b) parameters of the 16 universal-hash permutations
#: h_i(x) = (a_i * (x % P) + b_i) % P  — fixed, deterministic
MINHASH_HASHERS: tuple[tuple[int, int], ...] = (
    (1_203_077, 92_821),
    (2_038_079, 415_729),
    (3_854_923, 678_347),
    (5_009_419, 1_093_511),
    (6_672_911, 1_374_679),
    (7_919_771, 2_046_263),
    (9_576_889, 2_693_561),
    (11_261_131, 3_335_171),
    (13_007_309, 4_100_981),
    (15_485_863, 4_792_057),
    (17_624_813, 5_519_293),
    (19_883_981, 6_211_979),
    (22_801_763, 7_368_787),
    (25_165_843, 8_061_511),
    (27_644_437, 9_241_117),
    (30_402_457, 10_000_019),
)
#: LSH layout: BANDS x ROWS_PER_BAND must equal len(MINHASH_HASHERS)
LSH_BANDS = 4
LSH_ROWS = 4


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------

def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh) — distinct 60-bit ids of word ``n``-grams (default
    SHINGLE_N; contamination checks pass the published 13).

    Built with posexplode + lead() windows rather than a
    transform/sequence/element_at lambda: higher-order-function lambdas are
    interpreted row-by-row (outside whole-stage codegen) and measured ~5x
    slower; lead() is a native window function. The window shuffle
    co-partitions by doc_id — cheap relative to the downstream shingle
    join, and AQE coalesces it. fanout (r11): when the scan is narrower
    than the cluster, repartition the compact doc rows by doc_id FIRST —
    the window reuses that exact partitioning, so the exchange count is
    unchanged but tokenize/explode/md5 run wide instead of inside one
    scan task."""
    from pyspark.sql import Window

    toks = fanout(docs, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tail = [F.lead("tok", j).over(w) for j in range(1, n)]
    grams = toks.select(
        "doc_id",
        F.concat_ws(" ", F.col("tok"), *tail).alias("gram"),
        tail[-1].alias("_last"),
    ).where(F.col("_last").isNotNull())
    return grams.select(
        "doc_id", fingerprint64(F.col("gram")).alias("sh")
    ).distinct()


def shingles_cte_sql(n: int = SHINGLE_N) -> str:
    """Matching CTE: documents -> (doc_id, sh) for word ``n``-grams;
    1-indexed list access in DuckDB."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
shingles AS (
  SELECT DISTINCT doc_id, {fingerprint64_sql(f"({gram})")} AS sh
  FROM (
    SELECT doc_id, {TOKENS_SQL.format(c='text')} AS t FROM documents
  ) AS d, unnest(range(1, len(t) - {n - 2})) AS r(i)
)"""


SHINGLES_CTE = shingles_cte_sql(SHINGLE_N)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy on the content fingerprint: one shuffle
    on a 60-bit key (not multi-KB text), keep the smallest doc_id as the
    canonical representative. ``dropDuplicates`` would keep an arbitrary
    row — this is deterministic."""
    norm = F.concat_ws(" ", tokens(F.col("text")))
    return (
        docs.select("doc_id", fingerprint64(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


DEDUP_EXACT_SQL = f"""
SELECT {fingerprint64_sql(f"array_to_string({TOKENS_SQL.format(c='text')}, ' ')")}
         AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY 1
"""


def ngram_jaccard_pairs(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard >= JACCARD_THRESHOLD.

    Inverted-index plan: self-join the (doc, shingle) relation on shingle
    (equi-join -> shuffle or broadcast, never a cross join), count common
    shingles per pair, divide by the union size. This is the exact
    verification operator; MinHash-LSH below is its sub-quadratic
    candidate generator.

    The shingle relation feeds three consumers (both join sides + the
    per-doc counts) — persisted so the tokenize+md5 subtree runs once, not
    three times (the reference's missing-cache anti-pattern, SURVEY.md §4).
    """
    if sh is None:
        sh = shingles(docs).persist()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= JACCARD_THRESHOLD)


def ngram_jaccard_sql(threshold: float) -> str:
    """Exact all-pairs Jaccard oracle text at an arbitrary threshold
    (the inverted-index shape; prefix filtering below produces the
    IDENTICAL result set, so it shares this oracle)."""
    return f"""
WITH {SHINGLES_CTE.strip()},
counts AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY 1
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shingles a
  JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a,
       doc_b,
       CAST(common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common AS DOUBLE)
         AS jaccard
FROM common
JOIN counts na ON doc_a = na.doc_id
JOIN counts nb ON doc_b = nb.doc_id
WHERE CAST(common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - common AS DOUBLE)
      >= {threshold}
"""


NGRAM_JACCARD_SQL = ngram_jaccard_sql(JACCARD_THRESHOLD)


def minhash_signatures(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """16 minhashes per doc in ONE aggregation pass (16 min() aggregates
    over the shingle relation — no per-hash shuffle)."""
    if sh is None:
        sh = shingles(docs)
    sh = sh.withColumn("sid", F.col("sh") % MINHASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("sid") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_HASHERS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_key(i: int):
    cols = [f"mh{i * LSH_ROWS + j}" for j in range(LSH_ROWS)]
    return F.concat_ws("_", *[F.col(c) for c in cols])


def band_index(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, band_id, band_key): the LSH band-bucket index — the
    relation the batch self-join (:func:`minhash_lsh_candidates`) and
    the eval-contamination probe build on. A row means "doc_id hashes
    into bucket band_key of band band_id"; two docs are candidates iff
    they share a row's (band_id, band_key)."""
    sig = minhash_signatures(docs, sh=sh)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"), _band_key(i).alias("band_key")
                    )
                    for i in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def minhash_lsh_candidates(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: docs agreeing on ALL minhashes of >=1 band.

    Plan: signatures -> explode to (band_id, band_key) -> self-join on the
    band bucket -> distinct pairs. The band join is the scale trick: only
    bucket collisions are compared, so cost tracks the number of true
    near-dups, not n^2."""
    # both sides of the self-join read this relation: persist or the whole
    # shingle+16-minhash subtree evaluates twice
    bands = band_index(docs, sh=sh).persist()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _minhash_sql_parts() -> tuple[str, str]:
    mins = ",\n         ".join(
        f"MIN(({a} * sid + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_HASHERS)
    )
    band_rows = []
    for i in range(LSH_BANDS):
        cols = [f"mh{i * LSH_ROWS + j}" for j in range(LSH_ROWS)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_rows.append(f"SELECT doc_id, {i} AS band_id, {key} AS band_key FROM sig")
    return mins, "\nUNION ALL\n".join(band_rows)


_MINS_SQL, _BANDS_SQL = _minhash_sql_parts()

#: public names for oracle builders outside this module (corpus.py's
#: LSH decontamination) — ONE rendering of the minhash/band math, per
#: the SPLIT_CASE_SQL reuse rule.
MINHASH_MINS_SQL = _MINS_SQL
MINHASH_BANDS_SQL = _BANDS_SQL

MINHASH_LSH_SQL = f"""
WITH {SHINGLES_CTE.strip()},
sids AS (
  SELECT doc_id, sh % {MINHASH_P} AS sid FROM shingles
),
sig AS (
  SELECT doc_id,
         {_MINS_SQL}
  FROM sids
  GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b
  ON a.band_id = b.band_id
 AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
"""


def minhash_neardup_verified(docs: DataFrame) -> DataFrame:
    """The full two-stage near-dup pipeline: LSH candidates verified with
    exact Jaccard >= JACCARD_THRESHOLD.

    The verify pass computes Jaccard ONLY for the candidate pairs — never
    the full inverted-index self-join (that exact-all-pairs operator exists
    separately as :func:`ngram_jaccard_pairs`; running it here would throw
    away LSH's entire sub-quadratic win). The per-pair intersection runs
    through the shared array-intersect verify
    (:func:`jaccard_verify_candidates`) — linear in candidates, never
    quadratic."""
    sh = shingles(docs).persist()  # ONE shingle relation feeds both stages
    cand = minhash_lsh_candidates(docs, sh=sh)
    return jaccard_verify_candidates(sh, cand, JACCARD_THRESHOLD)


def jaccard_verify_candidates(
    sh: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard >= threshold over CANDIDATE pairs only — the shared
    verify stage of every sub-quadratic near-dup pipeline here (LSH
    bands, multi-probe, prefix filtering). ``cand`` is (doc_a, doc_b).

    Plan: each doc's shingle set is collected ONCE into an array row;
    two equi-joins attach both arrays to each candidate pair, and the
    intersection size is a native hash-based ``array_intersect`` —
    O(|a| + |b|) per pair with no row expansion. The previous
    formulation (broadcast the pair list against the shingle relation
    twice) explodes at pairs x shingles-per-doc rows: fine for LSH's
    handful of candidates, measured 40 s at 200k prefix-filter
    candidates where the array form runs in ~2 s. Both joins are plain
    equi-joins on doc ids — AQE broadcasts the array relation when
    small, shuffles when not; a cheap length-ratio filter (|b| >=
    t*|a|, necessary for J >= t) prunes pairs before any intersection
    is computed. The float multiply rounds DOWN past the true
    threshold, so the filter can only under-prune — completeness is
    decided by the exact final Jaccard predicate."""
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("sh").alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    aa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    bb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .where(
            (F.col("n_b").cast("double") >= F.lit(threshold) * F.col("n_a"))
            & (F.col("n_a").cast("double") >= F.lit(threshold) * F.col("n_b"))
        )
        .withColumn(
            "common", F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


MINHASH_NEARDUP_SQL = f"""
WITH cand AS ({MINHASH_LSH_SQL.strip()}),
exact AS ({NGRAM_JACCARD_SQL.strip()})
SELECT cand.doc_a, cand.doc_b, exact.jaccard
FROM cand
JOIN exact ON cand.doc_a = exact.doc_a AND cand.doc_b = exact.doc_b
"""


# ---------------------------------------------------------------------------
# near-dup clusters: connected components over the verified pair graph
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 20


def neardup_components(docs: DataFrame) -> DataFrame:
    """Cluster near-duplicate documents: connected components over the
    verified LSH pair graph — the step that turns pairwise near-dup hits
    into keep-one-per-cluster groups.

    Returns (doc_id, component) where component = min doc_id reachable.
    """
    pairs = minhash_neardup_verified(docs).select("doc_a", "doc_b")
    return connected_components(pairs)


#: below this edge count the pair graph is union-found on the driver —
#: a near-dup graph this small costs more in per-round job overhead than
#: the whole computation (measured: ~1s/round x 4 rounds for 500 edges)
_CC_DRIVER_MAX_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame, driver_max_edges: int = _CC_DRIVER_MAX_EDGES
) -> DataFrame:
    """Connected components over an undirected pair list (doc_a, doc_b).

    Hybrid strategy, chosen by the measured edge count:

    - **small graph** (<= ``driver_max_edges``, the common case — verified
      near-dup pairs are a sliver of any corpus): collect the edges and
      union-find on the driver. A 1M-edge list is ~16 MB; the distributed
      loop's per-round scheduling overhead costs more than that transfer.
    - **large graph**: alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14) — every node repoints its neighbors at its neighborhood
      minimum, so component trees HALVE in height each round and the loop
      converges in O(log^2 n) rounds worst-case (~log n observed, see
      the path-graph unit test) instead of the O(diameter) rounds a
      min-label flood needs; a 1M-hop chain finishes in ~20 rounds, not
      1M. All data work is distributed joins/aggregations.

    Both paths return the same (doc_id, component = min reachable id).
    """
    pairs = pairs.persist()
    # the pair graph is a sliver of the corpus (near-dups are rare): size
    # the iteration partitioning to the GRAPH, not the corpus, or every
    # round pays full shuffle-task overhead to move a few hundred rows
    n_pairs = pairs.count()
    if n_pairs <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # collect, not toLocalIterator: the edge list is bounded (<= ~16 MB
        # at driver_max_edges) and toLocalIterator fetches the shuffle's
        # partitions sequentially — measured 12.5 s vs 0.3 s for 25 edges
        # spread over 200 partitions under a plain (driver-like) session
        for row in pairs.select("doc_a", "doc_b").collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # the smaller id becomes the root, so the representative
                # IS the component min — no second pass needed
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        out = pairs.sparkSession.createDataFrame(
            [(d, find(d)) for d in parent],
            "doc_id bigint, component bigint",
        )
        pairs.unpersist()
        return out
    n_parts = max(1, min(32, n_pairs // 50_000))
    labels, _rounds = _star_contraction(pairs, n_parts)
    pairs.unpersist()
    return labels


def _star_contraction(
    pairs: DataFrame, n_parts: int, max_iters: int = _CC_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction over an undirected
    pair list; returns ((doc_id, component = min reachable id), rounds).

    Each round (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14):

    - **large-star**: every node u repoints its STRICTLY LARGER
      neighbors at ``m = min(N(u) + {u})`` — emits (v, m) for v > u;
    - **small-star**: over the canonical (u > v) edges, u repoints its
      smaller neighbors (and itself) at its minimum — emits (v, m) for
      v in N(u) + {u}, v != m.

    Both phases only ever replace an edge endpoint with a neighborhood
    minimum, so component-tree height roughly halves per round and the
    loop converges in O(log^2 n) rounds worst-case (~log n observed —
    the path-graph unit test pins this) instead of the O(diameter)
    rounds the old min-label flood needed: a 1M-hop chain finishes in
    ~20 rounds, not 1M. Convergence is checked exactly (count + anti-
    join emptiness over the canonical distinct edge sets), not by a
    hash/sum proxy.

    Plan discipline (unchanged from the min-label loop, see DEVNOTES):
    per-round relations are localCheckpoint'd (the plan would otherwise
    nest all previous rounds and analysis time grows superlinearly), and
    the loop is partitioned to the GRAPH size, not the corpus (near-
    empty 200-partition tasks cost 6-8x the data movement under a plain
    driver session).
    """
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .persist()
    )
    # canonical directed form: one row per undirected edge, u > v
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(n_parts, "u")
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # ---- large-star: (v, min(N(u) + {u})) for every neighbor v > u.
        # The output is already canonical: v > u >= m.
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star over the canonical edges: all of u's neighbors
        # are smaller, so m = min(N(u)); emit (v, m) for v in
        # N(u) + {u}, v != m. Output again canonical (v >= m, u > m).
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        new_edges = (
            large.join(smins, "u")
            .select(F.col("v").alias("node"), "m")
            .union(smins.select(F.col("u").alias("node"), "m"))
            .where(F.col("node") != F.col("m"))
            .select(F.col("node").alias("u"), F.col("m").alias("v"))
            .distinct()
            .repartition(n_parts, "u")
            .localCheckpoint(eager=True)
        )
        new_cnt = new_edges.count()
        stable = new_cnt == n_edges and not new_edges.exceptAll(
            edges
        ).take(1)
        edges = new_edges
        n_edges = new_cnt
        if stable:
            break
    else:
        # max_iters exhausted WITHOUT the exact stability check firing:
        # a non-converged edge set is not star-shaped, so the
        # groupBy(u).min(v) below would label nodes with an intermediate
        # (non-root) id and silently SPLIT components. Fail loudly —
        # a wrong partition of the corpus is worse than a crash.
        raise RuntimeError(
            f"star contraction did not converge in {max_iters} rounds "
            f"({n_edges} edges remain unstable); raise max_iters — "
            "O(log^2 n) rounds suffice for any connected structure"
        )
    # converged: edges form stars (non-min node -> its component min);
    # nodes with no surviving edge (isolated after self-pair filtering)
    # are their own component
    comp = edges.groupBy(F.col("u").alias("doc_id")).agg(
        F.min("v").alias("c")
    )
    labels = (
        nodes.join(comp, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("c", F.col("doc_id")).alias("component")
        )
        .localCheckpoint(eager=True)
    )
    nodes.unpersist()
    return labels, rounds


NEARDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({MINHASH_NEARDUP_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, MIN(b) AS component
FROM reach
GROUP BY a
"""


def neardup_canonical_keep(docs: DataFrame) -> DataFrame:
    """Per near-dup cluster, the document a training pipeline KEEPS:
    the highest-quality member (quality_score desc, doc_id asc
    tie-break — the score is decimal-rounded at 4 places on both
    engines, so ties are real and the tie-break is load-bearing).
    Returns (component, kept_doc, kept_quality, n_members): everything
    else in the component is the drop list. Documents in no component
    (no verified near-dup) keep themselves by definition and are not
    rows here.

    This is the step after :func:`neardup_components` in a real corpus
    pipeline — dedup does not delete an arbitrary member, it keeps the
    best one. Plan: components ⋈ per-doc quality (both |docs|-bounded),
    ONE window partitioned by component (real key — no global sort),
    then a component-bounded aggregate. Scale: the window state per
    task is one cluster's members; nothing is quadratic."""
    from pyspark.sql import Window

    from .text import quality_score

    comp = neardup_components(docs)
    q = quality_score(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = (
        comp.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    best = ranked.where(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("kept_doc"),
        F.col("quality_score").alias("kept_quality"),
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return best.join(sizes, "component").select(
        "component", "kept_doc", "kept_quality", "n_members"
    )


def neardup_canonical_keep_sql(quality_sql: str) -> str:
    """Oracle twin of :func:`neardup_canonical_keep`; takes the
    QUALITY_SCORE_SQL text (text.py) to avoid a circular import."""
    return f"""
WITH RECURSIVE pairs AS ({MINHASH_NEARDUP_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (
  SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
),
q AS ({quality_sql.strip()}),
ranked AS (
  SELECT comp.component, comp.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY comp.component
                            ORDER BY q.quality_score DESC, comp.doc_id)
           AS rn
  FROM comp JOIN q ON comp.doc_id = q.doc_id
),
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM comp GROUP BY 1
)
SELECT ranked.component,
       ranked.doc_id AS kept_doc,
       ranked.quality_score AS kept_quality,
       sizes.n_members
FROM ranked JOIN sizes ON ranked.component = sizes.component
WHERE ranked.rn = 1
"""


def neardup_rate_by_source(docs: DataFrame) -> DataFrame:
    """Per-source dedup health table: how much of each source is
    near-duplicate mass — the number a corpus pipeline tracks per
    ingestion source to catch a feed that started re-crawling itself.

    Returns (source, n_docs, n_clustered, n_dropped, drop_ppm):
    n_clustered = docs in any verified near-dup component, n_dropped =
    clustered docs that are NOT their component's best-quality keeper
    (the canonical-keep decision, so a cluster spanning sources charges
    the drop to the source of the dropped member, not the keeper's),
    drop_ppm = exact integer 1e6 * n_dropped / n_docs.

    Plan: the verified component relation (LSH candidates -> exact
    Jaccard -> CC) joined to per-doc quality, ONE window partitioned by
    component for the keep decision, then three |sources|-bounded
    aggregates left-joined. Scale: inherits the bucketed near-dup
    design; everything after the components is bounded by |docs in
    clusters| << corpus."""
    from pyspark.sql import Window

    from .text import quality_score

    comp = neardup_components(docs)
    q = quality_score(docs).select("doc_id", "quality_score")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = comp.join(q, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    src = docs.select("doc_id", "source")
    per = src.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    clustered = (
        comp.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_clustered"))
    )
    dropped = (
        ranked.where(F.col("rn") > 1)
        .join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        per.join(clustered, "source", "left")
        .join(dropped, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_clustered", F.lit(0))
            .cast("bigint")
            .alias("n_clustered"),
            F.coalesce("n_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_dropped"),
        )
        .withColumn(
            "drop_ppm",
            F.expr("(n_dropped * 1000000) div n_docs").cast("bigint"),
        )
        .orderBy("source")
    )


def neardup_rate_by_source_sql(quality_sql: str) -> str:
    """Oracle twin of :func:`neardup_rate_by_source` (quality SQL passed
    in to avoid the text.py circular import, same as canonical keep)."""
    return f"""
WITH RECURSIVE pairs AS ({MINHASH_NEARDUP_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (
  SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
),
q AS ({quality_sql.strip()}),
ranked AS (
  SELECT comp.component, comp.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY comp.component
                            ORDER BY q.quality_score DESC, comp.doc_id)
           AS rn
  FROM comp JOIN q ON comp.doc_id = q.doc_id
),
docsrc AS (SELECT doc_id, source FROM documents),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM docsrc GROUP BY 1
),
clustered AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clustered
  FROM comp JOIN docsrc USING (doc_id) GROUP BY 1
),
dropped AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dropped
  FROM ranked JOIN docsrc USING (doc_id)
  WHERE rn > 1 GROUP BY 1
)
SELECT per.source,
       per.n_docs,
       CAST(COALESCE(clustered.n_clustered, 0) AS BIGINT) AS n_clustered,
       CAST(COALESCE(dropped.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST((COALESCE(dropped.n_dropped, 0) * 1000000) // per.n_docs
            AS BIGINT) AS drop_ppm
FROM per
LEFT JOIN clustered ON per.source = clustered.source
LEFT JOIN dropped ON per.source = dropped.source
ORDER BY per.source
"""


# ---------------------------------------------------------------------------
# SimHash near-dup: pigeonhole block join over the 60-bit signatures
# ---------------------------------------------------------------------------

#: SimHash blocks for the pigeonhole candidate join (60 bits / 4 = 15 each)
SIMHASH_BLOCKS = 4
_SIMHASH_BLOCK_BITS = 15
_SIMHASH_BLOCK_MASK = (1 << _SIMHASH_BLOCK_BITS) - 1
#: report pairs at Hamming distance <= this (pigeonhole: any pair within
#: SIMHASH_BLOCKS - 1 bit flips shares at least one identical block)
SIMHASH_MAX_HAMMING = 3


def simhash_neardup(docs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs: candidates by pigeonhole block equi-join,
    verified by exact Hamming distance.

    With 4 blocks of 15 bits, any two signatures within 3 bit flips agree
    on >= 1 whole block, so the equi-join on (block index, block value)
    finds ALL qualifying pairs — no quadratic comparison. The verify step
    is one JVM expression (``bit_count(a XOR b)``) on the candidates. At
    100 TB this is the cheapest near-dup path: one 8-byte signature per
    doc, a 4x-exploded self-join on 2-byte keys, and the distinct() that
    collapses multi-block hits runs on the (tiny) verified pair set.
    """
    from .text import simhash  # local import: avoid cycle at module load

    sigs = simhash(docs)
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.sequence(F.lit(0), F.lit(SIMHASH_BLOCKS - 1))
        ).alias("blk"),
    ).withColumn(
        "chunk",
        F.expr(
            f"shiftright(simhash, blk * {_SIMHASH_BLOCK_BITS})"
            f" & {_SIMHASH_BLOCK_MASK}"
        ),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "blk",
        "chunk",
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "blk",
        "chunk",
    )
    return (
        a.join(b, ["blk", "chunk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast(
                "int"
            ),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


from .text import SIMHASH_SQL as _SIMHASH_SIG_SQL  # noqa: E402

SIMHASH_NEARDUP_SQL = f"""
WITH sigs AS ({_SIMHASH_SIG_SQL.strip()}),
blocks AS (
  SELECT doc_id,
         simhash,
         b AS blk,
         (simhash >> (b * {_SIMHASH_BLOCK_BITS})) & {_SIMHASH_BLOCK_MASK}
           AS chunk
  FROM sigs, unnest(range(0, {SIMHASH_BLOCKS})) AS r(b)
)
SELECT DISTINCT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM blocks a
JOIN blocks b
  ON a.blk = b.blk AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# prefix filtering (AllPairs/PPJoin family): EXACT set-similarity join
# without all-pairs — the deterministic alternative to MinHash-LSH
# ---------------------------------------------------------------------------

#: Jaccard threshold for the prefix-filtered join, as an exact rational
#: (numerator, denominator) so the prefix length is pure integer
#: arithmetic on both engines. 7/10 keeps every generated near-dup pair
#: in the fixtures (all sit at J >= 0.7) while cutting the candidate
#: index to the ~30% rarest shingles per doc.
PREFIX_T_NUM = 7
PREFIX_T_DEN = 10
PREFIX_JACCARD_THRESHOLD = PREFIX_T_NUM / PREFIX_T_DEN


def prefix_filter_neardup(
    docs: DataFrame, sh: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard >= 0.7 near-dup pairs via PREFIX FILTERING — the
    AllPairs/PPJoin candidate scheme: complete (provably no missed
    pair), unlike LSH's probabilistic bands, yet still sub-quadratic.

    Scheme: order every doc's shingles by global rarity (document
    frequency asc, shingle id as the tie-break — a total order shared
    by all docs), and index only each doc's first
    ``p = n - ceil(t*n) + 1`` shingles. Completeness: if J(a,b) >= t
    then |a&b| >= ceil(t*max(|a|,|b|)), and a doc whose prefix missed
    all of a&b would have to fit the whole intersection into its
    suffix of length ceil(t*n) - 1 < |a&b| — contradiction, for BOTH
    docs, and since prefixes are heads of the SAME global order the
    intersection's rarest element lies in both prefixes. Candidates =
    docs sharing >= 1 prefix shingle; the shared exact-verify stage
    (jaccard_verify_candidates) does the rest.

    Why rarity order matters at scale: the prefix join's cost is
    sum over shingles of C(prefix_df, 2). Ranking by ascending df puts
    only RARE shingles into prefixes, so stop-shingle buckets (the
    inverted index's quadratic hot keys) never enter the join at all —
    the frequent-shingle mass all sits in suffixes, touched only
    during verification of already-candidate pairs.

    Prefix length in exact integer arithmetic: with t = 7/10,
    ceil(7n/10) = (7n + 9) div 10 — no float rounding anywhere."""
    from pyspark.sql import Window

    if sh is None:
        sh = shingles(docs).persist()
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (
        sh.join(dfreq, "sh")
        .select("doc_id", "sh", "df")
        .withColumn("rnk", F.row_number().over(w))
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pref = (
        ranked.join(counts, "doc_id")
        .where(
            F.col("rnk")
            <= F.col("n_sh")
            - F.expr(
                f"({PREFIX_T_NUM} * n_sh + {PREFIX_T_DEN - 1})"
                f" div {PREFIX_T_DEN}"
            )
            + 1
        )
        .select("doc_id", "sh")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return jaccard_verify_candidates(sh, cand, PREFIX_JACCARD_THRESHOLD)
