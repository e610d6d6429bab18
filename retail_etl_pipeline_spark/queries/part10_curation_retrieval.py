"""Registry part10 (round 9): corpus-curation + retrieval depth.

Sections:
- Complete IVF-PQ16 + exact-rerank retrieval stack (the serving path a
  100 TB embedding store actually runs end to end).
- Semantic dedup (SemDeDup, Abbas et al. 2023): cell-bucketed
  embedding near-dup with a greedy min-id keep rule — the semantic
  companion to the lexical MinHash chain.
- DSIR-style data selection (Xie et al. NeurIPS 2023): hashed-bigram
  importance weights of every document against a target distribution,
  plus the Gumbel-key resampling step.
- Unigram-LM quality scoring (the CCNet recipe determinized): per-doc
  cross-entropy under a corpus-trained add-1 unigram model, and the
  head/middle/tail perplexity bucketing by source.
- Boilerplate REMOVAL (applying boilerplate_spans): per-doc kept/cut
  stats after dropping cross-document repeated lines, C4-style.
- Token-frequency Zipf fit: log-log OLS slope/intercept/r2 over the
  rank-frequency curve — the corpus-health power-law check.
- Brown-Forsythe spread test: k-sample variance homogeneity on
  |x - group median| via exact doubled deviations.

Registration ORDER is load-bearing (the driver correctness rotation
walks QUERIES in insertion order) — append only, never reorder
(tests/test_rotation_guard.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import corpus as cp
from ..operators import fixtures_adapter as fx
from ..operators import selection as sel
from ..operators import similarity as sim
from ._base import _register


@_register(
    "ann_ivfpq16_rerank_topk",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_ivfpq16_rerank_topk"]),
)
def ann_ivfpq16_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete production retrieval stack (faiss IndexIVFPQ +
    refine, determinized): nprobe=2 Lloyd cells prune the corpus,
    trained 16-byte PQ ADC shortlists 64 candidates from the
    survivors, and exact L2 reranks ONLY the shortlist's raw vectors —
    per-query cost at scale is (nprobe/|cells|) x 16 bytes/vector
    scanned plus 64 key-fetches. Shortlist cut on ROUND6(adc) keeps
    the candidate set engine-identical (measured recall in SCALE.md)."""
    return sim.pq_topk(
        fx._read(spark, sf_dir, "embeddings"),
        **sim.PQ_TOPK["ann_ivfpq16_rerank_topk"],
    )


@_register("semdedup_keep", sim.semdedup_keep_sql())
def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): k-means cells
    bucket the embedding space, exact cosine runs ONLY within a cell,
    and every epsilon-duplicate pair keeps its lowest vec_id — the
    embedding-space companion to the lexical MinHash chain. Pair work
    is bounded per cell (sum |cell|^2, never corpus^2) and the greedy
    min-id rule is one bucketed self-join + one anti-join, no
    iterative connected components."""
    return sim.semdedup_keep(fx._read(spark, sf_dir, "embeddings"))


@_register("semdedup_rate_by_label", sim.semdedup_rate_by_label_sql())
def semdedup_rate_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label semantic-dedup health (label, n_docs, n_dropped,
    drop_ppm exact-integer) — the monitoring table a curation pipeline
    tracks per feed to catch an embedding source collapsing onto
    itself; the semantic twin of neardup_rate_by_source."""
    return sim.semdedup_rate_by_label(
        fx._read(spark, sf_dir, "embeddings")
    )


@_register("dsir_importance_weights", sel.DSIR_IMPORTANCE_WEIGHTS_SQL)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. NeurIPS 2023), determinized:
    per-doc log importance weight of the raw pool against the English
    target slice over add-1-smoothed hashed unigram+bigram bucket
    models (md5 buckets — cross-engine stable). The model is a
    1024-row broadcast; the per-doc sum is an ordered fold over bucket
    id; the shuffle carries (doc_id, bucket) counts, never feature
    strings."""
    return sel.dsir_importance_weights(
        fx._read(spark, sf_dir, "documents")
    )


@_register("dsir_gumbel_topk", sel.dsir_gumbel_topk_sql())
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's resampling step via the Gumbel-top-k trick with
    hash-uniform draws: key = logw + Gumbel(u(doc_id)), take the 64
    largest — sampling-without-replacement proportional to exp(logw),
    fully replayable (no RNG state), TakeOrdered plan (no global
    sort)."""
    return sel.dsir_gumbel_topk(fx._read(spark, sf_dir, "documents"))


@_register("unigram_logprob_quality", sel.UNIGRAM_LOGPROB_QUALITY_SQL)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal, determinized: per-doc
    cross-entropy (nats/token) under the corpus-trained add-1 unigram
    model — the (doc, token)-level model join is bucketable at any
    corpus size and the per-doc sum is an ordered fold over the token
    string."""
    return sel.unigram_logprob_quality(
        fx._read(spark, sf_dir, "documents")
    )


@_register("ccnet_quality_buckets", sel.CCNET_QUALITY_BUCKETS_SQL)
def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail staging: exact perplexity terciles over
    (rounded xent, doc_id) via the scale-safe global-rank machinery
    (range shuffle + literal offsets — no single-task NTILE window),
    counted per source."""
    return sel.ccnet_quality_buckets(fx._read(spark, sf_dir, "documents"))


@_register("boilerplate_removal_stats", cp.boilerplate_removal_stats_sql())
def boilerplate_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal APPLIED (the C4 strip step at the shingle
    level): per-doc token total, tokens covered by any cross-document
    repeated n-gram, and the surviving ratio — positional shingles
    shuffle as 60-bit fingerprints, coverage explodes positions only
    for flagged instances, kept_ratio is a ratio of exact integers."""
    return cp.boilerplate_removal_stats(
        fx._read(spark, sf_dir, "documents")
    )


@_register("token_zipf_fit", cp.TOKEN_ZIPF_FIT_SQL)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health power law: one-row log-log OLS of token frequency
    on rank (slope ~ -1 for natural text; template spam flattens it).
    ln values round into DECIMAL(12,6) so every OLS moment is an EXACT
    distributive decimal sum — no ordered fold, no collect, at any
    vocabulary size; ranking via the scale-safe global-rank shuffle."""
    return cp.token_zipf_fit(fx._read(spark, sf_dir, "documents"))


_BF_ROUND6 = "CAST(round(CAST({x} AS DECIMAL(30,12)), 6) AS DOUBLE)"

_BF_ORACLE = f"""
WITH vals AS (
  SELECT n_name AS g,
         CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)),
                    2) * 100 AS BIGINT) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
),
cnt AS (
  SELECT g, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS c
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT g, v, c,
         SUM(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM cnt
),
pern AS (
  SELECT g, CAST(SUM(c) AS DECIMAL(38,0)) AS n_g FROM cnt GROUP BY g
),
meds AS (
  SELECT cum.g,
         CAST(MIN(CASE WHEN cum >= (CAST(n_g AS HUGEINT) + 1) // 2
                       THEN v END) AS BIGINT) AS m1,
         CAST(MIN(CASE WHEN cum >= CAST(n_g AS HUGEINT) // 2 + 1
                       THEN v END) AS BIGINT) AS m2
  FROM cum JOIN pern ON cum.g = pern.g
  GROUP BY cum.g
),
zs AS (
  SELECT cnt.g, c,
         CAST(abs(2 * v - (m1 + m2)) AS HUGEINT) AS z
  FROM cnt JOIN meds ON cnt.g = meds.g
),
perg AS (
  SELECT g,
         CAST(SUM(c) AS DECIMAL(38,0)) AS n_g,
         CAST(SUM(CAST(c AS HUGEINT) * z) AS DECIMAL(38,0)) AS s,
         CAST(SUM((z * z) * CAST(c AS HUGEINT)) AS DECIMAL(38,0)) AS q
  FROM zs GROUP BY g
),
gl AS (
  SELECT list(struct_pack(g := g, n_g := n_g, s := s, q := q)
              ORDER BY g) AS gs,
         CAST(COALESCE(SUM(n_g), 0) AS DECIMAL(38,0)) AS n,
         CAST(COALESCE(SUM(s), 0) AS DECIMAL(38,0)) AS stot,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM perg
),
calc AS (
  SELECT k, n,
         list_reduce(
           list_transform(gs, x ->
             CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
               / CAST(x.n_g AS DOUBLE)),
           (a, b) -> a + b)
           - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
             / CAST(n AS DOUBLE) AS ssb,
         list_reduce(
           list_transform(gs, x ->
             CAST(x.q AS DOUBLE)
               - CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE)
                 / CAST(x.n_g AS DOUBLE)),
           (a, b) -> a + b) AS ssw
  FROM gl
)
SELECT k AS n_groups,
       CAST(n AS BIGINT) AS n_total,
       CASE WHEN k > 1 THEN k - 1 END AS dof1,
       CASE WHEN n > k THEN CAST(n AS BIGINT) - k END AS dof2,
       CASE WHEN k > 1 AND n > k AND ssw > 0
            THEN {_BF_ROUND6.format(
                x='(ssb / CAST(k - 1 AS DOUBLE))'
                  ' / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))'
            )} END AS f_stat
FROM calc
"""


@_register("nation_revenue_brown_forsythe", _BF_ORACLE)
def nation_revenue_brown_forsythe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-sample SPREAD drift: Brown-Forsythe (median-centered Levene) F
    of per-line revenue cents across all supplier nations — "does any
    nation's revenue DISPERSION differ?", completing the
    location(KW/Mood)/trend(JT)/scale battery on one stratification.
    Kernel: functions/stats.brown_forsythe — doubled |2x - (m1+m2)|
    deviations stay exact integers; group medians come from the shared
    two-level bucketed prefix sum (no single-task window); the F
    assembles from a nation-ordered fold of exact decimal moments."""
    from ..functions.stats import brown_forsythe

    li = fx._read(spark, sf_dir, "lineitem")
    su = fx._read(spark, sf_dir, "supplier")
    na = fx._read(spark, sf_dir, "nation")
    vals = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select(
            F.col("n_name").alias("g"),
            (
                F.round(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,6)"),
                    2,
                )
                * 100
            )
            .cast("bigint")
            .alias("v"),
        )
    )
    return brown_forsythe(vals, "v", "g")


#: the configuration the index queries build and search
_IVFPQ16 = sim.PQ_TOPK["ann_ivfpq16_topk"]


def _ivfpq16_index(spark: SparkSession, sf_dir: str) -> sim.PqIndex:
    """The materialized index of the ann_ivfpq16_topk configuration,
    built once per (session, corpus)."""
    return sim.pq_index_for(
        fx._read(spark, sf_dir, "embeddings"),
        _IVFPQ16["pq"],
        _IVFPQ16["iters"],
    )


@_register(
    "ann_ivfpq16_serve_topk", sim.pq_topk_sql(**_IVFPQ16)
)
def ann_ivfpq16_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEARCH step of the explicit faiss-style index lifecycle
    (train -> add -> search): sim.pq_index_for builds the serving
    table (vec_id, cell, 16-byte PQ codes) once per (session, corpus,
    params) and pins it with a localCheckpoint; this query is then the
    pure serving plan — probe-cell filter + ADC + TakeOrdered, zero
    training jobs, zero joins. Result-identical to ann_ivfpq16_topk
    (same oracle); what changed is WHEN the training cost is paid."""
    return sim.pq_search(_ivfpq16_index(spark, sf_dir))


@_register(
    "ann_ivfpq16_serve_rerank_topk",
    sim.pq_topk_sql(**sim.PQ_TOPK["ann_ivfpq16_rerank_topk"]),
)
def ann_ivfpq16_serve_rerank_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEARCH + refine on the built index: ADC shortlist off the
    serving table, exact-L2 rerank of only the 64 shortlisted raw
    vectors (broadcast semi-join — a key-lookup at scale). The
    production query path of the retrieval stack, with the index build
    amortized across queries instead of retrained per call."""
    shortlist = sim.PQ_TOPK["ann_ivfpq16_rerank_topk"]["shortlist"]
    return sim.pq_search(_ivfpq16_index(spark, sf_dir), shortlist=shortlist)


@_register("semdedup_keep_k32", sim.semdedup_keep_sql(k=32))
def semdedup_keep_k32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semdedup_keep at a PRODUCTION-SHAPED cell count: k=32 cells over
    the 500-row fixture corpus instead of the 8-cell default —
    exercising the paper's k ~= n/target_cell_size regime, where k
    grows with the corpus so per-cell pair volume stays bounded. The
    pair relation stays cell-bucketed (plan-tested) at any k; only the
    folded centroid-literal count in the assignment projection grows."""
    return sim.semdedup_keep(fx._read(spark, sf_dir, "embeddings"), k=32)


@_register("ccnet_staged_mix", sel.CCNET_STAGED_MIX_SQL)
def ccnet_staged_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet staging feeding the data mix end-to-end: perplexity
    terciles keep the head+middle band, uniform-target resampling
    weights are recomputed over the survivors, weights drive per-source
    token budgets, and each source fills its budget most-fluent-first —
    quality-staged sampling as ONE pipeline (tercile range shuffle +
    |sources|-bounded broadcast chain + one source-partitioned window;
    equivalence-tested against running the stage and the mix recipe
    separately)."""
    return sel.ccnet_staged_mix(fx._read(spark, sf_dir, "documents"))


@_register(
    "ivfpq16_index_stats",
    sim.pq_index_stats_sql(_IVFPQ16["pq"], _IVFPQ16["iters"]),
)
def ivfpq16_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index health: per-cell population + distinct-code census
    over the built IVF-PQ16 serving table — the monitor a retrieval
    deployment tracks per rebuild (cell collapse = coarse quantizer
    degenerating; code collapse = PQ codebooks no longer spreading
    residuals). Runs off the once-built index like the serve queries."""
    return sim.pq_index_stats(_ivfpq16_index(spark, sf_dir))
