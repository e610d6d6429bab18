"""Corpus-preparation operators for LLM training-data pipelines.

Round-3 additions beyond the reference surface (SURVEY.md §2.10): the
document-level transforms a 100 TB pretraining pipeline runs between raw
ingestion and tokenization — chunking, repetition profiling, eval-set
contamination checks, and corpus shape statistics. Everything here is a
pure JVM projection/aggregation (no Python UDFs): chunking is
sequence+explode, repetition is one windowed aggregate, contamination is
an equi-join on 60-bit shingle fingerprints.

Scale notes (100 TB):
- ``doc_chunks`` is a map-only explode — no shuffle at all; output
  partitioning follows the input scan.
- ``word_repetition`` shuffles once on doc_id (the token-count groupBy);
  the window reuses that partitioning (no second exchange).
- ``eval_contamination`` joins on the hashed shingle id, never text, and
  the eval side is a small fraction of the corpus — AQE picks a broadcast
  of the eval shingles when they fit, a shuffled hash join otherwise.
- ``token_length_histogram`` is a classic two-phase aggregate on a
  bounded key space (lang × bucket) — partial map-side combine makes the
  shuffle tiny regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import SHINGLE_N, SHINGLES_CTE, shingles
from .text import TOKENS_SQL, fanout, token_count, tokens

# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------

#: characters per chunk and stride between chunk starts (stride < size
#: gives overlapping chunks, the usual pretraining setup)
CHUNK_SIZE = 120
CHUNK_STRIDE = 90


def doc_chunks(docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE) -> DataFrame:
    """Overlapping fixed-width character chunks: one row per (doc, chunk).

    A pure projection + explode — the chunk-start offsets are generated
    with ``sequence`` from the document length, so no shuffle and no
    Python. Chunk i covers [1 + i*stride, 1 + i*stride + size); the last
    chunk starts at the smallest offset whose window reaches the end of
    the document.
    """
    n_extra = F.greatest(
        F.lit(0),
        F.ceil((F.length("text") - F.lit(size)) / F.lit(float(stride))),
    ).cast("int")
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_extra)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.lit(1) + F.col("chunk_id") * stride).alias("chunk_start"),
            F.expr(f"substring(text, 1 + chunk_id * {stride}, {size})").alias(
                "chunk_text"
            ),
        )
    )


DOC_CHUNKS_SQL = f"""
WITH n AS (
  SELECT doc_id, text,
         CAST(greatest(0, ceil((length(text) - {CHUNK_SIZE}) / {CHUNK_STRIDE}.0))
              AS INTEGER) AS n_extra
  FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       CAST(1 + i * {CHUNK_STRIDE} AS INTEGER) AS chunk_start,
       substr(text, CAST(1 + i * {CHUNK_STRIDE} AS INTEGER), {CHUNK_SIZE})
         AS chunk_text
FROM n, unnest(range(0, n_extra + 1)) AS r(i)
"""


# ---------------------------------------------------------------------------
# repetition profiling
# ---------------------------------------------------------------------------

def word_repetition(docs: DataFrame) -> DataFrame:
    """Per-document repetition profile: token totals, distinct count, and
    the most frequent token with its frequency ratio — the standard
    "degenerate repetition" quality signal for pretraining filters.

    Two compact exchanges: the token-count groupBy shuffles partial
    (doc_id, tok, cnt) rows — the map-side combine has already collapsed
    repeated tokens, so this moves distinct-tokens-per-doc, not the raw
    token stream — and the ranking window re-shuffles those same compact
    rows on doc_id alone. Raw document text never crosses the wire (the
    alternative single-exchange plan, repartition(doc_id) before the
    explode, would shuffle full text — strictly worse at corpus scale).
    Ties on count break to the lexically smallest token so the result is
    deterministic across engines and partitionings.
    """
    counts = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
    )
    w = Window.partitionBy("doc_id")
    ranked = counts.select(
        "doc_id",
        "tok",
        "count",
        F.sum("count").over(w).alias("n_tokens"),
        F.count(F.lit(1)).over(w).alias("n_distinct_tokens"),
        F.row_number()
        .over(w.orderBy(F.desc("count"), F.asc("tok")))
        .alias("rn"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
            F.col("tok").alias("top_token"),
            F.round(
                (F.col("count") / F.col("n_tokens")).cast("decimal(20,9)"), 6
            )
            .cast("double")
            .alias("top_token_ratio"),
        )
    )


WORD_REPETITION_SQL = f"""
WITH counts AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tok
        FROM documents)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
         AS n_distinct_tokens,
       tok AS top_token,
       CAST(round(CAST(CAST(cnt AS DOUBLE)
                       / SUM(cnt) OVER (PARTITION BY doc_id)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS top_token_ratio
FROM counts
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) = 1
"""


# ---------------------------------------------------------------------------
# eval-set contamination
# ---------------------------------------------------------------------------

#: every EVAL_MOD-th document plays the held-out eval set
EVAL_MOD = 20


def eval_contamination(docs: DataFrame, n: int | None = None) -> DataFrame:
    """N-gram contamination of a held-out eval split against the training
    corpus: for each eval document (doc_id % EVAL_MOD == 0), how many of
    its shingles also occur in any training document, and how many
    training documents share at least one shingle. ``n`` overrides the
    shingle width (default SHINGLE_N=3; the GPT-3 appendix-C published
    method uses 13-grams — longer grams trade recall for precision:
    a 13-gram collision is near-certain leakage).

    The join key is the 60-bit shingle fingerprint (never text), so the
    contamination check is one equi-join however large the corpus; the
    eval side is 1/EVAL_MOD of the data and AQE broadcasts it when small.
    """
    sh = shingles(docs) if n is None else shingles(docs, n=n)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = sh.where(is_eval)
    train_sh = sh.where(~is_eval).withColumnRenamed("doc_id", "train_doc_id")
    totals = eval_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        eval_sh.join(train_sh, "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_contaminated"),
            F.countDistinct("train_doc_id").alias("n_train_docs"),
        )
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
            F.round(
                (
                    F.coalesce("n_contaminated", F.lit(0))
                    / F.col("n_shingles")
                ).cast("decimal(20,9)"),
                6,
            )
            .cast("double")
            .alias("contamination_rate"),
        )
    )


def eval_contamination_sql(n: int | None = None) -> str:
    """Oracle builder for :func:`eval_contamination` at shingle width
    ``n`` (None = the default SHINGLE_N CTE)."""
    from .dedup import shingles_cte_sql

    cte = SHINGLES_CTE if n is None else shingles_cte_sql(n)
    return f"""
WITH {cte.strip()},
eval_sh AS (SELECT * FROM shingles WHERE doc_id % {EVAL_MOD} = 0),
train_sh AS (SELECT doc_id AS train_doc_id, sh FROM shingles
             WHERE doc_id % {EVAL_MOD} != 0),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM eval_sh GROUP BY 1
),
hits AS (
  SELECT e.doc_id,
         CAST(COUNT(DISTINCT e.sh) AS BIGINT) AS n_contaminated,
         CAST(COUNT(DISTINCT t.train_doc_id) AS BIGINT) AS n_train_docs
  FROM eval_sh e JOIN train_sh t ON e.sh = t.sh
  GROUP BY 1
)
SELECT totals.doc_id,
       n_shingles,
       COALESCE(n_contaminated, 0) AS n_contaminated,
       COALESCE(n_train_docs, 0) AS n_train_docs,
       CAST(round(CAST(CAST(COALESCE(n_contaminated, 0) AS DOUBLE)
                       / n_shingles AS DECIMAL(20,9)), 6) AS DOUBLE)
         AS contamination_rate
FROM totals LEFT JOIN hits ON totals.doc_id = hits.doc_id
"""


EVAL_CONTAMINATION_SQL = eval_contamination_sql()


def eval_contamination_lsh(docs: DataFrame) -> DataFrame:
    """NEAR-duplicate decontamination: training documents that share an
    LSH band bucket with any held-out eval document (doc_id %
    EVAL_MOD == 0) — the fuzzy complement of :func:`eval_contamination`
    (which needs an exact shared shingle; a lightly paraphrased eval
    answer slips past it, but still collides on a full minhash band).
    Returns (doc_id, n_eval_matches): the flag list a pipeline drops or
    audits before training.

    Plan: ONE band index over the corpus (:func:`..dedup.band_index` —
    the same relation batch LSH uses), split into
    train/eval sides by a pure predicate, equi-joined on (band_id,
    band_key). Cost tracks bucket collisions against the ~1/EVAL_MOD
    eval slice, never train x eval; at 100 TB the eval side's buckets
    broadcast."""
    from .dedup import band_index

    # persist: both sides of the self-join read this relation, and the
    # shingle+16-minhash subtree is the expensive part — without the
    # persist it evaluates twice (same discipline as
    # minhash_lsh_candidates in dedup.py). The flag list itself is small
    # (<= contaminated-train-doc count), so it is materialized eagerly
    # via localCheckpoint and the band cache released in the same call —
    # a long-lived driver running the registry doesn't accumulate leaked
    # cache entries.
    bands = band_index(docs).persist()
    try:
        train = bands.where(F.col("doc_id") % EVAL_MOD != 0)
        ev = (
            bands.where(F.col("doc_id") % EVAL_MOD == 0)
            .withColumnRenamed("doc_id", "eval_doc_id")
        )
        return (
            train.join(ev, ["band_id", "band_key"])
            .groupBy("doc_id")
            .agg(F.countDistinct("eval_doc_id").alias("n_eval_matches"))
            .localCheckpoint(eager=True)
        )
    finally:
        bands.unpersist()


def _eval_contamination_lsh_sql() -> str:
    from .dedup import MINHASH_BANDS_SQL, MINHASH_MINS_SQL, MINHASH_P

    return f"""
WITH {SHINGLES_CTE.strip()},
sids AS (
  SELECT doc_id, sh % {MINHASH_P} AS sid FROM shingles
),
sig AS (
  SELECT doc_id,
         {MINHASH_MINS_SQL}
  FROM sids
  GROUP BY doc_id
),
bands AS (
{MINHASH_BANDS_SQL}
)
SELECT t.doc_id,
       CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_matches
FROM bands t
JOIN bands e
  ON t.band_id = e.band_id
 AND t.band_key = e.band_key
WHERE t.doc_id % {EVAL_MOD} != 0
  AND e.doc_id % {EVAL_MOD} = 0
GROUP BY 1
"""


EVAL_CONTAMINATION_LSH_SQL = _eval_contamination_lsh_sql()


# ---------------------------------------------------------------------------
# corpus shape statistics
# ---------------------------------------------------------------------------

#: histogram bucket width in tokens
TOKEN_BUCKET = 32


def token_length_histogram(docs: DataFrame) -> DataFrame:
    """Token-length histogram by language: bucketed token counts with
    exact char averages — the "what does my corpus look like" query run
    before every training mix decision.

    Two-phase aggregate on a bounded key (lang × bucket): the map-side
    partial keeps the shuffle a few rows per task at any corpus size.
    Averages divide exact BIGINT sums (never AVG) so the result is
    bit-stable across engines and partition counts.
    """
    n_tok = token_count(F.col("text"))
    bucket = (F.floor(n_tok / TOKEN_BUCKET) * TOKEN_BUCKET).cast("int")
    return (
        docs.select(
            "lang",
            bucket.alias("token_bucket"),
            n_tok.alias("n_tokens"),
            F.col("n_chars"),
        )
        .groupBy("lang", "token_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                (F.sum("n_tokens") / F.count(F.lit(1))).cast("decimal(20,9)"),
                6,
            )
            .cast("double")
            .alias("avg_tokens"),
            F.round(
                (F.sum("n_chars") / F.count(F.lit(1))).cast("decimal(20,9)"),
                6,
            )
            .cast("double")
            .alias("avg_chars"),
        )
    )


TOKEN_LENGTH_HISTOGRAM_SQL = f"""
WITH d AS (
  SELECT lang,
         len({TOKENS_SQL.format(c='text')}) AS n_tokens,
         n_chars
  FROM documents
)
SELECT lang,
       CAST((n_tokens // {TOKEN_BUCKET}) * {TOKEN_BUCKET} AS INTEGER)
         AS token_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(round(CAST(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS avg_tokens,
       CAST(round(CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS avg_chars
FROM d
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# boilerplate-span detection
# ---------------------------------------------------------------------------

#: a shingle occurring in >= this many distinct documents is boilerplate
BOILERPLATE_MIN_DOCS = 3


def boilerplate_spans(docs: DataFrame, min_docs: int = BOILERPLATE_MIN_DOCS) -> DataFrame:
    """Per-document boilerplate fraction: the share of a document's
    shingles that occur in >= ``min_docs`` distinct documents — the
    common-span signal behind header/footer/licence stripping in
    pretraining pipelines.

    Scale: one shingle scan, join-free. The shingle relation is distinct
    per (doc, sh), so document frequency is ``count(*) over (partition by
    sh)`` — the same shuffle a groupBy(sh) would cost, but without
    recomputing the shingles for a back-join. The per-doc roll-up is the
    only other exchange; text itself never shuffles.
    """
    sh = shingles(docs)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("sh"))
    return (
        sh.select("doc_id", (df_w >= min_docs).cast("int").alias("is_boiler"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("is_boiler").cast("bigint").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(
                (F.col("n_boiler") / F.col("n_shingles")).cast(
                    "decimal(20,9)"
                ),
                6,
            )
            .cast("double")
            .alias("boiler_rate"),
        )
    )


BOILERPLATE_SPANS_SQL = f"""
WITH {SHINGLES_CTE.strip()},
flagged AS (
  SELECT doc_id,
         CASE WHEN COUNT(*) OVER (PARTITION BY sh)
                   >= {BOILERPLATE_MIN_DOCS} THEN 1 ELSE 0 END AS is_boiler
  FROM shingles
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(is_boiler) AS BIGINT) AS n_boiler,
       CAST(round(CAST(CAST(SUM(is_boiler) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS boiler_rate
FROM flagged
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# deterministic corpus split
# ---------------------------------------------------------------------------

#: Knuth multiplicative hash (same constant as sources/synthetic.py) and the
#: integer thresholds for a 90/5/5 train/val/test split of the 32-bit space
SPLIT_MIX = 2654435761
SPLIT_MOD = 2**32
SPLIT_TRAIN_LT = 3865470566  # floor(0.90 * 2^32)
SPLIT_VAL_LT = 4080218931  # floor(0.95 * 2^32)


def split_assignment(doc_id: str = "doc_id"):
    """train/val/test column from the multiplicative hash of ``doc_id`` —
    a pure projection, identical on any engine/partitioning.

    The product is taken in DECIMAL(38,0): a corpus-scale doc_id
    (>= ~3.5e9) times the 32-bit Knuth constant overflows BIGINT, which
    ANSI mode (Spark 4 default) turns into a runtime error — found by the
    hypothesis property test, invisible at fixture scale.

    A NULL ``doc_id`` yields a NULL split, not a silent ``test``
    assignment: hash(NULL) is NULL, every ``when`` is false, and without
    the leading guard all null-id rows would concentrate in the eval
    split. Callers that must not publish NULL splits (the corpus
    pipeline) quarantine null ids upstream."""
    h = (F.col(doc_id).cast("decimal(38,0)") * SPLIT_MIX) % SPLIT_MOD
    return (
        F.when(F.col(doc_id).isNull(), F.lit(None).cast("string"))
        .when(h < SPLIT_TRAIN_LT, "train")
        .when(h < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )


def corpus_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment + per-(split, source) corpus
    stats — the reproducible alternative to ``randomSplit`` (whose output
    depends on partitioning). The split key is a multiplicative hash of
    doc_id, so the assignment is a pure projection: stable across runs,
    engines, partitionings, and re-shards of the corpus.

    Scale: projection + one bounded-key aggregate (3 splits x sources);
    partial map-side combine collapses everything before the shuffle.
    """
    return (
        docs.select(
            split_assignment().alias("split"),
            "source",
            token_count(F.col("text")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


#: the one SQL rendering of :func:`split_assignment` — NULL ids get a
#: NULL split (without the guard they'd concentrate in 'test'); every
#: oracle that labels splits must reuse THIS fragment, not re-derive it.
SPLIT_CASE_SQL = f"""CASE WHEN doc_id IS NULL THEN NULL
            WHEN (CAST(doc_id AS HUGEINT) * {SPLIT_MIX}) % {SPLIT_MOD}
                 < {SPLIT_TRAIN_LT}
            THEN 'train'
            WHEN (CAST(doc_id AS HUGEINT) * {SPLIT_MIX}) % {SPLIT_MOD}
                 < {SPLIT_VAL_LT}
            THEN 'val'
            ELSE 'test' END"""

CORPUS_SPLIT_SQL = f"""
SELECT {SPLIT_CASE_SQL} AS split,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({TOKENS_SQL.format(c='text')})) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# epoch shuffle: deterministic per-epoch global ordering
# ---------------------------------------------------------------------------

#: prime stride mixed into the shuffle hash per epoch — each epoch is a
#: DIFFERENT deterministic permutation of the same corpus
EPOCH_STRIDE = 15485863


def epoch_shuffle_key(epoch: int, doc_id: str = "doc_id"):
    """Per-epoch shuffle key as a pure projection: the multiplicative
    doc-id hash with an epoch-prime offset mixed in. Training loaders
    need a DIFFERENT global order each epoch that is still reproducible
    across runs, engines, partitionings, and resumptions — rand(seed)
    is partitioning-dependent, this is not. Same DECIMAL(38,0) overflow
    hardening as :func:`split_assignment` (corpus-scale ids)."""
    return (
        (F.col(doc_id).cast("decimal(38,0)") + epoch * EPOCH_STRIDE)
        * SPLIT_MIX
        % SPLIT_MOD
    ).cast("bigint")


def epoch_shuffle_prefix(docs: DataFrame, epochs: tuple[int, ...], k: int) -> DataFrame:
    """First ``k`` documents of each epoch's shuffled order. Ordering by
    the hash key IS the shuffle; the bounded prefix runs as TakeOrdered
    (top-k merge, no global sort), and a full-epoch materialization is
    the same expression under ``zorder_write``-style range-partitioned
    write instead of limit. doc_id breaks hash-collision ties."""
    parts = []
    for e in epochs:
        parts.append(
            docs.select(
                F.lit(int(e)).cast("int").alias("epoch"),
                "doc_id",
                epoch_shuffle_key(e).alias("shuffle_key"),
            )
            .orderBy("shuffle_key", "doc_id")
            .limit(k)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def epoch_shuffle_prefix_sql(epochs: tuple[int, ...], k: int) -> str:
    sel = []
    for e in epochs:
        sel.append(
            f"""(SELECT CAST({e} AS INTEGER) AS epoch, doc_id,
       CAST(((CAST(doc_id AS HUGEINT) + {e * EPOCH_STRIDE})
             * {SPLIT_MIX}) % {SPLIT_MOD} AS BIGINT) AS shuffle_key
FROM documents
ORDER BY shuffle_key, doc_id
LIMIT {k})"""
        )
    return "\nUNION ALL\n".join(sel)


# ---------------------------------------------------------------------------
# shingle novelty
# ---------------------------------------------------------------------------

def shingle_novelty(docs: DataFrame) -> DataFrame:
    """Per-document novelty: the share of a document's shingles whose
    FIRST occurrence (smallest doc_id) is this document — the
    marginal-contribution signal used to rank near-the-fence documents
    when trimming an already-deduplicated corpus.

    Scale: one shingle scan, join-free — ``min(doc_id) over (partition by
    sh)`` computes first occurrence in the same shuffle a groupBy(sh)
    would cost, with no back-join; the per-doc roll-up is the only other
    exchange.
    """
    sh = shingles(docs)
    first = F.min("doc_id").over(Window.partitionBy("sh"))
    return (
        sh.select(
            "doc_id", (first == F.col("doc_id")).cast("int").alias("novel")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("novel").cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                (F.col("n_novel") / F.col("n_shingles")).cast("decimal(20,9)"),
                6,
            )
            .cast("double")
            .alias("novelty_rate"),
        )
    )


SHINGLE_NOVELTY_SQL = f"""
WITH {SHINGLES_CTE.strip()},
marked AS (
  SELECT doc_id,
         CASE WHEN MIN(doc_id) OVER (PARTITION BY sh) = doc_id
              THEN 1 ELSE 0 END AS novel
  FROM shingles
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(novel) AS BIGINT) AS n_novel,
       CAST(round(CAST(CAST(SUM(novel) AS DOUBLE) / COUNT(*)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS novelty_rate
FROM marked
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# sequence packing: concat-and-chunk block index
# ---------------------------------------------------------------------------

#: context-window capacity in tokens for the packing index.
PACK_BLOCK_TOKENS = 512


def _n_tok(text_col: str = "text"):
    """Token count with the packing NULL convention (NULL text = 0
    tokens) — shared by the batch index and the incremental extension so
    packed and rejected rows in one manifest can never diverge on the
    tokenizer or the NULL rule."""
    c = F.col(text_col)
    return (
        F.when(c.isNull(), F.lit(0)).otherwise(token_count(c)).cast("bigint")
    )


def packing_index(docs: DataFrame, block_tokens: int = PACK_BLOCK_TOKENS) -> DataFrame:
    """Concat-and-chunk packing index: where each document lands when the
    corpus is concatenated per source (in deterministic doc_id order) and
    chunked into fixed ``block_tokens`` training blocks — the standard
    LLM pretraining packing scheme (documents straddle block boundaries;
    nothing is padded or dropped).

    Pure window arithmetic: a per-source running token total places every
    doc at an absolute offset, and its first/last block are integer
    divisions of that offset — so the index is deterministic on any
    engine/partitioning, and computing it costs ONE shuffle on the
    source key (no collect, no sequential pass; the packing decision for
    a doc depends only on the cumulative sum before it).

    Scale note: the window partitions on ``source`` — at corpus scale a
    single giant source would serialize its partition's cumsum; shard
    the stream key first (e.g. (source, doc_id div 10M) superblocks,
    offset-corrected the same two-level way as functions/ordered.py's
    prefix sums). NULL text counts 0 tokens and lands on a NULL block
    (flagged, not silently packed — corpus_pipeline quarantines those
    upstream).
    """
    n_tok = _n_tok("text")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = docs.select(
        "source", "doc_id", n_tok.alias("n_tokens")
    ).withColumn("end_tok", F.sum("n_tokens").over(w))
    return staged.select(
        "source",
        "doc_id",
        "n_tokens",
        (F.col("end_tok") - F.col("n_tokens")).alias("start_tok"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(f"(end_tok - n_tokens) div {block_tokens}"),
        ).alias("first_block"),
        F.when(
            F.col("n_tokens") > 0, F.expr(f"(end_tok - 1) div {block_tokens}")
        ).alias("last_block"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr(
                f"(end_tok - 1) div {block_tokens}"
                f" - (end_tok - n_tokens) div {block_tokens} + 1"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("spans_blocks"),
    )


PACKING_INDEX_SQL = """
WITH staged AS (
  SELECT source, doc_id,
         CAST(CASE WHEN text IS NULL THEN 0
              ELSE len({tokens}) END AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(CASE WHEN text IS NULL THEN 0
                       ELSE len({tokens}) END AS BIGINT)) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS end_tok
  FROM documents
)
SELECT source, doc_id, n_tokens,
       end_tok - n_tokens AS start_tok,
       CASE WHEN n_tokens > 0
            THEN (end_tok - n_tokens) // {block} END AS first_block,
       CASE WHEN n_tokens > 0 THEN (end_tok - 1) // {block} END AS last_block,
       CAST(CASE WHEN n_tokens > 0
            THEN (end_tok - 1) // {block}
                 - (end_tok - n_tokens) // {block} + 1
            ELSE 0 END AS BIGINT) AS spans_blocks
FROM staged
"""


def source_mix_weights(docs: DataFrame) -> DataFrame:
    """Per-source token shares and the resampling weight that rebalances
    the corpus to a UNIFORM source mix — the arithmetic behind every
    training-mix rebalance, in exact integer ppm (engine-stable; a
    double ratio here would make the mix depend on accumulation order).

    weight_ppm > 1e6 means upsample, < 1e6 downsample. Two bounded
    aggregations: per-source totals, then one broadcast one-row global.
    """
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("text").isNull(), F.lit(0))
            .otherwise(token_count(F.col("text")))
            .cast("bigint")
        ).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_tot_tokens"),
        F.count(F.lit(1)).alias("_n_sources"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # the *1e6 products run in DECIMAL(38,0): a >9.2e12-token
            # source would overflow the BIGINT product under ANSI; NULLIF
            # guards make an all-empty corpus (tot=0) and a sub-ppm
            # source (share=0) explicit NULLs instead of runtime
            # DIVIDE_BY_ZERO errors
            F.expr(
                "(cast(n_tokens as decimal(38,0)) * 1000000)"
                " div NULLIF(_tot_tokens, 0)"
            ).alias("share_ppm"),
            F.expr(
                "((1000000 div _n_sources) * 1000000)"
                " div NULLIF((cast(n_tokens as decimal(38,0)) * 1000000)"
                " div NULLIF(_tot_tokens, 0), 0)"
            ).alias("weight_ppm"),
        )
    )


SOURCE_MIX_SQL = """
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN text IS NULL THEN 0
                  ELSE len({tokens}) END) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per
)
SELECT source, n_docs, n_tokens,
       CAST((CAST(n_tokens AS HUGEINT) * 1000000)
            // NULLIF(tot_tokens, 0) AS BIGINT) AS share_ppm,
       CAST(((1000000 // n_sources) * 1000000)
            // NULLIF((CAST(n_tokens AS HUGEINT) * 1000000)
                      // NULLIF(tot_tokens, 0), 0) AS BIGINT) AS weight_ppm
FROM per, tot
"""


# ---------------------------------------------------------------------------
# boilerplate REMOVAL (round 9): apply the cross-document repeated-span
# filter and report what survives — the C4-style "strip lines seen in
# many pages" step expressed at the token-shingle level (the fixture
# corpus has no newline structure, so the repeated-span unit is the
# SHINGLE_N word gram the rest of the dedup stack already uses).
# ---------------------------------------------------------------------------


def boilerplate_removal_stats(
    docs: DataFrame,
    min_docs: int = BOILERPLATE_MIN_DOCS,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Per-document kept/cut accounting after boilerplate removal: a
    token is REMOVED iff some ``n``-gram covering it occurs in >=
    ``min_docs`` distinct documents. Returns (doc_id, n_tokens,
    n_removed, kept_ratio) for every doc; kept_ratio is a ratio of
    exact integers (bit-identical cross-engine without a decimal hop).

    Scale: positional shingles shuffle as (doc_id, pos, 60-bit fp) —
    never text; document frequency is one fp-keyed aggregate; coverage
    explodes ``n`` positions ONLY for boilerplate-flagged shingle
    instances (a small fraction by construction) and dedups them
    before the per-doc count. No window over the corpus, no driver
    state."""
    from .text import fingerprint64

    # fanout (r11): parallelize tokenize/md5 past one exchange of the
    # compact doc rows; the doc_id window below reuses the partitioning
    toks = fanout(docs, "doc_id").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tail = [F.lead("tok", j).over(w) for j in range(1, n)]
    pos_sh = (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.col("tok"), *tail).alias("gram"),
            tail[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "pos", fingerprint64(F.col("gram")).alias("sh"))
        # consumed twice (the df aggregate AND the coverage join) — pin
        # the explode+window+md5 result so the shingle pass runs once,
        # the same twice-consumed-relation discipline as
        # selection._doc_bucket_counts/_doc_token_counts
        .localCheckpoint(eager=True)
    )
    boiler = (
        pos_sh.groupBy("sh")
        .agg(F.count_distinct(F.col("doc_id")).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("sh")
    )
    covered = (
        pos_sh.join(boiler, "sh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_removed"))
    )
    base = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return base.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        (
            (F.col("n_tokens") - F.coalesce("n_removed", F.lit(0))).cast(
                "double"
            )
            / F.col("n_tokens")
        ).alias("kept_ratio"),
    )


def boilerplate_removal_stats_sql(
    min_docs: int = BOILERPLATE_MIN_DOCS, n: int = SHINGLE_N
) -> str:
    from .text import fingerprint64_sql

    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
WITH d AS (
  SELECT doc_id, {TOKENS_SQL.format(c='text')} AS t FROM documents
),
ps AS (
  SELECT doc_id, i AS pos, {fingerprint64_sql(f"({gram})")} AS sh
  FROM d, unnest(range(1, len(t) - {n - 2})) AS r(i)
),
boiler AS (
  SELECT sh FROM ps GROUP BY sh
  HAVING COUNT(DISTINCT doc_id) >= {min_docs}
),
cov AS (
  SELECT DISTINCT ps.doc_id, ps.pos + j.j AS p
  FROM ps JOIN boiler USING (sh), unnest(range(0, {n})) AS j(j)
),
rem AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
  FROM cov GROUP BY 1
)
SELECT d.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
       CAST(len(t) - COALESCE(n_removed, 0) AS DOUBLE) / len(t)
         AS kept_ratio
FROM d LEFT JOIN rem ON d.doc_id = rem.doc_id
"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (round 9): the corpus-health power-law check —
# a pretraining pipeline tracks the rank-frequency slope per snapshot to
# catch tokenizer drift or a feed of machine-generated text (natural
# corpora sit near slope -1; template spam flattens the head).
# ---------------------------------------------------------------------------


def token_zipf_fit(docs: DataFrame) -> DataFrame:
    """One-row log-log OLS over the token rank-frequency curve:
    (n_vocab, slope, intercept, r2) of ln(freq) on ln(rank), ranks by
    (freq DESC, token ASC).

    Exactness: ln(rank)/ln(freq) round through round6 then land in
    DECIMAL(20,6); every OLS moment (Σx, Σy, Σxy, Σx², Σy²) is then an
    EXACT decimal sum — fully distributive/associative, so no ordered
    fold and no collect at any vocabulary size (the float-sum-order
    problem is gone by construction). The final slope/intercept/r2 are
    one-row double arithmetic from exact ingredients, op order
    mirrored by the oracle. Ranking uses the distributed global-rank
    machinery (range shuffle + literal offsets)."""
    from ..functions.ordered import with_global_rank
    from ..functions.stats import round6

    tc = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cw"))
    )
    ranked, nv = with_global_rank(
        tc, [F.col("cw").desc(), F.col("w").asc()], rank_col="rank"
    )
    d6 = "decimal(12,6)"
    d12 = "decimal(30,12)"
    pts = ranked.select(
        round6(F.log(F.col("rank").cast("double"))).cast(d6).alias("x"),
        round6(F.log(F.col("cw").cast("double"))).cast(d6).alias("y"),
    )
    sums = pts.agg(
        F.sum(F.col("x").cast(d12)).alias("sx"),
        F.sum(F.col("y").cast(d12)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d12)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d12)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d12)).alias("syy"),
    )
    nd = F.lit(float(nv))
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    den_x = nd * sxx - sx * sx
    den_y = nd * syy - sy * sy
    num = nd * sxy - sx * sy
    ok = (F.lit(nv) > 1) & (den_x > 0)
    slope = num / den_x
    intercept = (sy - slope * sx) / nd
    r2 = (num * num) / (den_x * den_y)
    return sums.select(
        F.lit(nv).cast("bigint").alias("n_vocab"),
        F.when(ok, round6(slope)).otherwise(
            F.lit(None).cast("double")
        ).alias("slope"),
        F.when(ok, round6(intercept)).otherwise(
            F.lit(None).cast("double")
        ).alias("intercept"),
        F.when(ok & (den_y > 0), round6(r2)).otherwise(
            F.lit(None).cast("double")
        ).alias("r2"),
    )


_Z_ROUND6 = "CAST(round(CAST({x} AS DECIMAL(30,12)), 6) AS DOUBLE)"

TOKEN_ZIPF_FIT_SQL = f"""
WITH toks AS (
  SELECT unnest({TOKENS_SQL.format(c='text')}) AS w FROM documents
),
vocab AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY w
),
ranked AS (
  SELECT cw, row_number() OVER (ORDER BY cw DESC, w ASC) AS rank
  FROM vocab
),
pts AS (
  SELECT CAST({_Z_ROUND6.format(x='ln(CAST(rank AS DOUBLE))')}
              AS DECIMAL(12,6)) AS x,
         CAST({_Z_ROUND6.format(x='ln(CAST(cw AS DOUBLE))')}
              AS DECIMAL(12,6)) AS y
  FROM ranked
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nv,
         SUM(CAST(x AS DECIMAL(30,12))) AS sx,
         SUM(CAST(y AS DECIMAL(30,12))) AS sy,
         SUM(CAST(x * y AS DECIMAL(30,12))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(30,12))) AS sxx,
         SUM(CAST(y * y AS DECIMAL(30,12))) AS syy
  FROM pts
),
calc AS (
  SELECT nv,
         CAST(nv AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(nv AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_x,
         CAST(nv AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM sums
)
SELECT nv AS n_vocab,
       CASE WHEN nv > 1 AND den_x > 0
            THEN {_Z_ROUND6.format(x='num / den_x')} END AS slope,
       CASE WHEN nv > 1 AND den_x > 0
            THEN {_Z_ROUND6.format(
                x='(syd - (num / den_x) * sxd) / CAST(nv AS DOUBLE)'
            )} END AS intercept,
       CASE WHEN nv > 1 AND den_x > 0 AND den_y > 0
            THEN {_Z_ROUND6.format(x='(num * num) / (den_x * den_y)')}
            END AS r2
FROM calc
"""
