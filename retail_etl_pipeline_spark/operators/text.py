"""Text-analysis operators for large-scale training-data pipelines.

Extension surface (SURVEY.md §2.10 / BASELINE.json north star): language ID
(stopword-marker heuristic), quality scoring (length / lexical-diversity /
stopword ratios), token counting (whitespace split), and document
fingerprinting (md5-based 60-bit id + SimHash).

Everything stays JVM-side: built-in string/array higher-order functions, no
Python UDFs in the hot path. Each operator has an exactly-equivalent DuckDB
SQL fragment (kept adjacent) so the oracle can replay it; shared constants
(stopword lists, hash widths) are interpolated into BOTH sides from the same
Python values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared constants (single source of truth for Spark AND oracle SQL)
# ---------------------------------------------------------------------------

#: Language marker words for the n-gram/stopword language-ID heuristic.
#: Order matters: ties resolve to the earlier language (deterministic).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "los", "que", "y", "una"),
}

#: Stopwords for the quality-score stopword ratio.
STOPWORDS: tuple[str, ...] = tuple(
    sorted({w for ws in LANG_MARKERS.values() for w in ws})
)

#: Hex digits of md5 kept for the 60-bit fingerprint (fits in BIGINT).
FP_HEX_DIGITS = 15
#: Bits of the SimHash signature (= 4 bits/hex digit * FP_HEX_DIGITS).
SIMHASH_BITS = 60


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# ---------------------------------------------------------------------------
# column expressions
# ---------------------------------------------------------------------------

def fanout(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition a relation whose SCAN yields fewer partitions than
    the cluster's parallelism, so the CPU-dense per-row work downstream
    (tokenize + explode + fingerprint chains) runs wide instead of inside
    a single scan task.

    Why (r11, guide §2.5 input skew): the bench fixtures are one small
    parquet file per table, so every documents scan is ONE partition and
    the whole split/md5/explode pipeline of the corpus operators ran
    single-threaded — thread dumps showed one RUNNABLE task in
    UTF8String.split/BigInteger math with 31 idle cores. Repartitioning by
    the row key BEFORE the heavy projection moves that work past an
    exchange of the compact base rows (text shuffles once, tokens never).

    Scale-adaptive by construction: when the scan already provides >=
    defaultParallelism partitions (any real input size), this returns the
    input unchanged — no exchange is added at cluster scale. When the
    downstream operator shuffles by the same key anyway (e.g. a window
    partitioned by doc_id), the repartition REPLACES that exchange rather
    than adding one (same hash partitioning, same partition count).

    The decision is read from the plan and never runs the input: only a
    file scan under projections and filters has its partition count
    read (its ``.rdd`` holds no exchange, so reading it launches no
    job). Any other input passes through unchanged — past an exchange
    under AQE, ``.rdd`` would run every upstream shuffle stage at build
    time, and the action would run them again."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.child()
    if node.getClass().getSimpleName() != "LogicalRelation":
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(*[F.col(c) for c in cols])


def tokens(c: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(c), r"\s+")


TOKENS_SQL = "regexp_split_to_array(trim({c}), '\\s+')"


def token_count(c: Column) -> Column:
    return F.size(tokens(c)).cast("bigint")


def fingerprint64(c: Column) -> Column:
    """60-bit document fingerprint: leading FP_HEX_DIGITS hex digits of
    md5(text) as a BIGINT. md5 is identical everywhere; 60 bits keeps the
    value positive in a signed 64-bit int on both engines."""
    return F.conv(F.substring(F.md5(c), 1, FP_HEX_DIGITS), 16, 10).cast("bigint")


def fingerprint64_sql(c: str) -> str:
    return f"CAST(('0x' || substring(md5({c}), 1, {FP_HEX_DIGITS})) AS BIGINT)"


# ---------------------------------------------------------------------------
# operators (DataFrame -> DataFrame)
# ---------------------------------------------------------------------------

def text_profile(docs: DataFrame) -> DataFrame:
    """Token/char counts + lexical diversity per document.

    avg_word_len and uniq_token_ratio are ratios of exact integers ->
    bit-identical across engines without decimal routing."""
    t = tokens(F.col("text"))
    n_tok = F.size(t).cast("bigint")
    n_char = F.length(F.col("text")).cast("bigint")
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast("bigint")
    n_uniq = F.size(F.array_distinct(t)).cast("bigint")
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("token_count"),
        n_char.alias("char_count"),
        (n_alpha.cast("double") / n_tok).alias("avg_word_len"),
        (n_uniq.cast("double") / n_tok).alias("uniq_token_ratio"),
    )


TEXT_PROFILE_SQL = f"""
SELECT doc_id,
       lang,
       CAST(len({TOKENS_SQL.format(c='text')}) AS BIGINT) AS token_count,
       CAST(length(text) AS BIGINT) AS char_count,
       CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         / len({TOKENS_SQL.format(c='text')}) AS avg_word_len,
       CAST(len(list_distinct({TOKENS_SQL.format(c='text')})) AS DOUBLE)
         / len({TOKENS_SQL.format(c='text')}) AS uniq_token_ratio
FROM documents
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Composite quality score in [0,1]:

    0.4 * lexical diversity + 0.3 * stopword-ratio proximity to ~0.4
    + 0.3 * length score (tokens capped at 300). All components are exact
    integer ratios and quarter/tenth multiples -> engine-stable; final
    rounding via the decimal route (functions.metrics.money semantics at
    4 decimals)."""
    t = tokens(F.col("text"))
    n_tok = F.size(t).cast("double")
    n_uniq = F.size(F.array_distinct(t)).cast("double")
    n_stop = F.size(
        F.filter(t, lambda x: x.isin(*STOPWORDS))
    ).cast("double")
    diversity = n_uniq / n_tok
    stop_ratio = n_stop / n_tok
    # proximity of the stopword ratio to a natural-language ~0.4 target
    stop_score = 1.0 - F.least(F.abs(stop_ratio - 0.4) / 0.4, F.lit(1.0))
    len_score = F.least(n_tok, F.lit(300.0)) / 300.0
    score = 0.4 * diversity + 0.3 * stop_score + 0.3 * len_score
    return docs.select(
        "doc_id",
        F.round(score.cast("decimal(20,8)"), 4).cast("double").alias(
            "quality_score"
        ),
        (n_stop / n_tok).alias("stopword_ratio"),
    )


QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {TOKENS_SQL.format(c='text')} AS toks
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq,
         CAST(len(list_filter(toks, x -> list_contains({_sql_list(STOPWORDS)}, x)))
              AS DOUBLE) AS n_stop
  FROM t
)
SELECT doc_id,
       CAST(round(CAST(
         0.4 * (n_uniq / n_tok)
         + 0.3 * (1.0 - least(abs(n_stop / n_tok - 0.4) / 0.4, 1.0))
         + 0.3 * (least(n_tok, 300.0) / 300.0)
       AS DECIMAL(20,8)), 4) AS DOUBLE) AS quality_score,
       n_stop / n_tok AS stopword_ratio
FROM c
"""


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID: count marker hits per language, argmax
    with deterministic precedence (LANG_MARKERS order); 'und' when no
    marker matches. The fixtures' ``lang`` column is kept alongside as the
    ground-truth label."""
    t = tokens(F.col("text"))

    def _in(words: tuple[str, ...]):
        # single-arg lambda: Spark's HOF wrapper maps each lambda parameter
        # to a bound variable, so the word list must be a closure
        return lambda x: x.isin(*words)

    counts = {
        lang: F.size(F.filter(t, _in(ws))).cast("bigint")
        for lang, ws in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_cnt = F.lit(0).cast("bigint")
    # precedence: earlier language wins ties -> fold from the LAST lang up,
    # replacing `best` whenever count >= max(best_count, 1)
    for lang in reversed(langs):
        c = counts[lang]
        best = F.when(
            c >= F.greatest(best_cnt, F.lit(1).cast("bigint")), F.lit(lang)
        ).otherwise(best)
        best_cnt = F.greatest(c, best_cnt)
    out = docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        best.alias("lang_pred"),
        *[counts[lang].alias(f"hits_{lang}") for lang in langs],
    )
    return out


def _language_id_sql() -> str:
    hits = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> list_contains({_sql_list(ws)}, x))) AS BIGINT) AS hits_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    # fold identical to the Spark loop: iterate langs from last to first,
    # replacing 'best' when count >= max(best_cnt, 1)
    best = "'und'"
    best_cnt = "CAST(0 AS BIGINT)"
    for lang in reversed(langs):
        c = f"hits_{lang}"
        best = f"CASE WHEN {c} >= greatest({best_cnt}, 1) THEN '{lang}' ELSE {best} END"
        best_cnt = f"greatest({c}, {best_cnt})"
    return f"""
WITH t AS (
  SELECT doc_id,
         lang,
         {TOKENS_SQL.format(c='text')} AS toks
  FROM documents
), h AS (
  SELECT doc_id,
         lang,
         {hits}
  FROM t
)
SELECT doc_id,
       lang AS lang_true,
       {best} AS lang_pred,
       {", ".join(f"hits_{lang}" for lang in langs)}
FROM h
"""


LANGUAGE_ID_SQL = _language_id_sql()


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """60-bit md5 fingerprint of the whitespace-normalized text — the
    cheap exact-dedup key at scale (group on a long, not on multi-KB
    strings)."""
    norm = F.concat_ws(" ", tokens(F.col("text")))
    return docs.select(
        "doc_id",
        fingerprint64(norm).alias("fingerprint"),
    )


DOC_FINGERPRINTS_SQL = f"""
SELECT doc_id,
       {fingerprint64_sql(f"array_to_string({TOKENS_SQL.format(c='text')}, ' ')")}
         AS fingerprint
FROM documents
"""


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash document signature (near-dup fingerprinting).

    Plan shape (all JVM, two shuffles):
    explode distinct tokens -> 60-bit token hash -> explode bit positions
    -> per (doc, bit) majority vote of +-1 -> OR the winning bits back into
    one BIGINT per doc. At 100 TB the explode factor (tokens x 60) is the
    cost driver; SIMHASH_BITS and the distinct-token prefilter bound it.
    """
    t = F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    toks = docs.select("doc_id", t)
    hashed = toks.select(
        "doc_id", fingerprint64(F.col("tok")).alias("h")
    )
    bits = hashed.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
    ).select(
        "doc_id",
        "b",
        F.when(F.expr("shiftright(h, b) & 1") == 1, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("vote"),
    )
    return (
        bits.groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("v"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("simhash")
        )
    )


SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({TOKENS_SQL.format(c='text')})) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, {fingerprint64_sql('tok')} AS h
  FROM toks
), bits AS (
  SELECT doc_id,
         b,
         CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END AS vote
  FROM hashed, unnest(range(0, {SIMHASH_BITS})) AS r(b)
), votes AS (
  SELECT doc_id, b, SUM(vote) AS v
  FROM bits
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization (north-star text analysis: whitespace + a
# BPE-style pre-tokenizer). The pattern is the GPT-2 pre-tokenizer's shape
# reduced to syntax shared by Java regex (Spark) and RE2 (DuckDB):
# letter runs | digit runs | single non-alnum-non-space marks. The class
# uses a literal space (not \s): Spark SQL string literals process
# backslash escapes while DuckDB's do not, so any backslash in the pattern
# would mean different regexes on the two sides.
# ---------------------------------------------------------------------------

BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_tokens(c: Column) -> Column:
    return F.expr(f"regexp_extract_all({c._jc.toString()}, '{BPE_PATTERN}', 0)")


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace AND BPE-ish token counts per document, plus their ratio
    (a cheap tokenizer-fertility proxy used for corpus mix monitoring)."""
    ws = tokens(F.col("text"))
    bpe = F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
    n_ws = F.size(ws).cast("bigint")
    n_bpe = F.size(bpe).cast("bigint")
    return docs.select(
        "doc_id",
        n_ws.alias("ws_tokens"),
        n_bpe.alias("bpe_tokens"),
        (n_bpe.cast("double") / n_ws).alias("fertility"),
    )


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       CAST(len({TOKENS_SQL.format(c='text')}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
         AS bpe_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS DOUBLE)
         / len({TOKENS_SQL.format(c='text')}) AS fertility
FROM documents
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: the per-document salient-term op of a
# training-data pipeline (tagging, clustering features, topic seeds)
# ---------------------------------------------------------------------------

#: keywords kept per document
TFIDF_TOP_K = 5


def tfidf_keywords(docs: DataFrame) -> DataFrame:
    """Top-``TFIDF_TOP_K`` tokens per document by TF-IDF.

    Plan: one token explode feeds BOTH the per-(doc, token) term counts
    and the document-frequency relation; the df table (vocabulary-sized,
    a sliver of the token stream) broadcasts back onto the term counts,
    and the per-doc top-k rides one window (doc-partitioned, never a
    global sort). The idf uses ln((N+1)/(df+1)) — the same two integer
    inputs and one double division/log in both engines, so the scores are
    bit-identical cross-engine without decimal routing.

    Ordering ties break on the token string, making the keyword set
    deterministic at any parallelism.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_rel = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_rel), "tok")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf").cast("double")
                * F.log(
                    (F.col("n_docs") + 1).cast("double")
                    / (F.col("df") + 1).cast("double")
                )
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "tok", "tfidf", F.col("rn").cast("int").alias("rank"))
    )


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
),
dfr AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id,
         tf.tok,
         CAST(tf.tf AS DOUBLE)
           * ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfr.df + 1 AS DOUBLE))
           AS tfidf
  FROM tf JOIN dfr ON tf.tok = dfr.tok, n
),
ranked AS (
  SELECT doc_id, tok, tfidf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, tok, tfidf, rank
FROM ranked
WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene): regex redaction of emails, card
# numbers, IPv4 addresses, and phone-like digit runs. Pure JVM/codegen
# regexp_replace chain — the patterns live in the common Java-regex/RE2
# subset (no lookaround) so the DuckDB oracle applies the IDENTICAL
# automaton. At 100 TB this is a map-only projection: no shuffle, fully
# pushdown-friendly, parallel per input split.
# ---------------------------------------------------------------------------

#: (name, pattern, replacement) — applied IN ORDER (cards before generic
#: phone digit-runs so a card never half-matches as a phone).
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b(?:\d{4}[ -]){3}\d{4}\b", "<CARD>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII redaction: counts each rule's matches on the ORIGINAL
    text, then applies the replacement chain. Output adds
    ``n_<rule>`` counts and ``scrubbed`` (the redacted text)."""
    out = docs
    scrubbed = F.col(text_col)
    for name, pat, repl in PII_RULES:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
            .cast("bigint"),
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn("scrubbed", scrubbed)


def scrub_pii_sql(text_expr: str) -> str:
    """DuckDB SELECT-list fragment mirroring :func:`scrub_pii` (counts on
    the original text + the chained redaction)."""
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all({text_expr}, '{pat}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    chained = text_expr
    for _, pat, repl in PII_RULES:
        chained = f"regexp_replace({chained}, '{pat}', '{repl}', 'g')"
    return f"{counts},\n       {chained} AS scrubbed"


# ---------------------------------------------------------------------------
# URL / domain analytics: extract http(s) URLs, explode, aggregate by
# registrable host. regexp_extract_all -> explode is the scalable shape
# (the fan-out happens executor-side per row); the domain aggregation is
# one hash shuffle on the domain key.
# ---------------------------------------------------------------------------

URL_PATTERN = r"https?://[^\s]+"
DOMAIN_PATTERN = r"https?://([^/\s]+)"


def extract_urls(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per URL occurrence: (doc_id, url, domain)."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
            ).alias("url"),
        )
        .withColumn("domain", F.regexp_extract("url", DOMAIN_PATTERN, 1))
    )


def domain_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain link profile: occurrences, distinct docs, distinct URLs."""
    return (
        extract_urls(docs, text_col)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count_distinct("url").alias("n_urls"),
        )
    )


DOMAIN_STATS_SQL = f"""
WITH urls AS (
  SELECT doc_id,
         unnest(regexp_extract_all({{text}}, '{URL_PATTERN}')) AS url
  FROM documents
)
SELECT regexp_extract(url, '{DOMAIN_PATTERN}', 1) AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls
FROM urls
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# URL canonicalization: the normalization pass before URL-level dedup of
# a web corpus (mixed-case hosts, tracking params, fragments, and
# trailing slashes all alias the same resource). Pure regexp chain in
# the Java-regex/RE2 common subset — map-only, oracle-replayable.
# ---------------------------------------------------------------------------

_URL_HEAD = r"^((?i:https?)://[^/?#]+)([^#]*)"  # (?i:) — scheme/host match any case


def canonicalize_url(url: Column) -> Column:
    """Normalize: drop #fragment, drop utm_* params (with separator
    repair), lowercase scheme+host (ONLY — paths stay case-sensitive),
    trim trailing slashes off the path."""
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.regexp_replace(u, r"utm_[A-Za-z_]+=[^&#]*&?", "")
    u = F.regexp_replace(u, r"[?&]+$", "")  # '?utm=x' -> '?' -> ''
    u = F.regexp_replace(u, r"\?&", "?")  # '?utm=x&a=1' -> '?&a=1' -> '?a=1'
    head = F.lower(F.regexp_extract(u, _URL_HEAD, 1))
    tail = F.regexp_extract(u, _URL_HEAD, 2)
    u = F.when(head == "", u).otherwise(F.concat(head, tail))
    return F.regexp_replace(u, r"/+$", "")


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB replica of :func:`canonicalize_url` — keep in sync."""
    u = f"regexp_replace({expr}, '#.*$', '')"
    u = f"regexp_replace({u}, 'utm_[A-Za-z_]+=[^&#]*&?', '', 'g')"
    u = f"regexp_replace({u}, '[?&]+$', '')"
    u = f"regexp_replace({u}, '\\?&', '?')"
    head = f"lower(regexp_extract({u}, '{_URL_HEAD}', 1))"
    tail = f"regexp_extract({u}, '{_URL_HEAD}', 2)"
    u = f"CASE WHEN {head} = '' THEN {u} ELSE {head} || {tail} END"
    return f"regexp_replace({u}, '/+$', '')"


# ---------------------------------------------------------------------------
# mapInArrow: zero-copy RecordBatch processing
# ---------------------------------------------------------------------------

def arrow_byte_profile(docs: DataFrame) -> DataFrame:
    """Per-source byte/char accounting computed through ``mapInArrow`` —
    the rawest Arrow exchange shape: the Python function receives
    ``pyarrow.RecordBatch`` objects directly (no pandas materialization,
    no per-row objects) and answers with RecordBatches. The kernel is
    pyarrow.compute's vectorized ``binary_length`` (UTF-8 bytes) and
    ``utf8_length`` (codepoints) — the storage-vs-token accounting a
    corpus intake tracks (bytes bill storage, chars approximate tokens).

    Use mapInArrow over mapInPandas when the kernel is already
    Arrow-native: pandas conversion would copy every string into Python
    objects just to hand them back. NULL text yields NULL lengths (sum
    skips them on both engines). Scale: map-only over Arrow batches;
    the groupBy is a bounded per-source aggregate."""
    import pyarrow as pa

    def lengths(batches):
        import pyarrow.compute as pc

        for batch in batches:
            t = batch.column(batch.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("source")),
                    pc.cast(pc.binary_length(t), pa.int64()),
                    pc.cast(pc.utf8_length(t), pa.int64()),
                ],
                names=["source", "n_bytes", "n_codepoints"],
            )

    per_doc = docs.select("source", "text").mapInArrow(
        lengths, "source string, n_bytes bigint, n_codepoints bigint"
    )
    return per_doc.groupBy("source").agg(
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum("n_codepoints").cast("bigint").alias("total_codepoints"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


ARROW_BYTE_PROFILE_SQL = """
SELECT source,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(SUM(length(text)) AS BIGINT) AS total_codepoints,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY source
"""


def bigram_pmi(
    docs: DataFrame, min_count: int = 5, top_k: int = 20
) -> DataFrame:
    """Top-``top_k`` collocations over a ``(doc_id, text)`` relation:
    adjacent token pairs ranked by pointwise mutual information
    ln(p(ab)/(p(a)·p(b))): ``(tok_a, tok_b, n_bigram, pmi)``.

    Bigrams come from a lead() window over position-exploded tokens
    (the DEVNOTES shingle pattern — no self-join on position); counts
    are exact decimals; the PMI argument is a ratio of two exact
    decimal products cast to double ONCE (bit-identical on any engine
    — no float accumulation), rounded through the scale-6 decimal hop
    so the ORDER BY key is tie-stable, with (tok_a, tok_b) breaking
    residual ties. Unigram probabilities use total TOKEN count, bigram
    probability uses total BIGRAM count (they differ by one per
    document). Plan: explode -> per-doc window -> three hash aggs +
    two vocab joins (AQE broadcasts the bounded vocab side) +
    TakeOrdered top-k; linear in corpus tokens."""
    from pyspark.sql import Window

    from ..functions.stats import round6

    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        F.col("tok").alias("a"), F.lead("tok").over(w).alias("b")
    ).where(F.col("b").isNotNull())
    bc = bi.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cab")
    )
    uc = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    tot = uc.agg(F.sum("c").alias("t")).crossJoin(
        bc.agg(F.sum("cab").alias("bt"))
    )
    ca = uc.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    cb = uc.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    return (
        bc.where(F.col("cab") >= min_count)
        .join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a").alias("tok_a"),
            F.col("b").alias("tok_b"),
            F.col("cab").cast("bigint").alias("n_bigram"),
            round6(
                F.log(
                    (F.col("cab") * F.col("t") * F.col("t")).cast("double")
                    / (F.col("bt") * F.col("c_a") * F.col("c_b")).cast(
                        "double"
                    )
                )
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1 — the
# published MassiveText filter rules, adapted word-based for this corpus)
# ---------------------------------------------------------------------------

#: published thresholds (word-count band, mean-word-length band, minimum
#: alphabetic-word fraction, minimum distinct stopwords, maximum
#: duplicate-2-gram fraction, maximum top-2-gram share)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3
GOPHER_MAX_MEAN_LEN = 10
GOPHER_MIN_ALPHA_NUM = 4  # alpha_frac >= 4/5
GOPHER_MIN_ALPHA_DEN = 5
GOPHER_MIN_STOPWORDS = 2
GOPHER_DUP2_NUM = 1  # dup_bigram_frac <= 1/5
GOPHER_DUP2_DEN = 5
GOPHER_TOP2_NUM = 1  # top_bigram_frac <= 1/5
GOPHER_TOP2_DEN = 5


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """Per-document Gopher/MassiveText quality rules: the measured
    signals, one boolean per rule, and the conjunction ``keep`` — the
    published pretraining filter battery as ONE relational pass.

    Every rule flag is decided by exact-INTEGER cross-multiplication
    (e.g. ``mean_word_len >= 3``  ⟺  ``sum_len >= 3 * n_tokens``), so
    the booleans are engine-stable with zero float involvement; the
    reported fractional columns are display-only round6 quotients of
    the same exact integers.

    Plan: one token explode feeding (a) a per-doc token aggregate
    (counts, character sum, alphabetic count, distinct stopwords) and
    (b) a bigram count -> per-doc bigram aggregate (total, distinct,
    max count) via the lead() window the shingle machinery uses; the
    two |docs|-bounded relations join on doc_id. Raw text never
    shuffles — only compact (doc, gram, count) rows."""
    from pyspark.sql import Window

    from ..functions.stats import round6

    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    per_tok = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.length("tok")).cast("bigint").alias("sum_len"),
        F.sum(
            F.when(F.col("tok").rlike("[a-zA-Z]"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alpha"),
        F.count_distinct(
            F.when(F.col("tok").isin(*STOPWORDS), F.col("tok"))
        )
        .cast("bigint")
        .alias("n_stop"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias(
                "bg"
            ),
            F.lead("tok", 1).over(w).alias("_nxt"),
        )
        .where(F.col("_nxt").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_bg = bigrams.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_bigrams"),
        F.max("cnt").cast("bigint").alias("max_bigram_cnt"),
    )
    j = per_tok.join(per_bg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "sum_len",
        "n_alpha",
        "n_stop",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("n_distinct_bigrams", F.lit(0)).alias(
            "n_distinct_bigrams"
        ),
        F.coalesce("max_bigram_cnt", F.lit(0)).alias("max_bigram_cnt"),
    )
    dup = F.col("n_bigrams") - F.col("n_distinct_bigrams")
    return j.select(
        "doc_id",
        "n_tokens",
        round6(
            F.col("sum_len").cast("double") / F.col("n_tokens")
        ).alias("mean_word_len"),
        round6(
            F.col("n_alpha").cast("double") / F.col("n_tokens")
        ).alias("alpha_frac"),
        F.col("n_stop").alias("n_stopwords"),
        round6(
            dup.cast("double") / F.nullif(F.col("n_bigrams"), F.lit(0))
        ).alias("dup_bigram_frac"),
        round6(
            F.col("max_bigram_cnt").cast("double")
            / F.nullif(F.col("n_bigrams"), F.lit(0))
        ).alias("top_bigram_frac"),
        (
            (F.col("n_tokens") >= GOPHER_MIN_WORDS)
            & (F.col("n_tokens") <= GOPHER_MAX_WORDS)
        ).alias("pass_word_count"),
        (
            (F.col("sum_len") >= GOPHER_MIN_MEAN_LEN * F.col("n_tokens"))
            & (F.col("sum_len") <= GOPHER_MAX_MEAN_LEN * F.col("n_tokens"))
        ).alias("pass_mean_len"),
        (
            GOPHER_MIN_ALPHA_DEN * F.col("n_alpha")
            >= GOPHER_MIN_ALPHA_NUM * F.col("n_tokens")
        ).alias("pass_alpha"),
        (F.col("n_stop") >= GOPHER_MIN_STOPWORDS).alias("pass_stopwords"),
        (GOPHER_DUP2_DEN * dup <= GOPHER_DUP2_NUM * F.col("n_bigrams")).alias(
            "pass_dup_bigram"
        ),
        (
            GOPHER_TOP2_DEN * F.col("max_bigram_cnt")
            <= GOPHER_TOP2_NUM * F.col("n_bigrams")
        ).alias("pass_top_bigram"),
        (
            (F.col("n_tokens") >= GOPHER_MIN_WORDS)
            & (F.col("n_tokens") <= GOPHER_MAX_WORDS)
            & (F.col("sum_len") >= GOPHER_MIN_MEAN_LEN * F.col("n_tokens"))
            & (F.col("sum_len") <= GOPHER_MAX_MEAN_LEN * F.col("n_tokens"))
            & (
                GOPHER_MIN_ALPHA_DEN * F.col("n_alpha")
                >= GOPHER_MIN_ALPHA_NUM * F.col("n_tokens")
            )
            & (F.col("n_stop") >= GOPHER_MIN_STOPWORDS)
            & (GOPHER_DUP2_DEN * dup <= GOPHER_DUP2_NUM * F.col("n_bigrams"))
            & (
                GOPHER_TOP2_DEN * F.col("max_bigram_cnt")
                <= GOPHER_TOP2_NUM * F.col("n_bigrams")
            )
        ).alias("keep"),
    )


GOPHER_QUALITY_SQL = f"""
WITH toks AS (
  -- parallel unnests zip positionally (the comps-CTE pattern)
  SELECT doc_id, unnest(ts) AS tok, unnest(range(len(ts))) AS pos
  FROM (
    SELECT doc_id, {TOKENS_SQL.format(c='text')} AS ts FROM documents
  ) d
),
per_tok AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
         CAST(SUM(CASE WHEN regexp_matches(tok, '[a-zA-Z]') THEN 1
                  ELSE 0 END) AS BIGINT) AS n_alpha,
         CAST(COUNT(DISTINCT CASE WHEN list_contains(
             {_sql_list(STOPWORDS)}, tok) THEN tok END) AS BIGINT)
           AS n_stop
  FROM toks GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
           AS bg
  FROM toks
),
bgc AS (
  SELECT doc_id, bg, COUNT(*) AS cnt
  FROM bg WHERE bg.bg IS NOT NULL
  GROUP BY doc_id, bg
),
per_bg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
         CAST(MAX(cnt) AS BIGINT) AS max_bigram_cnt
  FROM bgc GROUP BY doc_id
)
SELECT per_tok.doc_id,
       n_tokens,
       CAST(round(CAST(CAST(sum_len AS DOUBLE) / n_tokens
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS mean_word_len,
       CAST(round(CAST(CAST(n_alpha AS DOUBLE) / n_tokens
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS alpha_frac,
       n_stop AS n_stopwords,
       CAST(round(CAST(CAST(COALESCE(n_bigrams, 0)
                            - COALESCE(n_distinct_bigrams, 0) AS DOUBLE)
                       / NULLIF(n_bigrams, 0)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS dup_bigram_frac,
       CAST(round(CAST(CAST(COALESCE(max_bigram_cnt, 0) AS DOUBLE)
                       / NULLIF(n_bigrams, 0)
                       AS DECIMAL(20,9)), 6) AS DOUBLE) AS top_bigram_frac,
       n_tokens >= {GOPHER_MIN_WORDS} AND n_tokens <= {GOPHER_MAX_WORDS}
         AS pass_word_count,
       sum_len >= {GOPHER_MIN_MEAN_LEN} * n_tokens
         AND sum_len <= {GOPHER_MAX_MEAN_LEN} * n_tokens AS pass_mean_len,
       {GOPHER_MIN_ALPHA_DEN} * n_alpha
         >= {GOPHER_MIN_ALPHA_NUM} * n_tokens AS pass_alpha,
       n_stop >= {GOPHER_MIN_STOPWORDS} AS pass_stopwords,
       {GOPHER_DUP2_DEN} * (COALESCE(n_bigrams, 0)
                            - COALESCE(n_distinct_bigrams, 0))
         <= {GOPHER_DUP2_NUM} * COALESCE(n_bigrams, 0) AS pass_dup_bigram,
       {GOPHER_TOP2_DEN} * COALESCE(max_bigram_cnt, 0)
         <= {GOPHER_TOP2_NUM} * COALESCE(n_bigrams, 0) AS pass_top_bigram,
       (n_tokens >= {GOPHER_MIN_WORDS} AND n_tokens <= {GOPHER_MAX_WORDS}
        AND sum_len >= {GOPHER_MIN_MEAN_LEN} * n_tokens
        AND sum_len <= {GOPHER_MAX_MEAN_LEN} * n_tokens
        AND {GOPHER_MIN_ALPHA_DEN} * n_alpha
              >= {GOPHER_MIN_ALPHA_NUM} * n_tokens
        AND n_stop >= {GOPHER_MIN_STOPWORDS}
        AND {GOPHER_DUP2_DEN} * (COALESCE(n_bigrams, 0)
                                 - COALESCE(n_distinct_bigrams, 0))
              <= {GOPHER_DUP2_NUM} * COALESCE(n_bigrams, 0)
        AND {GOPHER_TOP2_DEN} * COALESCE(max_bigram_cnt, 0)
              <= {GOPHER_TOP2_NUM} * COALESCE(n_bigrams, 0)) AS keep
FROM per_tok LEFT JOIN per_bg ON per_tok.doc_id = per_bg.doc_id
"""


def gopher_keep_rate_by_source(docs: DataFrame) -> DataFrame:
    """Per-source quality-gate health: how much of each ingestion
    source the Gopher rule battery keeps, and which rule kills the
    rest — the same role :func:`..operators.dedup.neardup_rate_by_source`
    plays for the dedup stage. A source whose keep rate collapses is a
    feed that started shipping boilerplate.

    Returns one row per source: n_docs, n_kept, exact-integer
    keep_ppm = 1e6·n_kept div n_docs, one failure count per rule
    (counted over docs that produced tokens; a doc can fail several),
    and n_no_tokens (docs with no token rows — implicit rejects that
    have no per-rule flags). All counts are exact integers, so the
    oracle matches bit-for-bit.

    Plan: the rule battery's two |docs|-bounded aggregates, LEFT-joined
    back to the (doc_id, source) projection, one |sources|-bounded
    aggregation. Raw text never shuffles."""
    flags = gopher_quality_flags(docs)
    base = docs.select("doc_id", "source")
    j = base.join(flags, "doc_id", "left")

    def fails(col: str) -> Column:
        return F.sum(
            F.when(F.col(col) == F.lit(False), 1).otherwise(0)
        ).cast("bigint")

    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("keep") == F.lit(True), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
            fails("pass_word_count").alias("n_fail_word_count"),
            fails("pass_mean_len").alias("n_fail_mean_len"),
            fails("pass_alpha").alias("n_fail_alpha"),
            fails("pass_stopwords").alias("n_fail_stopwords"),
            fails("pass_dup_bigram").alias("n_fail_dup_bigram"),
            fails("pass_top_bigram").alias("n_fail_top_bigram"),
            F.sum(F.when(F.col("keep").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_no_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr(
                "CAST((CAST(n_kept AS DECIMAL(38,0)) * 1000000)"
                " div CAST(n_docs AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("keep_ppm"),
            "n_fail_word_count",
            "n_fail_mean_len",
            "n_fail_alpha",
            "n_fail_stopwords",
            "n_fail_dup_bigram",
            "n_fail_top_bigram",
            "n_no_tokens",
        )
    )


GOPHER_KEEP_RATE_SQL = f"""
WITH flags AS ({GOPHER_QUALITY_SQL}),
j AS (
  SELECT d.source, f.keep,
         f.pass_word_count, f.pass_mean_len, f.pass_alpha,
         f.pass_stopwords, f.pass_dup_bigram, f.pass_top_bigram
  FROM documents d LEFT JOIN flags f ON d.doc_id = f.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
         AS n_kept,
       CAST(CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS HUGEINT)
            * 1000000 // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS keep_ppm,
       CAST(COALESCE(SUM(CASE WHEN pass_word_count = false THEN 1 END), 0)
            AS BIGINT) AS n_fail_word_count,
       CAST(COALESCE(SUM(CASE WHEN pass_mean_len = false THEN 1 END), 0)
            AS BIGINT) AS n_fail_mean_len,
       CAST(COALESCE(SUM(CASE WHEN pass_alpha = false THEN 1 END), 0)
            AS BIGINT) AS n_fail_alpha,
       CAST(COALESCE(SUM(CASE WHEN pass_stopwords = false THEN 1 END), 0)
            AS BIGINT) AS n_fail_stopwords,
       CAST(COALESCE(SUM(CASE WHEN pass_dup_bigram = false THEN 1 END), 0)
            AS BIGINT) AS n_fail_dup_bigram,
       CAST(COALESCE(SUM(CASE WHEN pass_top_bigram = false THEN 1 END), 0)
            AS BIGINT) AS n_fail_top_bigram,
       CAST(COALESCE(SUM(CASE WHEN keep IS NULL THEN 1 END), 0) AS BIGINT)
         AS n_no_tokens
FROM j
GROUP BY source
"""
