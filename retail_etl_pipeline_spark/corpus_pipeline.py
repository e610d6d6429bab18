"""End-to-end corpus-preparation pipeline: the LLM-data twin of the
retail ``run_pipeline`` (SURVEY.md §2.8 / §2.10).

One pass over the raw documents computes every per-doc decision as a
column — duplicate-of (fingerprint groupBy + skew-splittable equi-join),
quality flags (pure projections), split assignment (multiplicative
hash) — and the single partitioned write publishes BOTH streams: kept
docs under
``split=train|val|test`` and rejects under ``split=rejected`` with a
``reason`` column for audit (the quarantine pattern; silently dropping
rows loses the provenance a data-governed pipeline must keep).

Data-quality counters ride the write via ``observe()`` — no validation
re-scan (at 100 TB a second pass over the corpus is the cost of the
whole job again).

Scale notes:
- The pre-write shuffles are the fingerprint groupBy (map-side combined
  to (fingerprint, min) pairs) and the keeper equi-join, which AQE can
  skew-split when one document is duplicated millions of times;
  everything else is projection.
- The write itself is partitioned by split with dynamic partition
  overwrite — re-running a day is idempotent and touches only the
  partitions it produces.
- ``repartition(split)`` is deliberately NOT done: four giant reducers
  would bottleneck the write; letting tasks write into all four
  partitions keeps write parallelism at the task count.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.corpus import split_assignment
from .operators.text import fingerprint64, tokens

#: quality gates (documents below/above are quarantined)
MIN_TOKENS = 5
MAX_TOKENS = 100_000
#: minimum distinct-token ratio (degenerate repetition gate)
MIN_UNIQ_RATIO = 0.2


def prepare_corpus(docs: DataFrame) -> DataFrame:
    """Annotate every document with its pipeline decision.

    Adds: ``fingerprint``, ``n_tokens``, ``reason`` (null = kept) and
    ``split`` (train/val/test, or 'rejected' when reason is set). The
    duplicate keeper is the smallest doc_id per fingerprint —
    deterministic under any partitioning, unlike ``dropDuplicates``.
    """
    required = {"doc_id", "text"}
    missing = required - set(docs.columns)
    if missing:
        raise ValueError(
            f"prepare_corpus needs columns {sorted(required)}; "
            f"input is missing {sorted(missing)}"
        )
    t = tokens(F.col("text"))
    norm = F.concat_ws(" ", t)
    staged = docs.select(
        "*",
        fingerprint64(norm).alias("fingerprint"),
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("bigint").alias("n_uniq"),
    )
    # Keeper via groupBy + equi-join, NOT a window over fingerprint: a
    # mass-duplicated document (the exact case dedup exists for) makes the
    # fingerprint a hot key, and a window partition cannot be split — one
    # task would receive every copy with its full text. The groupBy
    # partial-aggregates map-side to (fingerprint, min) pairs, and AQE's
    # skew-join splitting can divide the hot fingerprint's probe rows
    # across tasks at the join.
    #
    # Keepers are computed over VALID docs only (text and doc_id non-null):
    # a NULL-text doc normalizes to the same fingerprint as a genuinely
    # empty doc, and letting it win the keeper race would reject the real
    # doc as a 'duplicate' of a quarantined one. The join is LEFT so a
    # fingerprint with no valid keeper (only invalid docs carry it) still
    # flows through to the 'invalid' gate instead of being dropped.
    valid = F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    keepers = (
        staged.where(valid)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("_keeper_doc_id"))
    )
    staged = staged.join(keepers, "fingerprint", "left")
    # 'invalid' must lead: every later predicate is NULL (hence false) on
    # NULL text/doc_id, which would otherwise publish the doc unchecked —
    # the exact quarantine-contract violation this gate exists to close.
    reason = (
        F.when(~valid, "invalid")
        .when(F.col("doc_id") != F.col("_keeper_doc_id"), "duplicate")
        .when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("n_tokens") > MAX_TOKENS, "too_long")
        .when(
            F.col("n_uniq") / F.col("n_tokens") < MIN_UNIQ_RATIO,
            "repetitive",
        )
    )
    return (
        staged.select(
            "*",
            reason.alias("reason"),
        )
        .withColumn(
            "split",
            F.when(F.col("reason").isNotNull(), F.lit("rejected")).otherwise(
                split_assignment()
            ),
        )
        .drop("_keeper_doc_id")
    )


@dataclass
class CorpusPipelineResult:
    output_path: str
    #: counters observed during the write: n_docs, n_rejected,
    #: n_duplicates, n_low_quality, n_kept_tokens
    metrics: dict


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    output_path: str,
    register_as: str | None = "corpus",
) -> CorpusPipelineResult:
    """Prepare + publish: one scan, one partitioned write, audit stream
    included, DQ counters observed on the write job itself. The
    ``register_as`` view is read with the schema the writer lays out
    (the data columns, then ``split STRING``), so registering it runs no
    schema-inference job."""
    staged = prepare_corpus(docs)
    obs = Observation("corpus_dq")
    staged = staged.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        # when/otherwise, not bare comparisons: (NULL = x) is NULL, and a
        # sum over all-NULL (e.g. zero rejects) would report NULL, not 0
        F.sum(
            F.when(F.col("split") == "rejected", 1).otherwise(0)
        ).alias("n_rejected"),
        F.sum(
            F.when(F.col("reason") == "duplicate", 1).otherwise(0)
        ).alias("n_duplicates"),
        F.sum(
            F.when(
                F.col("reason").isin(
                    "too_short", "too_long", "repetitive", "invalid"
                ),
                1,
            ).otherwise(0)
        ).alias("n_low_quality"),
        F.sum(
            F.when(F.col("reason").isNull(), F.col("n_tokens")).otherwise(0)
        ).alias("n_kept_tokens"),
    )
    (
        staged.write.partitionBy("split")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(output_path)
    )
    if register_as is not None:
        # the layout the writer produced, declared: no inference job
        published_schema = T.StructType(
            [f for f in staged.schema if f.name != "split"]
            + [T.StructField("split", T.StringType())]
        )
        spark.read.schema(published_schema).parquet(
            output_path
        ).createOrReplaceTempView(register_as)
    return CorpusPipelineResult(output_path=output_path, metrics=dict(obs.get))


def training_manifest(
    corpus: DataFrame,
    block_tokens: int = 512,
    stream_col: str = "source",
) -> DataFrame:
    """Packing manifest for the published corpus: the concat-and-chunk
    block placement (operators/corpus.packing_index) of every KEPT
    train-split document, per packing stream.

    This is the step after publish: a trainer consuming the corpus needs
    to know which 512-token block each document occupies without
    re-tokenizing the world — the manifest is that index, and because the
    packing arithmetic is deterministic (prefix sums + integer division),
    re-running it against the same published corpus always yields the
    same blocks (cache-safe, diffable across pipeline versions).

    Requires ``stream_col`` (the per-stream concat order is only
    meaningful within a stream); quarantined and non-train docs are
    excluded BEFORE the cumsum so rejected text can never shift block
    boundaries.
    """
    from .operators.corpus import packing_index

    if stream_col not in corpus.columns:
        raise ValueError(
            f"training_manifest needs a {stream_col!r} column to define "
            "packing streams (a global single-stream pack would serialize "
            "into one partition)"
        )
    kept_train = corpus.where(
        F.col("reason").isNull() & (F.col("split") == "train")
    )
    base = kept_train.select(
        F.col(stream_col).alias("source"), "doc_id", "text"
    )
    return packing_index(base, block_tokens=block_tokens)

