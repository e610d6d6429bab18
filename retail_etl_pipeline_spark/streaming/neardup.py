"""Incremental MinHash-LSH near-duplicate detection (streaming fold).

Batch LSH (``operators/dedup.py``) re-hashes the whole corpus per run; a
100-TB corpus ingests incrementally, so the production shape is a fold:
keep the band-bucket index of everything seen so far as a state table,
and hash ONLY the new documents — each micro-batch joins its delta
against the existing buckets (new-vs-old) and against itself
(new-vs-new), appends the discovered pairs, then appends its delta to
the state. This is the incremental-HLL discipline (sketch-union fold in
``tests/test_streaming``) applied to LSH:

- the state table holds (doc_id, band_id, band_key) rows — bounded by
  corpus x LSH_BANDS, never raw pairwise comparisons;
- per-batch cost is O(|delta| x bucket collision rate), NOT
  O(|corpus|): the delta⋈state join touches only buckets the new docs
  hash into (at cluster scale, bucket/partition pruning on band_key);
- every pair is emitted EXACTLY once across batches — by the time doc b
  arrives, every earlier doc a sharing a bucket is in the state, so
  (a, b) surfaces in b's batch and never again (within-batch pairs are
  ordered doc_a < doc_b; per-fold DISTINCT collapses multi-band hits);
- replays are idempotent (foreachBatch is at-least-once on failure):
  every per-batch store (pairs, quality, shingle arrays, and the band
  state when batch-scoped) is partitioned by batch_id and written with
  DYNAMIC partition overwrite, so a replayed micro-batch replaces its
  own partition instead of double-appending; the label and canonical
  folds are idempotent by construction (re-folding already-folded
  pairs contracts to self-loops, and the canonical recompute is a pure
  function of labels + quality).

The full pipeline fold (:func:`dedup_pipeline_fold`) additionally keeps
a per-doc SHINGLE-ARRAY store so each batch's LSH candidates are
re-verified with exact Jaccard (>= JACCARD_THRESHOLD) before entering
the cluster state — the same two-stage contract as the batch
:func:`..operators.dedup.minhash_neardup_verified`: band collisions
propose, exact intersection disposes. The verify join touches only the
batch's candidate endpoints (two equi-joins against the store), never
re-shingles history.

Equivalence: after folding any partition of the corpus into batches in
any order, ``read_candidates`` == batch ``minhash_lsh_candidates`` on
the full corpus, and the pipeline's canonical table == the batch chain
``connected_components(minhash_neardup_verified(all docs))`` + best-
quality selection (both asserted in tests/test_streaming). Both sides
build the identical :func:`..operators.dedup.band_index` and
:func:`..operators.dedup.shingle_arrays` relations, so the equivalence
is structural.

State-existence probes go through the Hadoop FileSystem API for the
configured path scheme, so the folds behave identically on local
paths, HDFS, and object stores (a driver-local ``os.path`` probe would
silently report "no state" for any non-local URI and corrupt the
candidate set).

Reference parity note: the reference engine has no streaming near-dup;
this extends its batch dedup surface the same way incremental HLL
extends its rollups (SURVEY.md §2.10 extension discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import band_index

#: explicit read schemas: a zero-row partitioned write leaves a
#: _SUCCESS-only directory, and schema inference on it throws
#: UNABLE_TO_INFER_SCHEMA — killing the stream on the perfectly
#: plausible "first micro-batch had no candidate pairs" input.
_PAIRS_SCHEMA = "doc_a long, doc_b long"
_PAIRS_PART_SCHEMA = "doc_a long, doc_b long, batch_id int"
_SHINGLE_STORE_SCHEMA = (
    "doc_id long, shs array<long>, n_sh long, batch_id int"
)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Path existence through the Hadoop FileSystem API of the path's
    own scheme (file://, hdfs://, s3a://...) — NOT a driver-local
    os.path probe, which is always False for remote URIs and would make
    the folds silently treat real state as absent."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf).exists(jpath)


def _state_ready(spark: SparkSession, state_dir: str) -> bool:
    """True once the state directory holds actual data (any non-hidden
    entry: a part file or a batch_id= partition directory). A bare
    _SUCCESS probe is wrong twice over: dynamic partition overwrite
    commits write NO root _SUCCESS, and a zero-row commit writes ONLY
    _SUCCESS — both would misreport."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def lsh_fold_batch(
    batch_df: DataFrame,
    state_dir: str,
    pairs_dir: str,
    batch_id: int | None = None,
    sh: DataFrame | None = None,
) -> None:
    """Fold one micro-batch of documents into the LSH state.

    Appends this batch's (new-vs-old + new-vs-new) candidate pairs to
    ``pairs_dir`` and the batch's band index to ``state_dir``. Order of
    operations matters: pairs are computed against the state BEFORE the
    delta is appended to it, so within-batch pairs come only from the
    explicit delta self-join (no double counting).

    When ``batch_id`` is given, both writes are partitioned by it with
    dynamic partition overwrite: downstream folds (CC, canonical) read
    exactly this batch's pairs back with partition pruning
    (``dedup_pipeline_fold``), and a replayed micro-batch replaces its
    own partition instead of duplicating rows. ``sh`` optionally
    supplies a pre-computed (and ideally persisted) shingle relation so
    a caller that also needs shingles (the verify stage) shingles the
    batch once.
    """
    spark = batch_df.sparkSession
    delta = band_index(batch_df, sh=sh).persist()
    try:
        if delta.isEmpty():
            # nothing to index and no pair can involve this batch —
            # skip both writes so zero-row commits never poison later
            # schema inference on the state directory
            return
        within = (
            delta.alias("a")
            .join(
                delta.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
        )
        pairs = within
        if _state_ready(spark, state_dir):
            old = spark.read.parquet(state_dir)
            # new docs against existing buckets; doc ids normalized so
            # the pair orientation matches the batch join's a < b
            cross = (
                delta.alias("n")
                .join(
                    old.alias("o"),
                    (F.col("n.band_id") == F.col("o.band_id"))
                    & (F.col("n.band_key") == F.col("o.band_key"))
                    & (F.col("n.doc_id") != F.col("o.doc_id")),
                )
                .select(
                    F.least(
                        F.col("n.doc_id"), F.col("o.doc_id")
                    ).alias("doc_a"),
                    F.greatest(
                        F.col("n.doc_id"), F.col("o.doc_id")
                    ).alias("doc_b"),
                )
            )
            pairs = pairs.unionByName(cross)
        pairs = pairs.distinct()
        if batch_id is None:
            pairs.write.mode("append").parquet(pairs_dir)
            delta.write.mode("append").parquet(state_dir)
        else:
            _write_batch_partition(pairs, pairs_dir, batch_id)
            _write_batch_partition(delta, state_dir, batch_id)
    finally:
        delta.unpersist()


def _write_batch_partition(
    df: DataFrame, out_dir: str, batch_id: int
) -> None:
    """Append-as-overwrite: write ``df`` as the batch_id partition of
    ``out_dir``, replacing ONLY that partition (dynamic mode). Replayed
    micro-batches therefore rewrite their own partition — idempotent
    where a plain append would double-append."""
    df.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(out_dir)


def stream_lsh_candidates(
    docs_stream: DataFrame, state_dir: str, pairs_dir: str
):
    """writeStream.foreachBatch wiring of :func:`lsh_fold_batch` — the
    caller starts it with a checkpoint + trigger (see tests)."""
    return docs_stream.writeStream.foreachBatch(
        lambda df, _id: lsh_fold_batch(df, state_dir, pairs_dir)
    )


def read_candidates(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """The accumulated candidate-pair set. DISTINCT absorbs replayed
    micro-batches on the un-partitioned append path; an all-batches-
    empty (or not-yet-started) directory reads as an empty relation
    with the pair schema rather than failing inference."""
    if not _fs_exists(spark, pairs_dir):
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    try:
        df = spark.read.parquet(pairs_dir)
    except Exception:  # _SUCCESS-only directory: no files to infer from
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    return df.select("doc_a", "doc_b").distinct()


def _read_batch_pairs(
    spark: SparkSession, pairs_dir: str, batch_id: int
) -> DataFrame:
    """Exactly one batch's pairs back from the partitioned store —
    partition-pruned, explicit schema so a pair-less batch (no
    partition directory at all) reads as empty."""
    if not _state_ready(spark, pairs_dir):
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    return (
        spark.read.schema(_PAIRS_PART_SCHEMA)
        .parquet(pairs_dir)
        .where(F.col("batch_id") == batch_id)
        .select("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# incremental connected components: the fold AFTER the LSH fold
# ---------------------------------------------------------------------------


def cc_fold_batch(pairs_batch: DataFrame, labels_dir: str) -> None:
    """Fold one micro-batch of near-dup PAIRS into a persistent
    component-label table (doc_id, component = min reachable doc_id) —
    the incremental twin of :func:`..operators.dedup.
    connected_components`, so a streamed corpus keeps its dedup
    clusters current without ever re-clustering history.

    The trick is CONTRACTION: map each new edge's endpoints to their
    current component labels (two broadcast-friendly left joins against
    the state — a doc not yet labeled is its own label), then run
    connected components on the CONTRACTED edge list only. That graph
    is bounded by the BATCH (|contracted edges| <= |new pairs|), never
    the corpus: history participates only through its labels, and only
    the labels the batch actually touches. The resulting mapping
    (old label -> merged min label) remaps the state with one
    broadcast join. min is associative, so label-of-labels = min doc
    of the merged set = exactly what the batch algorithm computes on
    the full pair list (asserted in tests/test_streaming). Re-folding
    an already-folded batch contracts every edge to a self-loop and
    changes nothing — replay-idempotent.

    At 100 TB: per-batch cost is O(|delta| + |touched labels|); the
    contracted CC reuses the hybrid driver/star-contraction kernel,
    so a pathological merge-everything batch degrades to the batch
    algorithm's own distributed path rather than failing.
    """
    from ..operators.dedup import connected_components

    spark = pairs_batch.sparkSession
    delta = pairs_batch.select("doc_a", "doc_b").distinct().persist()
    try:
        have_state = _state_ready(spark, labels_dir)
        if have_state:
            state = spark.read.parquet(labels_dir)
            la = state.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "component", "ca"
            )
            lb = state.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "component", "cb"
            )
            contracted = (
                delta.join(la, "doc_a", "left")
                .join(lb, "doc_b", "left")
                .select(
                    F.coalesce("ca", "doc_a").alias("doc_a"),
                    F.coalesce("cb", "doc_b").alias("doc_b"),
                )
            )
        else:
            state = None
            contracted = delta
        # components over the batch-bounded contracted graph: node ids
        # here are labels (= min doc of their old component) or brand-new
        # doc ids, so the merged component is the min over the union
        merge = connected_components(
            contracted.where(F.col("doc_a") != F.col("doc_b"))
        ).withColumnsRenamed({"doc_id": "old", "component": "new"})
        if state is not None:
            remapped = (
                state.join(
                    merge, state.component == merge.old, "left"
                )
                .select(
                    "doc_id",
                    F.coalesce("new", "component").alias("component"),
                )
            )
            # docs first seen in this batch: endpoints not in the state
            fresh = (
                delta.select(F.col("doc_a").alias("doc_id"))
                .unionByName(delta.select(F.col("doc_b").alias("doc_id")))
                .distinct()
                .join(state.select("doc_id"), "doc_id", "left_anti")
                .join(merge, F.col("doc_id") == merge.old, "left")
                .select(
                    "doc_id", F.coalesce("new", "doc_id").alias("component")
                )
            )
            out = remapped.unionByName(fresh)
        else:
            out = merge.select(
                F.col("old").alias("doc_id"), F.col("new").alias("component")
            )
        # A/B write: materialize fully before replacing the state the
        # plan itself reads (overwrite-in-place would truncate our input)
        tmp = labels_dir + "__next"
        out.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(labels_dir)
    finally:
        delta.unpersist()


def stream_cc_labels(pairs_stream: DataFrame, labels_dir: str):
    """writeStream.foreachBatch wiring of :func:`cc_fold_batch`."""
    return pairs_stream.writeStream.foreachBatch(
        lambda df, _id: cc_fold_batch(df, labels_dir)
    )


# ---------------------------------------------------------------------------
# incremental canonical keep + the full streamed dedup pipeline
# ---------------------------------------------------------------------------


def canonical_fold_batch(
    pairs_batch: DataFrame,
    labels_dir: str,
    quality_dir: str,
    canon_dir: str,
) -> None:
    """Fold the keep-decision table (component, kept_doc, kept_quality,
    n_members) forward after a CC fold — the incremental twin of
    :func:`..operators.dedup.neardup_canonical_keep`.

    Only AFFECTED components are recomputed: a component's membership
    can change this batch only if it contains an endpoint of a batch
    pair (a new member arrives via a pair; a merge happens via a pair),
    so ``A`` = current labels of the batch's pair endpoints is the
    complete affected set. The update is then:

    - recompute (best member, size) for components in A from the labels
      + quality state — a bounded join + one aggregate (the max+argmax
      is the same lexicographic struct-max as the KS kernels: among
      exact quality ties the smaller doc_id wins, matching the batch
      operator's row_number tie-break);
    - keep old rows whose component is not in A AND still exists as a
      label (a component merged away this batch is no longer any row's
      label — its members' new label is in A, so the stale row is
      dropped by the existence semi-join).

    The quality store is read via its per-doc projection; the store is
    replay-idempotent by construction (per-batch partition overwrite in
    ``dedup_pipeline_fold``), so member counts cannot inflate.

    Per-batch cost: O(|batch pairs| + |members of affected components|
    + |components|) — never a full-corpus recompute. Must run AFTER
    :func:`cc_fold_batch` for the same batch (it reads the updated
    labels)."""
    spark = pairs_batch.sparkSession
    labels = spark.read.parquet(labels_dir)
    touched = (
        pairs_batch.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs_batch.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    affected = (
        labels.join(touched, "doc_id").select("component").distinct()
    )
    q = spark.read.parquet(quality_dir).select("doc_id", "quality_score")
    canon_new = (
        labels.join(F.broadcast(affected), "component")
        .join(q, "doc_id")
        .groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"),
                    (-F.col("doc_id")).alias("nd"),
                )
            ).alias("mx"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            (-F.col("mx.nd")).alias("kept_doc"),
            F.col("mx.q").alias("kept_quality"),
            "n_members",
        )
    )
    if _state_ready(spark, canon_dir):
        old = spark.read.parquet(canon_dir)
        live = labels.select("component").distinct()
        keep_old = old.join(affected, "component", "left_anti").join(
            live, "component", "left_semi"
        )
        out = keep_old.unionByName(canon_new)
    else:
        out = canon_new
    tmp = canon_dir + "__next"
    out.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(canon_dir)


def dedup_pipeline_fold(
    docs_batch: DataFrame,
    batch_id: int,
    base_dir: str,
    verify: bool = True,
) -> None:
    """ONE micro-batch through the complete incremental dedup pipeline:

    1. write the batch docs' quality scores (pure projection) and
       shingle arrays into per-doc stores — both partitioned by
       batch_id with dynamic overwrite, so replays are idempotent;
    2. LSH band fold (:func:`lsh_fold_batch`, reusing the batch's
       shingle relation) — candidate pairs out, band index forward;
    3. VERIFY (default): exact Jaccard >= JACCARD_THRESHOLD over this
       batch's candidate pairs, joining the shingle-array store — the
       same propose/dispose contract as the batch
       :func:`..operators.dedup.minhash_neardup_verified`. History is
       never re-shingled: the store already holds every earlier doc's
       array, and the equi-joins touch only the batch pairs' endpoints.
       ``verify=False`` keeps the cheaper candidates-as-clusters
       contract (band collisions straight into CC) and skips the
       shingle store entirely;
    4. CC fold (:func:`cc_fold_batch`) over the (verified) batch pairs;
    5. canonical fold (:func:`canonical_fold_batch`) — the keep/drop
       decision stays current.

    A pair-less batch (zero candidates, or all candidates refuted by
    verify) updates the stores and band state, then skips the CC and
    canonical folds — no label can change without a new pair, and a
    singleton doc is by contract absent from the cluster tables (same
    as the batch chain, whose components contain only paired docs).

    After any sequence of batches, the canonical table equals the batch
    chain ``connected_components(minhash_neardup_verified(all docs))``
    + best-quality selection computed from scratch (asserted in
    tests/test_streaming; with ``verify=False``, the same with
    ``minhash_lsh_candidates``).
    """
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        jaccard_verify_arrays,
        shingle_arrays,
        shingles,
    )
    from ..operators.text import quality_score

    spark = docs_batch.sparkSession
    quality_dir = f"{base_dir}/quality"
    bands_dir = f"{base_dir}/bands"
    pairs_dir = f"{base_dir}/pairs"
    shingles_dir = f"{base_dir}/shingles"
    labels_dir = f"{base_dir}/labels"
    canon_dir = f"{base_dir}/canonical"
    _write_batch_partition(
        quality_score(docs_batch).select("doc_id", "quality_score"),
        quality_dir,
        batch_id,
    )
    sh = shingles(docs_batch).persist()
    try:
        if verify:
            _write_batch_partition(
                shingle_arrays(sh), shingles_dir, batch_id
            )
        lsh_fold_batch(
            docs_batch, bands_dir, pairs_dir, batch_id=batch_id, sh=sh
        )
    finally:
        sh.unpersist()
    batch_pairs = _read_batch_pairs(spark, pairs_dir, batch_id)
    if verify and not batch_pairs.isEmpty():
        # the store necessarily holds every endpoint's array: earlier
        # docs' arrays were written by their own batches, this batch's
        # were written above before the LSH fold emitted any pair
        store = (
            spark.read.schema(_SHINGLE_STORE_SCHEMA)
            .parquet(shingles_dir)
            .select("doc_id", "shs", "n_sh")
        )
        batch_pairs = jaccard_verify_arrays(
            store, batch_pairs, JACCARD_THRESHOLD
        ).select("doc_a", "doc_b")
    batch_pairs = batch_pairs.persist()
    try:
        if batch_pairs.isEmpty():
            return
        cc_fold_batch(batch_pairs, labels_dir)
        canonical_fold_batch(
            batch_pairs, labels_dir, quality_dir, canon_dir
        )
    finally:
        batch_pairs.unpersist()


def stream_dedup_pipeline(
    docs_stream: DataFrame, base_dir: str, verify: bool = True
):
    """writeStream.foreachBatch wiring of :func:`dedup_pipeline_fold`."""
    return docs_stream.writeStream.foreachBatch(
        lambda df, bid: dedup_pipeline_fold(df, bid, base_dir, verify=verify)
    )


def gated_dedup_pipeline_fold(
    docs_batch: DataFrame,
    batch_id: int,
    base_dir: str,
    verify: bool = True,
) -> None:
    """The full INTAKE path in one fold: quality gate -> dedup ->
    canonical. Documents failing the Gopher/MassiveText rule battery
    (:func:`..operators.text.gopher_quality_flags`, ``keep`` = the
    conjunction of all rules) are quarantined BEFORE the dedup folds —
    they never enter the shingle store, never hash into the band
    state, never form candidate pairs. That is the production
    ordering: quality-rejected spam would otherwise bloat the LSH
    buckets it collides into (boilerplate is exactly the text most
    likely to near-dup) and pay shingling for docs the pipeline drops
    anyway.

    Per batch:

    1. quarantine store: the failing docs' full rule-flag rows, written
       to ``{base_dir}/quarantine`` partitioned by batch_id (dynamic
       overwrite — replay-idempotent like every other store here). The
       audit trail a curation pipeline reviews before tightening rules.
       A doc with zero tokens produces no flag row (the battery
       aggregates over exploded tokens) and is quarantined implicitly:
       the keep side is a LEFT SEMI join against passing doc_ids.
    2. the kept docs run the unchanged :func:`dedup_pipeline_fold`
       (same stores, same replay contract, same verify knob).

    3. intake-stats store: one row per (batch, source) with the exact
       keep/fail/no-token counts (``{base_dir}/intake_stats``, same
       partitioned dynamic-overwrite replay contract) — the stream-side
       feed of the :func:`..operators.text.gopher_keep_rate_by_source`
       monitor. Counts are written, rates derived at read time
       (:func:`read_intake_keep_rate`): summed counts re-aggregate
       exactly across batches, pre-computed ppm would not. When the
       stream carries no ``source`` column the stats roll up under the
       single source ``"_all"``.

    The gate is per-document and stateless, so batch-local application
    equals a global pre-filter; after any micro-batching the end state
    == the batch chain on ``docs.where(keep)`` (asserted in
    tests/test_streaming). Rule flags are exact-integer decisions, so
    stream and batch can never disagree on a borderline doc."""
    from ..operators.text import (
        gopher_keep_rate_by_source,
        gopher_quality_flags,
    )

    flags = gopher_quality_flags(docs_batch).persist()
    try:
        _write_batch_partition(
            flags.where(~F.col("keep")),
            f"{base_dir}/quarantine",
            batch_id,
        )
        with_src = (
            docs_batch
            if "source" in docs_batch.columns
            else docs_batch.withColumn("source", F.lit("_all"))
        )
        _write_batch_partition(
            gopher_keep_rate_by_source(with_src, flags=flags).drop(
                "keep_ppm"
            ),
            f"{base_dir}/intake_stats",
            batch_id,
        )
        kept = docs_batch.join(
            flags.where(F.col("keep")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        dedup_pipeline_fold(kept, batch_id, base_dir, verify=verify)
    finally:
        flags.unpersist()


def stream_gated_dedup_pipeline(
    docs_stream: DataFrame, base_dir: str, verify: bool = True
):
    """writeStream.foreachBatch wiring of
    :func:`gated_dedup_pipeline_fold`."""
    return docs_stream.writeStream.foreachBatch(
        lambda df, bid: gated_dedup_pipeline_fold(
            df, bid, base_dir, verify=verify
        )
    )


_INTAKE_COUNT_COLS = [
    "n_docs",
    "n_kept",
    "n_fail_word_count",
    "n_fail_mean_len",
    "n_fail_alpha",
    "n_fail_stopwords",
    "n_fail_dup_bigram",
    "n_fail_top_bigram",
    "n_no_tokens",
]

_INTAKE_SCHEMA = (
    "source string, "
    + ", ".join(f"{c} long" for c in _INTAKE_COUNT_COLS)
    + ", batch_id int"
)


def read_intake_stats(spark: SparkSession, base_dir: str) -> DataFrame:
    """The accumulated per-(batch, source) intake counts written by
    :func:`gated_dedup_pipeline_fold` — one monitoring row per source
    per micro-batch. Not-yet-started stores read as an empty relation
    with the stats schema."""
    stats_dir = f"{base_dir}/intake_stats"
    if not _fs_exists(spark, stats_dir):
        return spark.createDataFrame([], _INTAKE_SCHEMA)
    try:
        df = spark.read.parquet(stats_dir)
    except Exception:  # _SUCCESS-only directory
        return spark.createDataFrame([], _INTAKE_SCHEMA)
    return df.select(
        "source", *_INTAKE_COUNT_COLS, F.col("batch_id").cast("int")
    )


def read_intake_keep_rate(spark: SparkSession, base_dir: str) -> DataFrame:
    """The stream-side quality-gate monitor: per-source keep rates over
    EVERYTHING the gated stream has ingested so far — exact-count sums
    across the batch partitions with keep_ppm derived at read time, so
    the result equals :func:`..operators.text.gopher_keep_rate_by_source`
    run on the concatenated batches (asserted in tests/test_streaming;
    a per-batch ppm average would NOT re-aggregate). The gate is
    stateless per document, so this is also what the batch monitor
    would report on the same corpus."""
    stats = read_intake_stats(spark, base_dir)
    return (
        stats.groupBy("source")
        .agg(
            *[
                F.sum(c).cast("bigint").alias(c)
                for c in _INTAKE_COUNT_COLS
            ]
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr(
                "CAST((CAST(n_kept AS DECIMAL(38,0)) * 1000000)"
                " div CAST(n_docs AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("keep_ppm"),
            *_INTAKE_COUNT_COLS[2:],
        )
    )


# ---------------------------------------------------------------------------
# store compaction: the small-files countermeasure for long-running folds
# ---------------------------------------------------------------------------

#: reserved batch_id partition holding compacted history
COMPACTED_BATCH_ID = -1


def compact_batches(
    spark: SparkSession, store_dir: str, up_to_batch: int
) -> int:
    """Compact a batch-partitioned fold store: rewrite every partition
    with batch_id <= ``up_to_batch`` (plus any previous compaction) into
    the single reserved ``batch_id=-1`` partition and delete the
    originals. Returns the number of partitions removed.

    Why: a fold writing one partition per micro-batch accumulates
    thousands of small files over a long-running stream — the classic
    small-files problem; listing and footer overhead eventually dominate
    the delta joins. Compaction is safe for any store whose readers are
    insensitive to row multiplicity across partitions (the BANDS state —
    join keys only — and the PAIRS store — DISTINCT-absorbed). Only
    compact batches strictly below the stream's current watermark:
    foreachBatch replays at most the LAST uncommitted batch, so a
    replayed batch's partition must still exist to be overwritten
    (compacting it away would re-append instead). The quality/shingle
    stores satisfy the same contract but their n_members/verify readers
    assume per-doc uniqueness — compact them only at stream quiesce.

    Write-then-delete ordering: the compacted partition commits before
    originals are removed, so a crash mid-delete leaves duplicate rows
    (absorbed by the DISTINCT readers), never lost rows."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return 0
    victims = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid == COMPACTED_BATCH_ID or bid <= up_to_batch:
            victims.append((bid, status.getPath()))
    real = [b for b, _ in victims if b != COMPACTED_BATCH_ID]
    if not real:
        return 0
    df = spark.read.parquet(store_dir).where(
        (F.col("batch_id") <= up_to_batch)
        | (F.col("batch_id") == COMPACTED_BATCH_ID)
    )
    # A/B through a sibling temp dir: the compacted write reads the very
    # partitions it replaces
    tmp = store_dir.rstrip("/") + "__compact"
    df.drop("batch_id").coalesce(1).write.mode("overwrite").parquet(tmp)
    _write_batch_partition(
        spark.read.parquet(tmp), store_dir, COMPACTED_BATCH_ID
    )
    removed = 0
    for bid, path in victims:
        if bid == COMPACTED_BATCH_ID:
            continue  # replaced in-place by the dynamic overwrite
        fs.delete(path, True)
        removed += 1
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    return removed
