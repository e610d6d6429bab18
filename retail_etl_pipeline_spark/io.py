"""Sources and sinks (SURVEY.md §2.1).

Covers the reference's scan/sink surface, Spark-first:

- S1  CSV scan with explicit schema (vs ``inferSchema=True``,
  ``Data Transformation.py:24-34``) — one scan, deterministic types.
- S2  Partitioned parquet sink — drops the reference's ``repartition(1)``
  single-task write and its malformed ``.option("csv")``
  (``Data Transformation.py:181``); partition pruning comes free for readers.
- S4  Bulk CSV -> managed table (``Data Ingestion.sql:7-15``).
- S5  Filtered CSV export (``Data Load.sql:4-41``), and its per-file
  size cap as a byte-targeted sink (:func:`write_sized`).
- C6  Run-scoped ``date=`` partition publish. Registering the published
  output in the catalog (S7/S8) is ``pipeline.run_pipeline``'s
  ``register_as``; the object-store config (S3) is
  ``session.configure_object_store``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------------------
# sources
# --------------------------------------------------------------------------

def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1: CSV scan — header row, comma-delimited, explicit schema.

    Mirrors the warehouse file format (delimiter ',', skip 1 header row —
    ``Data Ingestion.sql:7-10``) without the inference scan.
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


# --------------------------------------------------------------------------
# sinks
# --------------------------------------------------------------------------

def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S2: parquet sink, idempotent overwrite, optional partition layout.

    The reference writes one forced file under a ``date={ds}`` prefix
    (``Data Transformation.py:181``); here the run-date partitioning is a
    real ``partitionBy`` column (partition pruning for downstream SQL, C6)
    and write parallelism is left to the upstream plan — no ``repartition(1)``
    choke point.
    """
    writer = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        writer = writer.partitionBy(*cols)
    writer.parquet(path)


def write_run_partition(df: DataFrame, path: str, run_date: str) -> None:
    """C6: run-scoped publish — adds a ``date`` column for the run and
    overwrites only that partition (idempotent daily re-runs)."""
    (
        df.withColumn("date", F.lit(run_date).cast("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(path)
    )


def write_sized(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 107_772_160,
    fmt: str = "parquet",
    sample_rows: int = 50_000,
    mode: str = "overwrite",
    safety: float = 0.9,
    persist_input: bool = False,
) -> int:
    """Byte-TARGETED sink: cap output files near ``target_file_bytes``.

    Reproduces the reference's per-file unload cap
    (``Snow Flake/Data Load.sql:7-9``, ``MAX_FILE_SIZE=107772160``) on an
    engine whose only native knob is row-count based
    (``spark.sql.files.maxRecordsPerFile``). The bytes->rows conversion is
    calibrated, not guessed:

    1. write a bounded sample (``limit(sample_rows)``) to a sibling
       calibration prefix — ONE small job, any Hadoop filesystem;
    2. measure encoded bytes/row from the calibration files via the
       FileSystem API (works on hdfs/s3a, not just local);
    3. write the full frame with ``maxRecordsPerFile = safety *
       target_bytes / bytes_per_row``.

    ``safety < 1`` biases files slightly UNDER target: large files encode
    better per row than the sample (dictionary/RLE amortization), so the
    sample overestimates bytes/row; both effects point the same, safe
    direction. Returns the records-per-file cap used (0 = uncapped: empty
    input). The cap bounds file size, not task memory — writer memory is
    governed by partition sizing as usual.

    Cost note: the calibration write re-executes ``df``'s upstream DAG
    (``limit`` only short-circuits plain scans). Pass
    ``persist_input=True`` when the input is an expensive derived frame
    that fits cache — it is persisted across both writes and released
    after. For inputs too large to cache, calibrate bytes/row offline
    (table stats) and set ``maxRecordsPerFile`` directly instead.
    """
    spark = df.sparkSession
    if persist_input:
        df = df.persist()
    calib = path.rstrip("/") + "__calibration"
    df.limit(sample_rows).write.mode("overwrite").format(fmt).save(calib)

    jvm = spark._jvm  # Hadoop FileSystem API (portable across hdfs/s3a/file)
    jpath = jvm.org.apache.hadoop.fs.Path(calib)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    n_bytes = fs.getContentSummary(jpath).getLength()
    n_rows = spark.read.format(fmt).load(calib).count()
    fs.delete(jpath, True)

    cap = 0
    writer = df.write.mode(mode).format(fmt)
    if n_rows > 0 and n_bytes > 0:
        bytes_per_row = n_bytes / n_rows
        cap = max(1, int(safety * target_file_bytes / bytes_per_row))
        writer = writer.option("maxRecordsPerFile", cap)
    writer.save(path)
    if persist_input:
        df.unpersist()
    return cap


def csv_to_table(
    spark: SparkSession, path: str, schema: T.StructType, table: str
) -> None:
    """S4: bulk CSV load into a managed table (COPY INTO analog,
    ``Data Ingestion.sql:7-15,45,63,81,99,114``)."""
    read_csv(spark, path, schema).write.mode("overwrite").saveAsTable(table)


def export_csv(
    df: DataFrame,
    path: str,
    predicate: Column | str | None = None,
    header: bool = True,
    single_file: bool = False,
) -> None:
    """S5: filtered table export to CSV (``Data Load.sql:4-41``).

    ``predicate`` mirrors the ``WHERE dt <= CURRENT_DATE()`` exports (F4).
    ``single_file`` reproduces the reference's ``single=true`` knob — off by
    default (a single output task is a scale anti-pattern).

    The reference also caps each unloaded file at ~103 MiB
    (``Snow Flake/Data Load.sql:7-9`` MAX_FILE_SIZE). A byte-EXACT cap is
    not reproducible on Spark's row-count-based writer knob; the
    calibrated byte-TARGETED equivalent is :func:`write_sized`.
    """
    if predicate is not None:
        df = df.filter(predicate)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").option("header", header).csv(path)
