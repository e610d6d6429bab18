"""Pipeline-layer tests (SURVEY.md §2.8): readiness gate, table mapping,
end-to-end run over retail-shaped CSVs, alert callback, idempotent re-run."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_spark import pipeline as pl

RUN_DATE = "2024-03-15"
DATESTR = "20240315"

TMP = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".tmp", "pipeline")


@pytest.fixture(scope="module")
def retail_csvs(spark):
    """Tiny retail star-schema CSVs for one run date."""
    shutil.rmtree(TMP, ignore_errors=True)
    indir = os.path.join(TMP, "in")
    os.makedirs(indir, exist_ok=True)

    files = {
        "sales": (
            "trans_id,prod_key,store_key,trans_dt,trans_time,sales_qty,"
            "sales_price,sales_amt,discount,sales_cost,sales_mgrn,ship_cost\n"
            "1,10,1,2024-03-11,900,2.0,5.0,10.0,0.0,8.0,2.0,1.0\n"
            "2,10,1,2024-03-12,930,4.0,5.0,20.0,0.0,16.0,4.0,1.0\n"
            "3,20,1,2024-03-12,940,1.0,7.0,7.0,0.0,6.0,1.0,1.0\n"
            "4,10,2,2024-03-13,1000,3.0,5.0,15.0,0.0,12.0,3.0,1.0\n"
        ),
        "inventory": (
            "cal_dt,store_key,prod_key,inventory_on_hand_qty,"
            "inventory_on_order_qty,out_of_stock_flg,waste_qty,promotion_flg,"
            "next_delivery_dt\n"
            "2024-03-11,1,10,5.0,1.0,0,0.0,false,2024-03-18\n"
            "2024-03-12,1,10,1.0,2.0,1,0.0,false,2024-03-18\n"
            "2024-03-12,1,20,9.0,0.0,0,0.0,false,2024-03-18\n"
            "2024-03-13,2,10,2.0,3.0,0,0.0,true,2024-03-18\n"
        ),
        "product": (
            "prod_key,prod_name,vol,wgt,brand_name,status_code,"
            "status_code_name,category_key,category_name,subcategory_key,"
            "subcategory_name\n"
            "10,widget,1.0,1.0,acme,1,active,1,tools,1,hand\n"
            "20,gadget,1.0,1.0,acme,1,active,1,tools,1,hand\n"
        ),
        "store": (
            "store_key,store_num,store_desc,addr,city,region,cntry_cd,"
            "cntry_nm,postal_zip_cd,prov_state_desc,prov_state_cd,"
            "store_type_cd,store_type_desc,frnchs_flg,store_size,market_key,"
            "market_name,submarket_key,submarket_name,latitude,longitude\n"
            "1,S1,main,addr,city,west,US,USA,12345,CA,CA,T1,big,false,"
            "100.0,1,west,1,west,1.0,2.0\n"
            "2,S2,other,addr,city,east,US,USA,12345,NY,NY,T1,big,true,"
            "100.0,2,east,2,east,1.0,2.0\n"
        ),
        "calendar": (
            "cal_dt,cal_type_desc,day_of_wk_num,day_of_wk_desc,yr_num,"
            "wk_num,yr_wk_num,mnth_num,yr_mnth_num,qtr_num,yr_qtr_num\n"
            "2024-03-11,day,1,Mon,2024,11,202411,3,202403,1,20241\n"
            "2024-03-12,day,2,Tue,2024,11,202411,3,202403,1,20241\n"
            "2024-03-13,day,3,Wed,2024,11,202411,3,202403,1,20241\n"
        ),
    }
    for table, content in files.items():
        with open(os.path.join(indir, f"{table}_{DATESTR}.csv"), "w") as f:
            f.write(content)
    yield indir
    shutil.rmtree(TMP, ignore_errors=True)


def test_readiness_gate_missing(retail_csvs):
    ready, missing = pl.readiness_check(retail_csvs, "2024-03-16")
    assert not ready
    assert f"sales_20240316.csv" in missing and len(missing) == 5


def test_readiness_gate_ready(retail_csvs):
    ready, missing = pl.readiness_check(retail_csvs, RUN_DATE)
    assert ready and missing == []


def test_table_paths(retail_csvs):
    paths = pl.table_paths(retail_csvs, RUN_DATE)
    assert set(paths) == {"sales", "inventory", "product", "store", "calendar"}
    assert paths["sales"].endswith(f"sales_{DATESTR}.csv")


def test_alert_callback_on_missing(spark, retail_csvs):
    alerts = []
    res = pl.run_pipeline(
        spark, "2024-03-16", retail_csvs, os.path.join(TMP, "out"),
        on_missing=alerts.append,
    )
    assert not res.ran
    assert alerts and len(alerts[0]) == 5


class _FakeSMTP:
    """Stands in for smtplib.SMTP: records sent messages, no network."""

    sent: list = []

    def __init__(self, host, port):
        self.host, self.port = host, port

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def send_message(self, msg):
        _FakeSMTP.sent.append((self.host, self.port, msg))


def test_smtp_alert_message_contract(spark, retail_csvs):
    """S10 concrete transport: the SMTP callback sends the reference SES
    subject (``AWS SES.py:15``) + body preamble (``:18``) and enumerates
    the missing files."""
    from retail_etl_pipeline_spark import alerts

    _FakeSMTP.sent = []
    cb = alerts.smtp_alert(
        "etl@example.com", "oncall@example.com",
        host="mail.example.com", port=2525,
        location="/data/in", smtp_factory=_FakeSMTP,
    )
    res = pl.run_pipeline(
        spark, "2024-03-16", retail_csvs, os.path.join(TMP, "out_alert"),
        on_missing=cb,
    )
    assert not res.ran
    assert len(_FakeSMTP.sent) == 1
    host, port, msg = _FakeSMTP.sent[0]
    assert (host, port) == ("mail.example.com", 2525)
    assert msg["Subject"] == "Files missing in S3 bucket"
    assert msg["From"] == "etl@example.com"
    assert msg["To"] == "oncall@example.com"
    body = msg.get_content()
    assert "Please check Snowflake task" in body
    assert "sales_20240316.csv" in body and "Location: /data/in" in body


def test_webhook_alert_payload(retail_csvs):
    """S10 webhook transport: JSON POST mirroring the reference Lambda's
    HTTP-trigger shape (``Lambda Function.py:26-44``)."""
    import json as _json

    from retail_etl_pipeline_spark import alerts

    calls = []

    def fake_open(req, timeout=None):
        calls.append((req, timeout))

        class _Resp:
            def close(self):
                pass

        return _Resp()

    cb = alerts.webhook_alert("http://alerts.local/hook", opener=fake_open)
    cb(["sales_20240316.csv", "store_20240316.csv"])
    assert len(calls) == 1
    req, timeout = calls[0]
    assert req.full_url == "http://alerts.local/hook"
    assert req.get_method() == "POST"
    assert req.get_header("Content-type") == "application/json"
    payload = _json.loads(req.data.decode("utf-8"))
    assert payload["subject"] == "Files missing in S3 bucket"
    assert payload["missing"] == ["sales_20240316.csv", "store_20240316.csv"]
    assert "sales_20240316.csv" in payload["body"]


def test_run_pipeline_end_to_end(spark, retail_csvs):
    out = os.path.join(TMP, "out")
    res = pl.run_pipeline(spark, RUN_DATE, retail_csvs, out)
    assert res.ran and res.output_rows == 3  # (202411) x {(1,10),(1,20),(2,10)}

    summary = spark.table("weekly_summary")
    row = (
        summary.where("store_key = 1 AND prod_key = 10")
        .collect()[0]
        .asDict()
    )
    assert row["yr_wk_num"] == 202411
    assert row["total_sales_qty"] == 6.0
    assert row["total_sales_amt"] == 30.0
    assert row["avg_sales_amt"] == 5.0
    # end-of-week = 2024-03-12 snapshot (last date for store 1, prod 10)
    assert row["eow_on_hand_qty"] == 1.0
    assert row["eow_on_order_qty"] == 2.0
    assert row["out_of_stock_days"] == 1
    # low stock: day1 5.0>=2.0 no; day2 1.0<4.0 yes -> one line flagged
    assert row["low_stock_count"] == 1
    assert row["potential_low_stock_impact"] == 3.0  # 4.0 - 1.0
    assert row["weeks_supply"] == round(1.0 / 6.0, 2)

    # the view's declared schema is the one the published files carry
    assert summary.schema == spark.read.parquet(out).schema

    # idempotent re-run: same partition overwritten, not duplicated.
    # output_rows is what the re-run wrote, so count the files on disk
    res2 = pl.run_pipeline(spark, RUN_DATE, retail_csvs, out)
    assert res2.output_rows == 3
    assert spark.read.parquet(os.path.join(out, f"date={RUN_DATE}")).count() == 3


def test_run_pipeline_decimal_mode(spark, retail_csvs):
    """DDL-faithful DECIMAL(38,2) measures end-to-end (SURVEY.md §1.4)."""
    out = os.path.join(TMP, "out_decimal")
    res = pl.run_pipeline(
        spark, RUN_DATE, retail_csvs, out,
        register_as="weekly_summary_dec", measure_type="decimal",
    )
    assert res.ran and res.output_rows == 3
    row = (
        spark.table("weekly_summary_dec")
        .where("store_key = 1 AND prod_key = 10")
        .collect()[0]
    )
    assert float(row["total_sales_amt"]) == 30.0
    assert float(row["eow_on_hand_qty"]) == 1.0
    # the view's declared schema is the one the published files carry
    assert (
        spark.table("weekly_summary_dec").schema
        == spark.read.parquet(out).schema
    )


def test_pipeline_observed_metrics(spark, retail_csvs):
    """observe() counters collected during the write must agree with the
    published partition, on the direct and the gated (stage-observe-
    promote) publish: ``output_rows`` is the observed count, so the
    partition is counted here, independently, from the files."""
    from retail_etl_pipeline_spark.pipeline import run_pipeline

    for expectations in (None, {"sane_qty": F.col("total_sales_qty") >= 0}):
        out = os.path.join(
            os.path.dirname(retail_csvs),
            "obs_out_gated" if expectations else "obs_out",
        )
        res = run_pipeline(
            spark, RUN_DATE, retail_csvs, out, register_as="obs_summary",
            expectations=expectations,
        )
        assert res.ran and res.metrics is not None
        on_disk = spark.read.parquet(os.path.join(out, f"date={RUN_DATE}"))
        assert res.output_rows == on_disk.count() == 3
        assert res.metrics["rows_written"] == res.output_rows
        assert res.metrics["null_grain_rows"] == 0
        assert res.metrics["negative_sales_rows"] == 0


def _drained_job_ids(spark, group: str) -> set:
    """Ids of the jobs in ``group`` once every event posted so far has
    reached the status store (the listener bus delivers asynchronously)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_publish_launches_no_job_after_write(
    spark, retail_csvs, tmp_path, monkeypatch
):
    """Both publishes pay only for their write. Each run gets its own job
    group; the parquet write (the last step of ``eio.write_run_partition``
    and of the corpus publish) is wrapped to record the group's jobs as it
    returns, and the group must hold no further job when the pipeline
    returns: no output re-count, no schema-inference read for the view.
    Covers run_pipeline direct and gated, and run_corpus_pipeline. The
    outputs hold a few partition directories, which Spark lists without
    a job; past ``parallelPartitionDiscovery.threshold`` directories
    listing them is itself a Spark job."""
    from pyspark.sql.readwriter import DataFrameWriter

    from retail_etl_pipeline_spark.corpus_pipeline import run_corpus_pipeline

    sc = spark.sparkContext
    group = None
    after_write = []
    write = DataFrameWriter.parquet

    def recording_write(*args, **kwargs):
        write(*args, **kwargs)
        after_write.append(_drained_job_ids(spark, group))

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_write)
    docs = spark.createDataFrame(
        [(0, "a perfectly reasonable document with many distinct words")],
        "doc_id long, text string",
    )
    runs = {
        "direct": lambda: pl.run_pipeline(
            spark, RUN_DATE, retail_csvs, str(tmp_path / "direct"),
            register_as="jobs_direct",
        ),
        "gated": lambda: pl.run_pipeline(
            spark, RUN_DATE, retail_csvs, str(tmp_path / "gated"),
            register_as="jobs_gated",
            expectations={"sane_qty": F.col("total_sales_qty") >= 0},
        ),
        "corpus": lambda: run_corpus_pipeline(
            spark, docs, str(tmp_path / "corpus"), register_as="jobs_corpus"
        ),
    }
    try:
        for label, run in runs.items():
            group = f"publish-{label}"
            sc.setJobGroup(group, "jobs after the publish write")
            after_write.clear()
            run()
            assert len(after_write) == 1 and after_write[0], label
            assert _drained_job_ids(spark, group) == after_write[0], label
    finally:
        sc._jsc.clearJobGroup()


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """Quarantine-pattern corpus pipeline: dedup + quality gates + split in
    one pass, rejects published with reasons, DQ counters observed on the
    write, idempotent re-run."""
    from retail_etl_pipeline_spark.corpus_pipeline import run_corpus_pipeline

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over dog", "en", "s0", 34),
            (1, "the quick brown fox jumps over dog", "en", "s0", 34),  # dup
            (2, "one two", "en", "s1", 7),  # too short
            (3, "spam spam spam spam spam spam spam spam spam spam eggs", "en", "s1", 54),  # repetitive (2/11 distinct)
            (4, "a perfectly reasonable document with many distinct words", "en", "s2", 57),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "corpus")
    res = run_corpus_pipeline(spark, docs, out, register_as="corpus_t")
    # the view's declared schema is the one the published files carry
    assert spark.table("corpus_t").schema == spark.read.parquet(out).schema

    m = res.metrics
    assert m["n_docs"] == 5
    assert m["n_duplicates"] == 1
    assert m["n_low_quality"] == 2
    assert m["n_rejected"] == 3

    published = spark.read.parquet(out)
    rej = {
        r["doc_id"]: r["reason"]
        for r in published.where("split = 'rejected'").collect()
    }
    assert rej == {1: "duplicate", 2: "too_short", 3: "repetitive"}
    kept = published.where("split != 'rejected'")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 4]
    assert set(r["split"] for r in kept.collect()) <= {"train", "val", "test"}
    # the catalog registration is queryable
    assert spark.sql("SELECT count(*) FROM corpus_t").first()[0] == 5

    # idempotent re-run: same partitions rewritten, same results
    res2 = run_corpus_pipeline(spark, docs, out, register_as=None)
    assert res2.metrics == m
    assert spark.read.parquet(out).count() == 5


def test_corpus_pipeline_on_fixture_documents(spark, sf_dir, tmp_path):
    """The pipeline over the real documents fixture: metrics are
    internally consistent and every published row carries a split."""
    from retail_etl_pipeline_spark.corpus_pipeline import run_corpus_pipeline
    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx

    docs = fx._read(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus_fx")
    res = run_corpus_pipeline(spark, docs, out, register_as=None)
    m = res.metrics
    assert m["n_docs"] == docs.count()
    assert m["n_rejected"] == m["n_duplicates"] + m["n_low_quality"]
    published = spark.read.parquet(out)
    assert published.count() == m["n_docs"]
    assert published.where("split IS NULL").count() == 0
    kept = published.where("split != 'rejected'")
    assert kept.count() == m["n_docs"] - m["n_rejected"]
    assert kept.selectExpr("sum(n_tokens)").first()[0] == m["n_kept_tokens"]


def test_corpus_output_is_partition_pruned(spark, sf_dir, tmp_path):
    """Consumption contract: reading one split from the published corpus
    must scan only that split's partition (PartitionFilters at the scan),
    so downstream training jobs never pay for the quarantine stream."""
    from retail_etl_pipeline_spark.corpus_pipeline import run_corpus_pipeline
    from retail_etl_pipeline_spark.operators import fixtures_adapter as fx

    out = str(tmp_path / "corpus_prune")
    run_corpus_pipeline(
        spark, fx._read(spark, sf_dir, "documents"), out, register_as=None
    )
    train = spark.read.parquet(out).where("split = 'train'")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan.replace(
        "PartitionFilters: [ isnotnull(split", "PartitionFilters: [isnotnull(split"
    ), plan


def test_corpus_pipeline_quarantines_null_docs(spark, tmp_path):
    """NULL text / NULL doc_id docs must be quarantined with reason
    'invalid', never published — and a NULL-text doc (which normalizes to
    the empty string) must not claim the dedup keeper slot from a real
    empty doc."""
    from retail_etl_pipeline_spark.corpus_pipeline import run_corpus_pipeline

    docs = spark.createDataFrame(
        [
            (0, None, "en", "s0", 0),  # NULL text, smallest id
            (1, "", "en", "s0", 0),  # real empty doc, same fingerprint as 0
            (None, "a perfectly reasonable document with distinct words", "en", "s1", 51),
            (3, "another perfectly fine document with many distinct words", "en", "s2", 56),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "corpus_null")
    res = run_corpus_pipeline(spark, docs, out, register_as=None)

    published = spark.read.parquet(out)
    assert published.where("split IS NULL").count() == 0
    by_reason = {
        r["reason"]: r["cnt"]
        for r in published.groupBy("reason").agg(F.count("*").alias("cnt")).collect()
    }
    # doc 0 (null text) and the null-id doc are invalid; doc 1 is
    # too_short (NOT 'duplicate' of the quarantined null-text doc);
    # doc 3 is kept (reason null).
    assert by_reason.get("invalid") == 2
    assert by_reason.get("too_short") == 1
    assert by_reason.get("duplicate") is None
    kept = published.where("split != 'rejected'").collect()
    assert [r["doc_id"] for r in kept] == [3]
    assert res.metrics["n_rejected"] == 3
    assert res.metrics["n_low_quality"] == 3
    assert res.metrics["n_kept_tokens"] == kept[0]["n_tokens"]


def test_split_assignment_null_doc_id(spark):
    """A NULL doc_id yields a NULL split, not a silent 'test' bucket."""
    from retail_etl_pipeline_spark.operators.corpus import split_assignment

    df = spark.createDataFrame([(None,), (7,)], "doc_id long").select(
        split_assignment().alias("split")
    )
    got = {r["split"] for r in df.collect()}
    assert None in got and got - {None} <= {"train", "val", "test"}


def test_corpus_pipeline_rejects_malformed_input(spark):
    """A frame without the contract columns fails fast with a clear
    message, not deep inside an analysis error."""
    from retail_etl_pipeline_spark.corpus_pipeline import prepare_corpus

    bad = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="missing.*doc_id"):
        prepare_corpus(bad)


def test_training_manifest_packs_only_kept_train_docs(spark, tmp_path):
    from retail_etl_pipeline_spark.corpus_pipeline import (
        prepare_corpus,
        training_manifest,
    )

    rows = [
        # doc 9 is a duplicate of doc 1 -> rejected; doc 5 too short
        (1, "s", "alpha beta gamma delta epsilon zeta"),
        (9, "s", "alpha beta gamma delta epsilon zeta"),
        (5, "s", "tiny"),
    ] + [(i, "s", f"doc {i} body with enough tokens to pass the gate {i}")
         for i in range(10, 40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    corpus = prepare_corpus(docs)
    man = training_manifest(corpus, block_tokens=8)
    got = {r["doc_id"]: r for r in man.collect()}
    kept_train = {
        r["doc_id"]
        for r in corpus.where(
            "reason IS NULL AND split = 'train'"
        ).collect()
    }
    assert set(got) == kept_train
    assert 9 not in got and 5 not in got
    # blocks tile contiguously: each doc starts where the previous ended
    ordered = sorted(got.values(), key=lambda r: r["doc_id"])
    cursor = 0
    for r in ordered:
        assert r["start_tok"] == cursor
        cursor += r["n_tokens"]
    with pytest.raises(ValueError):
        training_manifest(corpus.drop("source"))


def test_run_pipeline_expectations_rollback(spark, retail_csvs):
    """Failing expectations withdraw the published partition and report
    the violating rules; passing expectations leave the publish intact.
    The rules ride the write's observe() — no extra scan."""
    out = os.path.join(TMP, "out_expectations")
    alerts = []

    # impossible rule -> every row violates -> rollback
    res = pl.run_pipeline(
        spark, RUN_DATE, retail_csvs, out,
        register_as=None,
        expectations={"impossible": F.col("total_sales_qty") < -1},
        on_expectation_failure=alerts.append,
    )
    assert res.ran is False
    assert res.expectation_failures["impossible"] > 0
    assert alerts and alerts[0] == res.expectation_failures
    assert not os.path.isdir(os.path.join(out, f"date={RUN_DATE}"))

    # tautological rule -> publish stands
    res2 = pl.run_pipeline(
        spark, RUN_DATE, retail_csvs, out,
        register_as=None,
        expectations={"sane_qty": F.col("total_sales_qty") >= 0},
    )
    assert res2.ran is True and not res2.expectation_failures
    assert os.path.isdir(os.path.join(out, f"date={RUN_DATE}"))
    n_good = spark.read.parquet(out).count()
    assert n_good == 3

    # a FAILING re-run of the same date must leave the previously
    # published good partition untouched (stage-then-promote: the bad
    # write never reaches the live path)
    res3 = pl.run_pipeline(
        spark, RUN_DATE, retail_csvs, out,
        register_as=None,
        expectations={"impossible": F.col("total_sales_qty") < -1},
    )
    assert res3.ran is False
    assert spark.read.parquet(out).count() == n_good
    # the staging root is per-run-date since the pipeline.py rename —
    # assert on the REAL name (and that no staging glob survives at
    # all), not the legacy suffix, or the check is vacuously true
    assert not os.path.isdir(out + f".__staging__-{RUN_DATE}")
    assert not glob.glob(out + ".__staging__*")
