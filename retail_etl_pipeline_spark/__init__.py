"""retail_etl_pipeline_spark — a PySpark-native analytics engine.

A brand-new, idiomatic-Spark engine with the query and data-processing
capabilities of the reference retail ETL pipeline
(LeoMeng5223655/Retail-ETL-Pipeline), re-expressed Spark-first:
declarative DataFrame/SQL plans, Catalyst optimization, explicit schemas,
AQE, broadcast-aware joins, and single-pass aggregation — plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB pipeline needs.

Layout:
    session    — SparkSession factory (AQE on, master from env)
    schemas    — explicit StructTypes for the retail star schema + fixtures
    io         — sources/sinks: csv/parquet read, partitioned write, export
    functions  — shared column expressions (week keys, safe division, money)
    operators  — one module per operator family (retail, dedup, similarity,
                 text, windows, multimodal)
    plans      — composed query plans (single-pass weekly summary, assembly)
    sources    — custom batch connector (Python DataSource API)
    pipeline   — orchestration layer (readiness gate, run_pipeline)
    corpus_pipeline — the corpus-preparation twin of run_pipeline
"""

__version__ = "0.1.0"
