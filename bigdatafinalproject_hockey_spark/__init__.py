"""PySpark-native analytics engine with the capability surface of
AidanAlr/BigDataFinalProject-Hockey, rebuilt Spark-first.

The reference (see /root/reference, SURVEY.md) is a PySpark batch
ETL + ML pipeline over hockey event data. This package re-expresses
its operator surface — scans, scalar transforms, string/map lookup,
aggregation, equi/self joins, leakage-free window features,
sampling/splits, ML classification — as a reusable operator library
(pure ``DataFrame -> DataFrame`` functions), plus the
training-data-pipeline extensions (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session     SparkSession factory (AQE, UTC, Arrow)
    catalog     explicit-schema loaders for the synthetic test tables
    operators/  relational operator library (SURVEY.md §2)
    sources/    file-format readers/writers (CSV with \\N sentinels, parquet)
    functions/  scalar/text/vector expression helpers
    extraction  HTML → clean-text extraction (boilerplate removal)
    dedup/      exact + near-duplicate detection
    similarity/ embedding similarity search
    multimodal/ binary-column (image/audio) plumbing
    ml/         classification pipeline surface (SURVEY.md §2.14)
    pipeline/   the reference-equivalent end-to-end flow (SURVEY.md §3)
    queries/    the named query registry, each with a DuckDB oracle
    streaming/  Structured Streaming extension over the events table
"""

__version__ = "0.1.0"
