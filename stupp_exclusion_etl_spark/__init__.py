"""stupp_exclusion_etl_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference ETL pipeline
(guiterguy219/stupp-exclusion-etl) as an idiomatic Spark DataFrame/SQL
library, extended with LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) designed for 100 TB scale.

Layout:
    session    — tuned SparkSession builder
    catalog    — testdata table loading / view registration
    functions/ — scalar & vector functions (coercion, text, hashing, vectors)
    operators/ — composable DataFrame operators (filters, joins, dedup, ...)
    sources/   — ingest/normalization (the reference's scrape-side semantics)
    sinks/     — the atomic keyed Parquet table (upsert, delete, layouts)
    streaming/ — structured-streaming window/watermark/session operators
    plans/     — the declared query surface (drives __spark_entry__.py)
"""

__version__ = "0.1.0"
