"""kfai-pipeline-spark: a PySpark-native analytics engine.

Re-expresses the query and data-processing semantics of the reference
ETL + RAG pipeline (Jer-Pha/kfai-pipeline) as idiomatic Spark
DataFrame/SQL plans, and extends the operator surface with
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

Layout:
    session     SparkSession factory (UTC, AQE, tuned shuffle partitions)
    catalog     Parquet table loader / temp-view registration
    functions/  scalar function surface (F1-F25)
    operators/  dedup, similarity, text analysis, chunker, clean/embed
                connectors, multimodal, as-of, resume ops
    sources/    JSON records, partitioned writer, skip list, API
                connector, JDBC wrappers
    queries/    declared correctness queries (SURVEY.md §2.12) + oracles
    plans/      filter compiler, RAG query plan, video-catalog API
    streaming/  Structured Streaming twins of the incremental paths
"""

__version__ = "0.1.0"
