"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference Notion→vector-store ETL pipeline
(``ZakriyaAhmad/Notion-Vector-Store-ETL-Pipeline``), re-expressed as
idiomatic Spark DataFrame operators, plus the LLM-training-data
operators (dedup, similarity search, multimodal columns, text
analysis) such a pipeline needs at 100 TB scale.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, Arrow, shuffle sizing)
- ``sources``    : fixture/table readers, state-table load/save
- ``functions``  : reusable Column-level expression builders (strings, vectors, text)
- ``operators``  : DataFrame→DataFrame operators (chunker, incremental, traversal,
                   dedup, similarity, text stats, multimodal)
- ``plans``      : the named-query registry consumed by ``__spark_entry__.py``
                   (each query: PySpark callable + DuckDB oracle SQL)
- ``streaming``  : Structured Streaming jobs: the CLI's streaming ETL and the
                   ingest-dedup, IVF and composed ingest streams

Design stance (SURVEY.md §7): every operator is a pure function
DataFrame → DataFrame, declared with the DataFrame API so Catalyst
handles pushdown/pruning/join strategy; pandas UDFs only where
semantics demand Python (the greedy chunker, model-call stubs).
"""

from notion_vector_store_etl_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
