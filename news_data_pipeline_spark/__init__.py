"""news_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference news-data-pipeline (a Databricks medallion
ETL: bronze ingestion -> data-quality + quarantine -> silver transforms ->
gold star schema; see SURVEY.md), generalized into a tested library and
extended with the LLM-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) required at 100 TB scale.

Design stance (SURVEY.md §7.1): everything is declarative DataFrame code so
Catalyst plans it — no RDDs, no driver-side loops, no custom optimizer
rules. Python UDFs only where Catalyst genuinely can't express the
semantics, and then always Arrow-vectorized.
"""

# No pyspark import here: the Python worker daemon (_daemon.py) imports
# this package before it removes Spark's archives from sys.path.
__version__ = "0.1.0"
