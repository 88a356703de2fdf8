"""PySpark-native analytics/ETL engine with the capabilities of the
``Johnatanogueira/etl-procedure-codes-crawler`` reference pipeline.

The reference (see ``SURVEY.md``) is a pandas + Athena batch ETL crawler;
this package re-expresses its relational/dataflow semantics Spark-first:

- ``session``   — SparkSession factory (AQE, Arrow, shuffle sizing).
- ``schemas``   — explicit StructType registry for every pipeline table.
- ``config``    — validated env-var settings (reference: utils/config.py).
- ``harness``   — query timing for bench.py and scripts/ (noop-sink writes).
- ``sources``   — parquet / JDBC / fetcher / secrets inputs.
- ``sinks``     — parquet dataset sink, JDBC sink, error-audit sink.
- ``functions`` — pure HTML-extraction functions + Spark column helpers.
- ``operators`` — cleaning, anti-join dedup, mapInPandas extraction fan-out.
- ``plans``     — assembled pipelines and the relational query corpus.
- ``llm``       — large-scale training-data operators (dedup, ANN, text).
- ``streaming`` — Structured Streaming over the events table.
"""

__version__ = "0.1.0"
