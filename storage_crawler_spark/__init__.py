"""storage_crawler_spark — a PySpark-native filesystem-metadata analytics engine.

A from-scratch re-expression of the capabilities of FredHutch/storage-crawler
(reference: /root/reference, Apache-2.0) on Apache Spark:

- the crawl plane (parallel directory walk + lstat + enrichment + sink) as a
  driver-side split into subtrees and one ``mapInPandas`` job that walks
  them;
- the report plane (the reference's canned PostgreSQL queries) as declarative
  DataFrame plans that Catalyst optimizes;
- beyond-reference LLM-data-pipeline operators (dedup, similarity search,
  text analysis, multimodal column plumbing) designed for 100 TB scale.

No code is copied from the reference; citations in docstrings are to the
*behavior* being re-expressed (file:line into /root/reference).
"""

__version__ = "0.1.0"
