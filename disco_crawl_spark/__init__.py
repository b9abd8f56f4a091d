"""disco_crawl_spark — a from-scratch PySpark-native rebuild of the
query/data-processing capabilities of AusDTO/disco_crawl.

The reference (/root/reference) is a distributed web-crawl dataflow system
(SQS + Redis + Elasticsearch + S3 + Kinesis, row-at-a-time Python). This
package re-expresses the whole loop as Spark DataFrame jobs over
snapshot-versioned columnar tables:

- ``refsem``   — pure-Python semantics kernel pinning the reference's exact
                 URL/link/text behavior (the spec; no Spark imports).
- ``refsim``   — deterministic single-process reference simulator (the oracle
                 the Spark engine is asserted byte-equal against).
- ``corpus``   — seeded synthetic Common-Crawl-style ``pages`` corpus.
- ``tables``   — snapshot-per-commit versioned parquet tables ("icelite", an
                 Iceberg-shaped shim; swap for Iceberg when the runtime jar
                 is available).
- ``engine``   — the crawl engine: frontier / url_seen / crawl_log as
                 DataFrames, one snapshot per round, resumable.
- ``operators``— training-data-pipeline operators (dedup, similarity,
                 text stats, multimodal plumbing).
- ``functions``— column-level helpers (jurisdiction, mime split, url parts).
"""

__version__ = "0.1.0"
