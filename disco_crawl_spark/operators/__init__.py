"""Training-data-pipeline operators over document/embedding tables.

Beyond the reference's own crawl operators, a 100 TB web-text engine needs
the corpus-preparation stages that consume a crawl: deduplication (exact and
near-dup), similarity search over embeddings, text analysis (language id,
quality, tokens, fingerprints), and multimodal column plumbing. Each
operator is a DataFrame→DataFrame function designed for shuffle-efficiency
at scale and exposed as a driver-checkable query in __spark_entry__.py.
"""

from . import dedup, multimodal, schedule, similarity, sketch, skew, textstats  # noqa: F401
