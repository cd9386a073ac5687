"""lakeshack_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of mhendrey/lakeshack, rebuilt Spark-first.

The reference (lakeshack @ /root/reference, v0.2.3) is a zone-map metastore
over immutable Parquet plus two pruned-scan query paths. Here the same
capabilities are expressed as a thin layer over Spark built-ins:

- :mod:`lakeshack_spark.metastore` — file-level min/max stats table + pruning
  (reference: lakeshack/metastore.py).
- :mod:`lakeshack_spark.engine` — the ``Lakeshack`` query facade
  (reference: lakeshack/lakeshack.py:476-579 ``query`` semantics).
- :mod:`lakeshack_spark.writer` — clustered writer (the reference docs' own
  Spark recipe, docs/source/lakeshack.rst:252-263).
- :mod:`lakeshack_spark.operators` — the relational + LLM-data-pipeline
  surface (dedup, similarity search, text analysis, multimodal) that the
  reference delegates to the surrounding ecosystem.
- :mod:`lakeshack_spark.streaming` — Structured Streaming ingest and
  windowed aggregation (replaces the reference's late-data discussion,
  docs/source/lakeshack.rst:120-161).
"""

from lakeshack_spark.engine import Lakeshack
from lakeshack_spark.metastore import FileStatsMetastore
from lakeshack_spark.session import (
    configure_session,
    get_spark,
    reuse_worker_zip_directories,
)

__version__ = "0.1.0"

__all__ = [
    "Lakeshack",
    "FileStatsMetastore",
    "get_spark",
    "configure_session",
    "__version__",
]

reuse_worker_zip_directories()
