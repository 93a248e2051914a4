"""verified_sources_spark — a PySpark-native incremental ELT + analytics engine.

Re-expresses the dataflow operator surface of dlt-hub/verified-sources
(reference: /root/reference, see SURVEY.md) as an idiomatic Spark library:

- ``session``     — tuned SparkSession factory (AQE, Arrow, UTC, pushdown).
- ``catalog``     — star-schema table loader for the driver test data.
- ``operators``   — incremental cursors, dedup, merge sink algebra,
                    per-item table routing, normalization, pivot/unpivot.
- ``sources``     — filesystem reader, generic paginated REST framework,
                    bounded message-stream replay, CDC change-feed apply,
                    spreadsheet grid inference.
- ``functions``   — scalar function library (hashing ids, date coercion,
                    text analysis).
- ``llm``         — large-scale training-data pipeline operators: exact and
                    near dedup (MinHash-LSH, SimHash), similarity search,
                    multimodal column plumbing.
- ``streaming``   — Structured Streaming helpers (bounded AvailableNow runs,
                    foreachBatch merge).
- ``plans``       — the declared query surface checked against the DuckDB
                    oracle by the driver.

Everything is DataFrame-first: logical plans are declared with the
DataFrame/SQL API and Catalyst/Tungsten choose the physical strategy.
"""

__version__ = "0.1.0"

from pyspark import TaskContext as _TaskContext

if _TaskContext.get() is not None:
    # imported inside a Python worker's task: stop every later task in
    # this worker from re-reading pyspark.zip (see _worker_imports)
    from verified_sources_spark import _worker_imports

    _worker_imports.install()

from verified_sources_spark.session import get_spark  # noqa: F401
from verified_sources_spark.catalog import load_tables, register_views  # noqa: F401
