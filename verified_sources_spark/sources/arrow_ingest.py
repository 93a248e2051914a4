"""Arrow-columnar DB-scan ingestion (SURVEY.md §2.1 mongodb, VERDICT r1
missing #4).

The reference's ``data_item_format="arrow"`` path
(sources/mongodb/helpers.py:309-465) decodes BSON batches straight into
Arrow tables — typed by an explicit schema mapping — and fans parallel
``skip``/``limit`` batches out via ``@dlt.defer``. The Spark-first
analogue:

- a batch is an Arrow ``RecordBatch``/``pandas`` frame, never a Python
  row list — the executor boundary is Arrow end-to-end (``mapInPandas``);
- the parallel-batch fan-out is a (skip, limit) parameter DataFrame whose
  rows execute ON executors, one ``make_fetch()`` per task — the
  distributed analogue of the reference's thread-deferred ``_run_batch``
  (and of ``rest.fetch_distributed``'s ``map_rows`` fan-out for REST
  sources);
- the filter/projection conflict rules stay in
  ``operators.predicates`` (the relational layer), not in the loader.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark import sizing


def arrow_table_to_df(spark: SparkSession, table) -> DataFrame:
    """One Arrow table → DataFrame, staying columnar across the boundary.

    Spark 4 accepts ``pyarrow.Table`` directly (Arrow IPC, no row
    conversion); older sessions fall back to the Arrow-backed pandas
    bridge.
    """
    try:
        return spark.createDataFrame(table)
    except TypeError:
        return spark.createDataFrame(table.to_pandas())


def plan_skip_limit_batches(total: int, batch_size: int) -> list[dict[str, int]]:
    """The reference's batch plan (helpers.py:376-392): cover ``total``
    documents with ``(skip, limit)`` windows of ``batch_size``."""
    if batch_size <= 0:
        raise ValueError("batch_size must be positive")
    return [
        {"skip": skip, "limit": min(batch_size, total - skip)}
        for skip in range(0, total, batch_size)
    ]


def batched_collection_scan(
    spark: SparkSession,
    make_fetch: Callable[[], Callable[[int, int], "object"]],
    batches: Sequence[dict[str, int]],
    schema: str,
) -> DataFrame:
    """Parallel skip/limit collection scan with Arrow-batch results.

    ``make_fetch`` builds (per executor partition) a
    ``fetch(skip, limit) -> pandas.DataFrame`` — e.g. a DB cursor clone
    reading one window, already Arrow/pandas-typed. Batch parameters ship
    as a DataFrame and run inside ``mapInPandas``, so results cross the
    Python→JVM boundary as Arrow batches and no document ever lands on
    the driver.  The windows spread across the cores (``sizing.spread``)."""
    bdf = sizing.spread(spark.createDataFrame(
        [(int(b["skip"]), int(b["limit"])) for b in batches], "skip long, limit long"
    ))

    def run(pdf_iter):
        fetch = make_fetch()
        for pdf in pdf_iter:
            for skip, limit in zip(pdf["skip"], pdf["limit"]):
                out = fetch(int(skip), int(limit))
                if out is not None and len(out):
                    yield out

    return bdf.mapInPandas(run, schema)
