"""Per-item table dispatch (SURVEY.md §2.9).

The reference routes rows to tables by a value in the row
(``dlt.mark.with_table_name``: kafka topic, github event type, slack
subtype — reference: sources/kafka/__init__.py:26,
sources/github/__init__.py:89, sources/slack/__init__.py:232-235).

Spark-first: ONE pass — ``partitionBy(route_col)`` writes every route
directory in a single job (no per-route filter rescan).  Route discovery
never drives a driver-side loop over the data; the loop in
``route_by_column`` only renames/registers the already-written partition
directories.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from verified_sources_spark.functions import snake_case
from verified_sources_spark.operators.fs import HadoopFS


def route_by_column(
    df: DataFrame,
    route_col: str,
    base_path: str,
    name_template: str = "{route}",
    mode: str = "overwrite",
) -> dict[str, str]:
    """Write *df* partitioned by ``route_col`` in one job; return
    {table_name: path}.  ``name_template`` is the reference's
    ``table_name=lambda item: ...`` analogue (snake_cased), applied to
    the route value itself, not to its hive-escaped directory name."""
    out = os.path.join(base_path, "__routed__")
    df.write.mode(mode).partitionBy(route_col).parquet(out)
    tables: dict[str, str] = {}
    for entry in HadoopFS(df.sparkSession).listdir(out):
        if not entry.startswith(f"{route_col}="):
            continue
        route_val = unquote(entry.split("=", 1)[1])
        name = snake_case(name_template.format(route=route_val))
        tables[name] = os.path.join(out, entry)
    return tables


def route_counts(df: DataFrame, route_col: str) -> DataFrame:
    """Routing plan summary: rows per target table."""
    return df.groupBy(route_col).agg(F.count(F.lit(1)).alias("n_rows"))
