"""Incremental-cursor operators — the reference's core "WHERE clause".

Replicates ``dlt.sources.incremental`` semantics (reference:
sources/mongodb/helpers.py:65-120, SURVEY.md §2.3) on DataFrames:

- watermark filter ``cursor >= last_value`` (NOT ``>`` — the boundary row is
  re-read and deduplicated downstream by the keyed merge), optional
  half-open ``end_value`` bound;
- ``min`` variant for descending loads (``<= last`` / ``> end``);
- alternate cursor paths ``"a|b"`` via coalesce;
- next-run state = max (or min, or a custom per-group reduce) of the cursor
  seen this run;
- date-range chunking to parallelize bounded reads.

State lives in a tiny driver-side JSON control store.  At scale this is a
metadata table (one row per resource) — it is read once at plan time and
becomes a *literal* in the filter, so Catalyst pushes it into the parquet /
JDBC scan (`PushedFilters`); no shuffle, no state in the data path.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Any
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from verified_sources_spark.operators.fs import _is_local_uri


class CursorStore:
    """Per-resource persistent cursor state (the reference's
    ``dlt.current.resource_state()`` analogue — a control table, not a
    streaming checkpoint: these cursors are *source order* attributes
    (updated_at, LSN, offset), not event-time watermarks).

    The store is a local file, committed with an atomic ``os.replace``:
    a ``file:`` URI is taken as its local path, and any other scheme
    (``hdfs://``, ``s3a://`` …) raises ``ValueError``."""

    def __init__(self, path: str):
        if not _is_local_uri(path):
            raise ValueError(
                f"CursorStore keeps its state in a local file; {path!r} is not local")
        self.path = urlparse(path).path if path.startswith("file:") else path
        self._state: dict[str, Any] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._state = json.load(f)

    def get(self, resource: str, default: Any = None) -> Any:
        return self._state.get(resource, {}).get("last_value", default)

    def get_extra(self, resource: str, key: str, default: Any = None) -> Any:
        """Auxiliary state stored alongside the cursor (e.g. the boundary
        row hashes the pipeline uses to dedup the >= last_value re-read)."""
        return self._state.get(resource, {}).get(key, default)

    def set(self, resource: str, last_value: Any, **extra: Any) -> None:
        self._state[resource] = {"last_value": last_value, **extra}
        self._flush()

    def _flush(self) -> None:
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            json.dump(self._state, f, default=str)
        os.replace(tmp, self.path)


def _cursor_col(cursor_path: str) -> Column:
    """'a|b' alternate paths → coalesce(a, b) (reference:
    sources/pipedrive/helpers/pages.py:44-46)."""
    parts = [p.strip() for p in cursor_path.split("|")]
    return F.coalesce(*[F.col(p) for p in parts]) if len(parts) > 1 else F.col(parts[0])


def incremental_filter(
    df: DataFrame,
    cursor_path: str,
    last_value: Any = None,
    end_value: Any = None,
    last_value_func: str = "max",
) -> DataFrame:
    """Apply the incremental window filter.

    max mode: ``cursor >= last_value AND cursor < end_value``  (reference:
    sources/mongodb/helpers.py:110-113 — `$gte` + `$lt`).
    min mode: ``cursor <= last_value AND cursor > end_value``  (descending,
    reference: sources/mongodb/helpers.py:115-118).
    """
    c = _cursor_col(cursor_path)
    if last_value_func == "max":
        if last_value is not None:
            df = df.filter(c >= F.lit(last_value))
        if end_value is not None:
            df = df.filter(c < F.lit(end_value))
    elif last_value_func == "min":
        if last_value is not None:
            df = df.filter(c <= F.lit(last_value))
        if end_value is not None:
            df = df.filter(c > F.lit(end_value))
    else:
        raise ValueError(f"unknown last_value_func: {last_value_func}")
    return df


def max_cursor_value(df: DataFrame, cursor_path: str, last_value_func: str = "max") -> Any:
    """Next-run watermark: single-row aggregate over the extracted batch
    (map-side partial agg; no full shuffle)."""
    agg = F.max if last_value_func == "max" else F.min
    row = df.agg(agg(_cursor_col(cursor_path)).alias("v")).collect()
    return row[0]["v"] if row else None


def grouped_cursor_values(df: DataFrame, group_col: str, cursor_col: str) -> DataFrame:
    """Per-group cursor map — the Kinesis per-shard max-sequence reduce
    (reference: sources/kinesis/helpers.py:46-64) as a groupBy aggregate."""
    return df.groupBy(group_col).agg(F.max(F.col(cursor_col)).alias("last_value"))


def lagged_watermark(last_value, lag_days: int):
    """Attribution-window re-read: restart the cursor N days before the
    stored watermark and re-merge (reference:
    sources/facebook_ads/helpers.py:33-61).  Returns the adjusted start
    value for incremental_filter; downstream keyed MERGE dedups the
    overlap (same contract as the `>=` boundary re-read)."""
    import datetime as dt

    if isinstance(last_value, str):
        last_value = dt.datetime.fromisoformat(last_value)
    return last_value - dt.timedelta(days=lag_days)


def date_range_chunks(spark, start, end, step_days: int) -> DataFrame:
    """Split [start, end) into fixed-step ranges (reference:
    sources/zendesk/helpers/__init__.py:9-25 ``make_date_ranges``).

    Returns a DataFrame (range_start, range_end) built with
    ``sequence`` + ``explode`` — the chunk list itself is distributed, so a
    downstream per-chunk fetch (``rest.fetch_distributed`` / range join)
    parallelizes.
    """
    df = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("timestamp"),
                F.lit(end).cast("timestamp"),
                F.expr(f"INTERVAL {int(step_days)} DAYS"),
            )
        ).alias("range_start")
    )
    return (
        df.withColumn(
            "range_end",
            F.least(
                F.col("range_start") + F.expr(f"INTERVAL {int(step_days)} DAYS"),
                F.lit(end).cast("timestamp"),
            ),
        )
        .filter(F.col("range_start") < F.lit(end).cast("timestamp"))
    )
