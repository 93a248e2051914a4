"""The user-facing pipeline facade — the engine's analogue of
``dlt.pipeline(...).run(resource, write_disposition=..., primary_key=...)``
(the entry point every reference connector is consumed through; see the
reference connectors' READMEs and usage snippets, e.g.
sources/zendesk/README.md quick start).

One ``Pipeline`` owns a dataset directory:

    <dataset>/<table>/            one sink per table (parquet dirs or
                                  ManifestTable commit logs)
    <dataset>/_state/cursors.json incremental cursor state, committed
                                  only AFTER a successful write (the
                                  reference's state contract: a failed
                                  load never advances the cursor)

``run`` applies the incremental window at extract time (>= last_value
half-open, the §2.3 boundary contract), dispatches the write
disposition, then advances state.  Boundary rows equal to last_value
are re-read and deduplicated by ROW IDENTITY against hashes stored with
the cursor — like the reference's incremental unique-hash dedup, this
holds for EVERY disposition, append included, not only keyed merge.

Every batch is cut (``cut.observed_cut``) before writing, so the
write, the row count, and the committed cursor all come from the same
evaluation — a non-deterministic source (an API fan-out, a DB scan)
runs once per load and can never advance the cursor past rows that
were not actually written.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark.cut import observed_cut

from verified_sources_spark.operators.incremental import (
    CursorStore,
    _cursor_col,
    incremental_filter,
)
from verified_sources_spark.operators.merge import ParquetSink
from verified_sources_spark.operators.table_format import ManifestTable


_LOAD_METRICS = "pipeline_load"


@dataclass
class LoadInfo:
    table: str
    disposition: str
    rows_loaded: int
    cursor_value: Any = None


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        dataset_path: str,
        name: str = "pipeline",
        table_format: str = "parquet",  # "parquet" (ParquetSink) | "manifest" (ManifestTable)
    ):
        if table_format not in ("parquet", "manifest"):
            raise ValueError(f"unknown table_format: {table_format!r}")
        self.spark = spark
        self.name = name
        self.dataset_path = dataset_path.rstrip("/")
        self.table_format = table_format

    @cached_property
    def state(self) -> CursorStore:
        """The cursor store, opened at the first incremental load: a
        dataset on a non-local filesystem loads without one."""
        return CursorStore(os.path.join(self.dataset_path, "_state", "cursors.json"))

    # ------------------------------------------------------------- sinks
    def sink(self, table: str, partition_by=None):
        path = os.path.join(self.dataset_path, table)
        if self.table_format == "manifest":
            return ManifestTable(self.spark, path, partition_by=partition_by)
        return ParquetSink(self.spark, path, partition_by=partition_by)

    def read(self, table: str) -> DataFrame:
        return self.sink(table).read()

    # --------------------------------------------------------------- run
    def run(
        self,
        data: DataFrame,
        table_name: str,
        write_disposition: str = "append",
        primary_key=None,
        dedup_sort=None,
        hard_delete_col: str | None = None,
        partition_by=None,
        incremental: str | None = None,
        incremental_end: Any = None,
    ) -> LoadInfo:
        """Load one DataFrame into ``table_name``.

        - ``incremental="col"``: filter ``col >= stored last_value``
          (and ``< incremental_end`` when given) before writing; the new
          max is committed to state only after the write succeeds.
        - ``write_disposition``: append | replace | merge. merge requires
          ``primary_key`` (str or list) and honors ``dedup_sort`` /
          ``hard_delete_col`` exactly like the operators layer.
        """
        # refused before the cut below evaluates the source
        if write_disposition not in ("append", "replace", "merge"):
            raise ValueError(f"unknown write_disposition: {write_disposition!r}")
        if write_disposition == "merge" and not primary_key:
            raise ValueError("merge requires primary_key")
        df = data
        resource = f"{table_name}"
        last = None
        metrics = [F.count(F.lit(1)).alias("rows")]
        if incremental is not None:
            last = self.state.get(resource)
            df = incremental_filter(
                df, incremental, last_value=last, end_value=incremental_end
            )
            row_hash = self._row_hash(df)
            # the >= last_value boundary re-read: drop rows ALREADY LOADED
            # last run, identified by row hash (the reference's incremental
            # unique-hash dedup) — so append does not duplicate the
            # boundary, and merge skips a no-op re-upsert
            known = self.state.get_extra(resource, "boundary_hashes")
            if last is not None and known:
                at_boundary = _cursor_col(incremental) == F.lit(last)
                df = df.filter(~(at_boundary & row_hash.isin(list(known))))
            metrics.append(F.max(_cursor_col(incremental)).alias("cursor"))
        # pin ONE evaluation: the write, the row count, and the cursor
        # below must all describe the same data — a non-deterministic
        # source re-evaluated after the write could otherwise commit a
        # cursor past rows that were never written (silent data loss), and
        # an API fan-out would fetch every endpoint twice.  The count and
        # the new watermark are observed on the cut's own job, not by more
        # actions over its result.
        df, (rows, *cursor) = observed_cut(df, _LOAD_METRICS, *metrics)

        sink = self.sink(table_name, partition_by=partition_by)
        if write_disposition == "append":
            sink.append(df)
        elif write_disposition == "replace":
            sink.replace(df)
        else:
            keys = [primary_key] if isinstance(primary_key, str) else list(primary_key)
            sink.merge(
                df,
                keys=keys,
                dedup_sort=[dedup_sort] if isinstance(dedup_sort, str) else dedup_sort,
                hard_delete_col=hard_delete_col,
            )

        cursor_val = cursor[0] if cursor else None
        if cursor_val is not None:
            # commit AFTER the successful write — a failed load never
            # advances the cursor (the reference's state contract).
            # Record the hashes of rows AT the new boundary so the next
            # run's >= re-read can drop exactly them; if the watermark
            # did not move, the previously-known hashes stay valid too.
            boundary = (
                df.filter(_cursor_col(incremental) == F.lit(cursor_val))
                .select(row_hash.alias("h"))
                .limit(self.BOUNDARY_HASH_CAP + 1)
                .collect()
            )
            hashes = [r["h"] for r in boundary]
            if len(hashes) > self.BOUNDARY_HASH_CAP:
                hashes = []  # too many ties to track — fall back to re-read
            elif last is not None and str(cursor_val) == str(last):
                hashes = sorted(
                    set(hashes)
                    | set(self.state.get_extra(resource, "boundary_hashes") or [])
                )
            self.state.set(resource, cursor_val, boundary_hashes=hashes)
        return LoadInfo(table_name, write_disposition, rows, cursor_val)

    BOUNDARY_HASH_CAP = 4096

    @staticmethod
    def _row_hash(df: DataFrame):
        """Deterministic row identity over all columns (sorted by name, so
        column-order drift between runs doesn't change identities)."""
        return F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])


    def run_source(
        self,
        tables: dict[str, DataFrame],
        write_disposition: str = "append",
        primary_keys: dict[str, Any] | None = None,
        **kwargs,
    ) -> list[LoadInfo]:
        """Load a multi-resource source (the reference's ``dlt.source``
        yields several resources; here: table name → DataFrame). A shared
        disposition applies to every table; per-table primary keys come
        from ``primary_keys``."""
        infos = []
        for name, df in tables.items():
            pk = (primary_keys or {}).get(name)
            infos.append(
                self.run(df, name, write_disposition=write_disposition,
                         primary_key=pk, **kwargs)
            )
        return infos


def pipeline(
    spark: SparkSession, dataset_path: str, name: str = "pipeline", **kwargs
) -> Pipeline:
    """``dlt.pipeline(...)``-shaped constructor."""
    return Pipeline(spark, dataset_path, name=name, **kwargs)
