"""The Python boundary for per-row stages.

A per-row stage is a function of one input row that yields zero, one or
many output rows as dicts.  ``map_rows`` owns everything around it: the
pandas batch loop of ``mapInPandas``, building each output batch with
the schema's column types, and a stable name for the plan node.

The int64 trap this module exists for: ``pd.DataFrame(list_of_dicts)``
infers a MIXED int+None column as float64, silently truncating 64-bit
values to the 53-bit mantissa.  For perceptual-hash columns this is data
corruption that equality tests DON'T catch when both sides of a join
corrupt identically — it only surfaces when one operator's batch
contains a refusal row (None) and the other's doesn't, making the same
asset hash differently in different pipelines.  So every ``long`` field
of the output schema is built as pandas nullable Int64
(``pd.array(..., dtype="Int64")``), which keeps all 64 bits and
round-trips through Arrow as int64 + validity bitmap.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, LongType, StructType

__all__ = ["map_rows"]


def map_rows(df: DataFrame,
             fn: Callable[..., Iterator[dict]],
             schema: str | StructType) -> DataFrame:
    """``df.mapInPandas`` over a per-row generator.

    ``fn`` is called once per input row with that row's values, in
    ``df``'s column order, and yields 0..n dicts keyed by ``schema``'s
    field names; a missing key is null.  The plan node is named
    ``<enclosing>.<fn>`` from ``fn``'s qualified name (its module when
    ``fn`` is top-level)."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    columns = struct.fieldNames()
    longs = frozenset(f.name for f in struct.fields
                      if isinstance(f.dataType, LongType))

    def run(batches):
        for pdf in batches:
            values = zip(*(pdf.iloc[:, i].tolist() for i in range(pdf.shape[1])))
            yield _frame([r for v in values for r in fn(*v)], columns, longs)

    scope = [p for p in fn.__qualname__.split(".") if p != "<locals>"]
    if len(scope) < 2:
        scope.insert(0, fn.__module__.rpartition(".")[2])
    run.__name__ = ".".join(scope[-2:])
    return df.mapInPandas(run, schema)


def _frame(rows: list, columns: list, longs: frozenset):
    """The output batch: ``long`` columns as nullable Int64, the rest as
    pandas infers them."""
    import pandas as pd

    return pd.DataFrame(
        {c: pd.array([r.get(c) for r in rows], dtype="Int64") if c in longs
         else [r.get(c) for r in rows] for c in columns},
        columns=columns)
