"""The Python boundary: every Python stage crosses it through Arrow.

- ``map_rows(df, fn, schema)``: ``fn`` gets one input row's values and
  yields 0..n output dicts.  Every value arrives as pyarrow's
  ``to_pylist`` gives it, with ``None`` for null in every type.
- ``map_batches(df, fn, schema)`` (``mapInArrow``): ``fn`` gets each
  non-empty input ``pa.RecordBatch``.
- ``map_groups(df, keys, fn, schema)`` (``groupBy(*keys).applyInArrow``):
  ``fn(key, table)`` gets the key as a tuple of Python values and the
  group as a ``pa.Table``.

A batch or group stage returns a mapping from each output field to a
column (a pyarrow array, numpy array or list).  A column that only
passes through stays an Arrow array (``take``); numpy holds only what a
stage computes on.  The boundary types each output field by the declared
schema and names the plan node ``<enclosing>.<fn>``; ``map_rows`` hands
its row loop to the one batch loop, ``_arrow_loop``, a batch every
``spark.sql.execution.arrow.maxRecordsPerBatch`` output rows, so a
fan-out stage never holds all the records of an input batch at once
(read on the driver, like ``useLargeVarTypes``).  Per-task state
(a cache, a client built at the first batch) lives in ``fn``'s closure:
each task deserializes its own copy of ``fn``.

Why Arrow: a ``long`` keeps all 64 bits next to a null on both sides of
a stage.  Pandas has no such null for ``long``: it widens the column to
float64, which rounds past 2**53.

Fusion (``map_rows`` only).  When ``df`` is a ``map_rows`` output seen
through attribute-only projections (``select`` of columns, ``alias``,
renames, ``drop``), ``map_rows`` builds ONE ``mapInArrow`` over the
first stage's input: each dict the first stage yields goes straight
into the next stage, as the contract's values, with no Arrow round trip
and no second Python runner per task.  Chains of any length fold the
same way, and the plan node is named ``<stage1>+<stage2>+…``.  It does
not fuse across anything else — a filter, a computed column, a join or
union, a ``cut()`` (the way to share an intermediate: each consumer of
an uncut stage runs it anyway) — or when the next stage reads a field
of a type whose round trip ``_HANDOFF`` does not reproduce, so a fused
and an unfused chain hand over the same values.  The producer is found
by its node's text in the analyzed plan, which holds the exprIds of its
output attributes, unique to that node; only the last ``_REMEMBERED``
stages are kept, so a long-lived driver does not keep every DataFrame
alive (an evicted stage is still read correctly, as a second Python
node).
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass
from itertools import islice

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, ByteType, DataType, IntegerType, LongType, ShortType,
    StringType, StructType,
)

__all__ = ["map_batches", "map_groups", "map_rows"]

_REMEMBERED = 256


@dataclass(frozen=True)
class _Stage:
    """How one ``map_rows`` node was built: ``fn`` maps each row of
    ``source`` (the first stage's input) to its output dicts."""

    source: DataFrame
    fn: Callable[..., Iterator[dict]]
    struct: StructType
    name: str


# the last _REMEMBERED stages, keyed by their plan node's text, which
# holds the exprIds of its output attributes (unique in the one JVM a
# PySpark process talks to, across sessions)
_stages: OrderedDict[str, _Stage] = OrderedDict()
_stages_lock = threading.Lock()


def map_batches(df: DataFrame,
                fn: Callable[[pa.RecordBatch], Mapping],
                schema: str | StructType) -> DataFrame:
    """``df.mapInArrow``: ``fn(batch)`` returns the output columns."""
    return _map_in_arrow(df, lambda batch: (fn(batch),), _struct(schema),
                         _stage_name(fn))


def map_groups(df: DataFrame, keys: list[str],
               fn: Callable[[tuple, pa.Table], Mapping],
               schema: str | StructType) -> DataFrame:
    """``df.groupBy(*keys).applyInArrow``: ``fn(key, table)`` returns
    the output columns; ``table`` holds every column of ``df``."""
    struct = _struct(schema)
    arrow = _arrow_schema(df, struct)

    # un-annotated: pyspark infers the grouped eval type from hints
    def run(key, table):
        return _table(fn(tuple(k.as_py() for k in key), table), arrow)

    run.__name__ = _stage_name(fn)
    return df.groupBy(*keys).applyInArrow(run, struct)


def map_rows(df: DataFrame,
             fn: Callable[..., Iterator[dict]],
             schema: str | StructType) -> DataFrame:
    """``df.mapInArrow`` over a per-row generator.

    ``fn`` is called once per input row with that row's values, in
    ``df``'s column order, and yields 0..n dicts keyed by ``schema``'s
    field names; a missing key is null.  The plan node is named
    ``<enclosing>.<fn>`` from ``fn``'s qualified name (its module when
    ``fn`` is top-level); a stage fused onto the one it reads (module
    docstring) is named ``<producer>+<enclosing>.<fn>``."""
    struct = _struct(schema)
    name = _stage_name(fn)
    source = df
    producer = _producer(df)
    if producer is not None:
        stage, feed = producer
        source = stage.source
        fn, name = _compose(stage.fn, feed, fn), f"{stage.name}+{name}"
    limit = int(df.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    out = _map_in_arrow(source, _row_chunks(fn, struct.fieldNames(), limit),
                        struct, name)
    key = _node_text(out._jdf.queryExecution().analyzed())
    with _stages_lock:
        _stages[key] = _Stage(source, fn, struct, name)
        if len(_stages) > _REMEMBERED:
            _stages.popitem(last=False)
    return out


def _struct(schema: str | StructType) -> StructType:
    return schema if isinstance(schema, StructType) else DataType.fromDDL(schema)


def _stage_name(fn) -> str:
    scope = [p for p in fn.__qualname__.split(".") if p != "<locals>"]
    if len(scope) < 2:
        scope.insert(0, fn.__module__.rpartition(".")[2])
    return ".".join(scope[-2:])


def _arrow_schema(df: DataFrame, struct: StructType) -> pa.Schema:
    # string/binary as the Arrow types the session's Python worker expects
    large = df.sparkSession.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes", "false").lower() == "true"
    return to_arrow_schema(struct, prefers_large_types=large)


def _table(columns: Mapping, schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pydict(dict(columns), schema=schema)


def _row_chunks(fn, columns: list[str], limit: int):
    """``chunks(batch)`` for ``map_rows``: ``fn``'s dicts over the batch's
    rows, handed on as columns every ``limit`` rows (all at once when
    ``limit`` is not positive, as Spark reads ``maxRecordsPerBatch``)."""
    def chunks(batch):
        values = zip(*(column.to_pylist() for column in batch.columns))
        out = (r for v in values for r in fn(*v))
        while chunk := list(islice(out, limit if limit > 0 else None)):
            yield {c: [r.get(c) for r in chunk] for c in columns}
    return chunks


def _arrow_loop(batches, chunks, schema: pa.Schema):
    """The one batch loop: each non-empty input batch's ``chunks(batch)``
    mappings leave as Arrow batches typed by ``schema``."""
    for batch in batches:
        if batch.num_rows:
            for columns in chunks(batch):
                yield from _table(columns, schema).to_batches()


def _map_in_arrow(source: DataFrame, chunks, struct: StructType, name: str) -> DataFrame:
    schema = _arrow_schema(source, struct)

    def run(batches):
        return _arrow_loop(batches, chunks, schema)

    run.__name__ = name
    return source.mapInArrow(run, struct)


# ---------------------------------------------------------------------------
# fusion


def _int(v):
    return None if v is None else int(v)


def _bytes(v):
    return None if v is None else v.encode() if isinstance(v, str) else bytes(v)


def _str(v):
    return v


# what a value yielded for a field of each type reaches the next stage as,
# the same as it would after an Arrow round trip
_HANDOFF = {
    ByteType: _int, ShortType: _int, IntegerType: _int, LongType: _int,
    BinaryType: _bytes, StringType: _str,
}


def _compose(first, feed, then):
    """``then`` over every dict ``first`` yields, ``feed`` picking its
    arguments: ``(field, handoff)`` per argument."""
    def chained(*v):
        for r in first(*v):
            yield from then(*(h(r.get(k)) for k, h in feed))
    return chained


def _node_text(plan) -> str:
    """One logical plan node (not its children) as Spark prints it."""
    return plan.simpleString(1 << 20)


# a Project item that only passes or renames an attribute, e.g. ``doc_id#3L``
# or ``warc#4 AS asset#9``; names outside this charset do not fuse
_NAME = r"[A-Za-z_][A-Za-z0-9_]*"
_PASS = re.compile(rf"({_NAME})#(\d+)L?(?: AS ({_NAME})#(\d+)L?)?")
_OUTPUT = re.compile(r"\[([^\[\]]*)\], (?:true|false)$")


def _producer(df: DataFrame):
    """``(stage, feed)`` when ``df`` reads a remembered stage through
    attribute-only projections and every field it reads has a handoff,
    else None.  Reads node texts of the analyzed plan: a few driver
    round trips, none per column."""
    plan = df._jdf.queryExecution().analyzed()
    projects = []
    while (kind := plan.nodeName()) in ("Project", "SubqueryAlias"):
        if kind == "Project":
            projects.append(plan)
        plan = plan.child()
    if kind != "MapInArrow":
        return None
    key = _node_text(plan)
    with _stages_lock:
        stage = _stages.get(key)
        if stage is not None:
            _stages.move_to_end(key)
    if stage is None:
        return None
    # exprId -> (name, field of the stage), carried up through each projection
    found = _OUTPUT.search(key)
    if found is None:
        return None
    reads = {}
    for item, f in zip(found[1].split(", "), stage.struct.fields):
        m = _PASS.fullmatch(item)
        if m is None or m[1] != f.name or m[3]:
            return None
        reads[m[2]] = (f.name, f)
    if len(reads) != len(stage.struct.fields):
        return None
    order = list(reads)
    for proj in reversed(projects):
        above, order = {}, []
        for item in _node_text(proj).removeprefix("Project [").removesuffix("]").split(", "):
            m = _PASS.fullmatch(item)
            if m is None or reads.get(m[2], ("",))[0] != m[1]:
                return None
            out_id = m[4] or m[2]
            above[out_id] = (m[3] or m[1], reads[m[2]][1])
            order.append(out_id)
        reads = above
    feed = []
    for i in order:
        f = reads[i][1]
        handoff = _HANDOFF.get(type(f.dataType))
        if handoff is None:
            return None
        feed.append((f.name, handoff))
    return stage, tuple(feed)
