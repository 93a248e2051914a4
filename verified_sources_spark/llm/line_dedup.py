"""Corpus-level line/paragraph deduplication (the CCNet recipe).

Per-document repetition signals (text_prep.repetition_signals) catch
intra-document boilerplate; this operator removes units duplicated
ACROSS documents — navigation chrome, cookie banners, license headers —
the CCNet/MassiveText "shard-level paragraph dedup" step that runs
before near-dup detection in large-scale training-data pipelines
(published methodology, re-expressed as Spark dataflows).

Shape: explode documents into positioned units (newline paragraphs, or
fixed token windows for corpora without line structure), count each
unit corpus-wide, drop units over the occurrence threshold (optionally
keeping the first occurrence), then reassemble documents in unit order.

Scale shape: count and argmin are WINDOW aggregates over
``xxhash64(unit)`` — an 8-byte shuffle key instead of the unit string —
so the exploded unit table shuffles ONCE and the document split/explode
runs once (the former groupBy-then-join-back formulation forked the
plan DAG: the explode executed twice and the unit table shuffled
twice).  The cost of the window form is that an unbounded window
partition BUFFERS its rows in the reducer (spilling to disk past the
threshold): a banner occurring millions of times is one linear,
spill-backed partition rather than one pre-aggregated row — soaked at
1M occurrences of a single hot unit (``tools/soak.py
hot_span_window_vs_groupjoin``) against the groupBy+join form; see
OPTIMIZATION_r16.md for the numbers.
Reassembly is a per-document groupBy whose rows are the document's own
units.  No collect_list across documents, no driver-side state.  Hash
collisions
(~2^-64 per pair) can at worst drop an extra unit — the standard
hash-dedup tradeoff; oracles group by the unit string itself and agree
on collision-free corpora.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from verified_sources_spark.functions.text import tokens


def split_lines(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n", min_chars: int = 1
) -> DataFrame:
    """(id, pos, line) — one row per positioned unit, splitting on
    ``sep``; units shorter than ``min_chars`` after trim are dropped
    (they carry no dedup signal and bloat the hash table)."""
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "line"),
    )
    return exploded.filter(F.length(F.trim("line")) >= min_chars)


def split_token_windows(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """(id, pos, line) where a unit is a fixed ``window``-token slice —
    the re-lining used for corpora without newline structure.  Stays in
    two projections (no shuffle): the token array is projected once,
    then sliced and posexploded — referencing the tokenizer Column
    directly would inline ``regexp_extract_all`` into every reference
    (3 copies here).  Joining the kept units back with a single space
    reproduces the tokenized document exactly when nothing is dropped."""
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    n_units = F.ceil(F.size(toks) / F.lit(window)).cast("int")
    wins: Column = F.when(F.size(toks) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_units - 1),
            lambda i: F.array_join(F.slice(toks, i * window + 1, window), " "),
        )
    )
    return staged.select(
        F.col(id_col), F.posexplode(wins).alias("pos", "line")
    )


def line_dedup(
    lines: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    min_occurrences: int = 2,
    keep_first: bool = False,
    keep_flag: str | None = None,
) -> DataFrame:
    """Drop units occurring ``>= min_occurrences`` times corpus-wide.

    ``keep_first=True`` keeps the single occurrence with the smallest
    (id, pos) — exact unit-level dedup; ``False`` removes every copy —
    boilerplate scrubbing (a unit repeated that often is chrome, not
    content).  Count and argmin are window aggregates over the unit
    hash: ONE pass over the exploded units and one shuffle — the
    previous groupBy-then-join-back formulation forked the plan DAG, so
    the document split/explode executed twice and the unit table
    shuffled twice.

    ``keep_flag``: when set, no rows are dropped — every unit comes back
    with a boolean column of that name instead.  That lets
    :func:`rebuild_docs` derive per-document totals and kept units from
    ONE table (one groupBy) instead of re-deriving the exploded units a
    second time for the totals side."""
    from pyspark.sql import Window

    h = F.xxhash64(line_col).alias("_h")
    keyed = lines.select(id_col, pos_col, line_col, h)
    w = Window.partitionBy("_h")
    joined = keyed.withColumn("_cnt", F.count(F.lit(1)).over(w)).withColumn(
        "_first", F.min(F.struct(id_col, pos_col)).over(w)
    )
    below = F.col("_cnt") < min_occurrences
    if keep_first:
        is_first = (F.col(f"_first.{id_col}") == F.col(id_col)) & (
            F.col(f"_first.{pos_col}") == F.col(pos_col)
        )
        cond = below | is_first
    else:
        cond = below
    if keep_flag is not None:
        return joined.withColumn(keep_flag, cond).drop("_h", "_cnt", "_first")
    return joined.filter(cond).drop("_h", "_cnt", "_first")


def rebuild_docs(
    kept: DataFrame,
    all_lines: DataFrame | None,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    sep: str = "\n",
    out_col: str = "text_clean",
    keep_col: str | None = None,
) -> DataFrame:
    """One row per ORIGINAL document: kept units re-joined in position
    order (documents whose units were all dropped survive with an empty
    string — pipeline composition needs the row), plus kept/dropped
    counts.  collect_list here is per-document only — bounded by the
    document's own size, never corpus-wide.

    Two input shapes:
    - ``(kept, all_lines)``: kept rows plus the full unit table for the
      totals — the totals side re-derives the explode.
    - ``(flagged, None, keep_col=...)``: one table carrying every unit
      with a boolean keep flag (``line_dedup(..., keep_flag=...)``) —
      totals, kept text and counts all come from a SINGLE per-document
      aggregation (collect_list skips the NULLs the flag masks out), so
      the document split/explode runs once for the whole rebuild."""
    if all_lines is None:
        if keep_col is None:
            raise ValueError("pass all_lines or keep_col")
        keep = F.col(keep_col)
        return kept.groupBy(id_col).agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct(pos_col, line_col)))
                    ),
                    lambda s: s[line_col],
                ),
                sep,
            ).alias(out_col),
            F.count(F.when(keep, F.lit(1))).alias("n_kept"),
            (F.count(F.lit(1)) - F.count(F.when(keep, F.lit(1)))).alias("n_dropped"),
        ).select(id_col, out_col, "n_kept", "n_dropped")
    totals = all_lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_units"))
    parts = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos_col, line_col))),
                lambda s: s[line_col],
            ),
            sep,
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(parts, id_col, "left")
        .select(
            id_col,
            F.coalesce(out_col, F.lit("")).alias(out_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_units") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )
