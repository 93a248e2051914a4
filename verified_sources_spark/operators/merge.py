"""Write-disposition sink algebra (SURVEY.md §2.9).

The reference's four dispositions (append / replace / merge / merge+hard
delete, reference: sources/mongodb/__init__.py:76-77,
sources/pg_replication/helpers.py:758-773) expressed Spark-first:

- ``merge_dataframes`` is the pure relational core:
      target ⟕anti src ∪ dedup(src ∖ deletes)
  i.e. keep target rows whose key is untouched, then union the deduped
  non-deleted source rows.  On a transactional table format (Delta /
  Iceberg) this becomes a real ``MERGE INTO`` with file-level pruning; the
  join formulation here is the format-agnostic fallback and is exactly
  what Delta executes physically (inner-join to find touched files,
  rewrite).  The anti-join shuffles on the key once; with a bucketed
  target the shuffle disappears.

- ``ParquetSink`` materializes the dispositions on plain parquet
  directories with rename-based swap (write tmp → rename aside → rename
  in → delete staged), the closest we get to transactional semantics
  without a table format dependency.  Crash-consistency here is
  best-effort (a crash mid-swap leaves hidden ``.__old`` staging dirs to
  recover from); use ``ManifestTable`` when the commit itself must be
  atomic.  All driver-side file operations go through
  ``operators.fs.FS`` — ``HadoopFS`` by default, so the same commit code
  runs against hdfs:// / s3a:// / abfs:// paths, not only a local disk.
"""

from __future__ import annotations

import posixpath
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark.operators.dedup import keep_latest
from verified_sources_spark.operators.fs import FS, HadoopFS


def merge_dataframes(
    target: DataFrame | None,
    source: DataFrame,
    keys: Sequence[str],
    dedup_sort: Sequence[str] | None = None,
    dedup_descending: bool = True,
    hard_delete_col: str | None = None,
) -> DataFrame:
    """Keyed upsert with optional within-batch dedup and hard deletes.

    - ``dedup_sort``: keep one source row per key ordered by these columns
      (desc by default) — the reference's ``dedup_sort: desc`` on ``lsn``.
    - ``hard_delete_col``: source rows with this column non-NULL delete the
      key instead of upserting (reference:
      sources/pg_replication/helpers.py:768-773).
    """
    keys = list(keys)
    src = source
    if dedup_sort:
        src = keep_latest(src, keys, list(dedup_sort), descending=dedup_descending)
    if hard_delete_col is not None:
        upserts = src.filter(F.col(hard_delete_col).isNull()).drop(hard_delete_col)
    else:
        upserts = src
    if target is None:
        return upserts
    # every source key (including deletes) removes the old target row
    touched = src.select(*keys).distinct()
    survivors = target.join(touched, on=keys, how="left_anti")
    return survivors.unionByName(upserts, allowMissingColumns=True)


class ParquetSink:
    """A named table on a parquet directory with the dlt write dispositions.

    ``merge`` rewrites the table via the join formulation above.  Swap is
    atomic at the directory level.  (Scale path: Delta `MERGE INTO` with
    deletion vectors; this class keeps the same API so callers don't
    change.)
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] | None = None,
        fs: FS | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_by = list(partition_by or [])
        self.fs = fs if fs is not None else HadoopFS(spark)

    def exists(self) -> bool:
        return self.fs.isdir(self.path) and bool(self.fs.listdir(self.path))

    def read(self) -> DataFrame:
        # mergeSchema: tolerate column drift across appended batches
        # (dlt's schema-evolution contract; new columns read as NULL in
        # old files).  Partition columns come back via directory discovery.
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def _writer(self, df: DataFrame):
        w = df.write
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w

    def append(self, df: DataFrame) -> None:
        self._writer(df).mode("append").parquet(self.path)

    def replace(self, df: DataFrame) -> None:
        # rename-aside: the old table moves to a sibling staging name and is
        # deleted only after the new one is in place, so a crash at any
        # single point leaves either the old or the new table intact (plus,
        # at worst, a leftover staging dir to clean up)
        token = uuid.uuid4().hex[:8]
        tmp = f"{self.path}.__tmp_{token}"
        self._writer(df).mode("overwrite").parquet(tmp)
        aside = None
        if self.fs.isdir(self.path):
            aside = f"{self.path}.__old_{token}"
            self.fs.rename(self.path, aside)
        self.fs.rename(tmp, self.path)
        if aside is not None:
            self.fs.rmtree(aside, ignore_errors=True)

    def replace_partitions(self, df: DataFrame) -> None:
        """Dynamic partition overwrite: rewrite ONLY the partitions present
        in *df*, leave others untouched — the scale path for replace-mode
        loads of date-partitioned tables (a full-table replace at 100 TB
        rewrites everything; this rewrites one day)."""
        if not self.partition_by:
            raise ValueError("replace_partitions requires partition_by")
        (
            self._writer(df)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    @staticmethod
    def _part_dir_value(v) -> str:
        """Value → UNESCAPED partition value string (canonical form used
        for matching; directory names are matched by percent-DECODING what
        the writer produced, never by re-encoding)."""
        if v is None:
            return "__HIVE_DEFAULT_PARTITION__"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    def _partition_dirs(self, root: str) -> dict[tuple, str]:
        """Map canonical partition-value tuple → relative dir fragment by
        LISTING what the writer actually wrote and percent-decoding the
        hive-escaped dir names (Spark escapes ':', '%', etc. as %XX —
        reconstructing names by re-encoding would have to replicate the
        exact escape set; decoding is the safe direction)."""
        from urllib.parse import unquote

        pcols = list(self.partition_by)
        out: dict[tuple, str] = {}

        def walk(d: str, depth: int, frag_parts: list[str], vals: list[str]):
            if depth == len(pcols):
                out[tuple(vals)] = "/".join(frag_parts)
                return
            if not self.fs.isdir(d):
                return
            for name in self.fs.listdir(d):
                if "=" not in name:
                    continue
                col, _, raw = name.partition("=")
                if col != pcols[depth]:
                    continue
                walk(
                    posixpath.join(d, name),
                    depth + 1,
                    frag_parts + [name],
                    vals + [unquote(raw)],
                )

        walk(root, 0, [], [])
        return out

    def merge(
        self,
        df: DataFrame,
        keys: Sequence[str],
        dedup_sort: Sequence[str] | None = None,
        hard_delete_col: str | None = None,
    ) -> None:
        """Keyed upsert. With ``partition_by`` set, only partitions that
        contain touched keys are read in full and rewritten — untouched
        partition files stay byte-identical (asserted in
        tests/test_sink_evolution.py). Without partitioning, falls back to
        the full-table rewrite (reference merge semantics:
        sources/pg_replication/helpers.py:758-773)."""
        target = self.read() if self.exists() else None
        if target is None or not self.partition_by:
            merged = merge_dataframes(
                target, df, keys, dedup_sort=dedup_sort, hard_delete_col=hard_delete_col
            )
            # replace() writes to a tmp dir first, so the lazy plan still
            # reads the old files while producing the new ones.
            self.replace(merged)
            return

        pcols = list(self.partition_by)
        touched = list(touched_partitions(target, df, keys, pcols).values())
        if not touched:
            return
        # partition-pruned target slice: filter on partition columns only,
        # so the parquet scan prunes untouched directories entirely
        cond = F.lit(False)
        for vals in touched:
            row_match = F.lit(True)
            for c, v in zip(pcols, vals):
                row_match = row_match & (F.col(c).isNull() if v is None else (F.col(c) == F.lit(v)))
            cond = cond | row_match
        target_slice = target.filter(cond)
        merged = merge_dataframes(
            target_slice, df, keys, dedup_sort=dedup_sort, hard_delete_col=hard_delete_col
        )

        # materialize to tmp while the old files are still readable, then
        # swap at partition-directory granularity. A partition emptied by
        # hard deletes is absent from tmp and simply removed — dynamic
        # partition overwrite alone would leave its stale files behind.
        token = uuid.uuid4().hex[:8]
        tmp = f"{self.path}.__tmp_{token}"
        self._writer(merged).mode("overwrite").parquet(tmp)
        # resolve actual (hive-escaped) dir names by listing, never by
        # re-encoding values — ':' and friends become %XX on disk
        tmp_dirs = self._partition_dirs(tmp)
        tgt_dirs = self._partition_dirs(self.path)
        # rename-aside swap: old partition dirs move to dot-prefixed staging
        # names (invisible to Spark's file listing) and are deleted only
        # after every new partition is in place — a crash mid-loop leaves
        # recoverable staged dirs, never a half-deleted partition
        staged: list[str] = []
        for i, vals in enumerate(touched):
            key = tuple(self._part_dir_value(v) for v in vals)
            tgt_frag, tmp_frag = tgt_dirs.get(key), tmp_dirs.get(key)
            if tgt_frag is not None:
                aside = f"{self.path}/.__old_{token}_{i}"
                self.fs.rename(f"{self.path}/{tgt_frag}", aside)
                staged.append(aside)
            if tmp_frag is not None:
                dst = f"{self.path}/{tgt_frag or tmp_frag}"
                parent = posixpath.dirname(dst)
                if parent:
                    self.fs.makedirs(parent)
                self.fs.rename(f"{tmp}/{tmp_frag}", dst)
        for aside in staged:
            self.fs.rmtree(aside, ignore_errors=True)
        self.fs.rmtree(tmp, ignore_errors=True)

    def write(self, df: DataFrame, disposition: str = "append", **kwargs) -> None:
        if disposition == "append":
            self.append(df)
        elif disposition == "replace":
            self.replace(df)
        elif disposition == "merge":
            self.merge(df, **kwargs)
        else:
            raise ValueError(f"unknown write_disposition: {disposition}")


def touched_partitions(
    target: DataFrame, df: DataFrame, keys: Sequence[str], partition_by: Sequence[str]
) -> dict[tuple, tuple]:
    """{canonical dir fragment: partition values} a keyed merge of ``df``
    into ``target`` may modify: the source's own partitions plus
    partitions of target rows whose key appears in the source (keys can
    move partitions — pruning by source partitions alone would strand
    the old row). The key scan is column-pruned (keys + partition
    columns only); the result is metadata-sized (a few partition values
    per batch), like the engine's cursor collects. This is the
    plain-parquet analogue of Delta MERGE file pruning, shared by
    ``ParquetSink.merge`` (filters on the values) and
    ``ManifestTable.merge`` (matches manifest entries by the fragment)."""
    pcols = list(partition_by)
    src_keys = df.select(*keys).distinct()
    tgt_parts = (
        target.join(src_keys, on=list(keys), how="left_semi").select(*pcols).distinct()
    )
    src_parts = df.select(*pcols).distinct()
    # keyed by directory fragment: the same partition can surface twice
    # with different Python types (partition-dir values read back
    # type-inferred, e.g. date vs the string that was written)
    out: dict[tuple, tuple] = {}
    for r in tgt_parts.unionByName(src_parts).distinct().collect():
        vals = tuple(r[c] for c in pcols)
        out.setdefault(tuple(ParquetSink._part_dir_value(v) for v in vals), vals)
    return out
