"""The three closed-loop workloads.

Each workload generates its inputs from the seed, registers them with a
Spark session (part of set-up), runs passes of operations through the
engine's public functions, and checks its outputs against an independent
oracle.  Every public call goes through ``Op.call`` (``run.py``), which tags it
with a Spark job group and records its wall time.
"""

from __future__ import annotations

import concurrent.futures
import os
import shutil

import pyarrow.parquet as pq

import gen
import oracle

# the 16 entries of the root bench.py headline set, in the same order
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "rollup_revenue",
    "window_running_total",
    "merge_upsert_events",
    "sessionize_events",
    "session_window_events",
    "events_keep_latest_per_user",
    "as_of_latest_order",
    "cdc_apply_changes",
    "lsh_candidate_pairs_docs",
    "minhash_signatures_docs",
    "cosine_topk_embeddings",
    "token_stats_docs",
)

# heavy-tail entries: the connected-components loop over eager cuts, the
# Lloyd loop, and an exec-bound control (cheap build, Python UDF exec)
CURATION = (
    "near_dedup_docs_keep",
    "semantic_dedup_embeddings",
    "cross_source_dedup_docs",
)


def force_eval(df) -> int:
    """Evaluate every output column and return the row count:
    ``try_sum(xxhash64(all columns))`` so no projection can be pruned;
    complex types go through ``to_json`` (binary arrays are skipped)."""
    import pyspark.sql.functions as F

    cols = []
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype.startswith(("array", "struct", "map")):
            c = F.to_json(c) if not dtype.startswith("array<binary") else F.lit(None)
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.try_sum(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return row["n"]


class QueryWorkload:
    """Registry entries from ``plans/queries.py``: one operation builds an
    entry (the registry callable) and then fully evaluates it."""

    def __init__(self, name: str, entries: tuple[str, ...], sf: float):
        self.name, self.entries, self.sf = name, entries, sf
        self.results: dict[str, tuple] = {}

    def prepare(self, work: str, seed: int) -> dict:
        self.data_dir = os.path.join(work, "data")
        return gen.star_schema(self.data_dir, self.sf, seed)

    def register(self, spark) -> None:
        from verified_sources_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(spark, self.data_dir, t)

    def begin_pass(self, p: int) -> None:
        pass

    def run_pass(self, run, p: int, collect: bool = False) -> None:
        """``collect`` evaluates by collecting the rows (kept for the
        oracle check) instead of the hash aggregate; the warm-up pass does
        this, so checking costs no extra evaluation."""
        from verified_sources_spark.plans.queries import QUERIES

        for name in self.entries:
            with run.op(p, name) as op:
                df = op.call("build", lambda: QUERIES[name](run.spark, self.data_dir))
                if collect:
                    rows = op.call("exec", lambda: [tuple(r) for r in df.collect()])
                    self.results[name] = (df.columns, rows)
                    op.rows = len(rows)
                else:
                    op.rows = op.call("exec", lambda: force_eval(df))

    def start_oracle(self) -> None:
        """Compute the DuckDB oracle results on a background thread; it only
        reads the generated files, so it may overlap the warm-up pass."""
        from verified_sources_spark.plans.oracle import ORACLE_SQL

        queries = {n: ORACLE_SQL[n] for n in self.entries}
        pool = concurrent.futures.ThreadPoolExecutor(1)
        self._oracle = pool.submit(oracle.oracle_results, self.data_dir, queries)
        pool.shutdown(wait=False)

    def wait_oracle(self) -> None:
        concurrent.futures.wait([self._oracle])

    def check(self, ops) -> list[str]:
        """Collected results against the oracle; every evaluation of an
        entry must also return the collected row count."""
        expected = self._oracle.result()
        bad = []
        for name in self.entries:
            if name not in self.results:
                bad.append(f"{name}: no result to check")
            elif err := oracle.check_entry(expected[name], *self.results[name]):
                bad.append(f"{name}: {err}")
        for o in ops:
            if not o.failed and o.name in self.results and o.rows != len(self.results[o.name][1]):
                bad.append(f"{o.name}: pass {o.p} returned {o.rows} rows")
        return bad

    def sink_stats(self) -> dict:
        return {}


class MergeWorkload:
    """A change log loaded batch by batch through ``Pipeline.run`` (merge
    with primary key, dedup sort, hard deletes and an incremental cursor),
    each load followed by one aggregate read of the sink through
    ``Pipeline.read``.  Every pass restarts from the same snapshot sink."""

    name = "elt_merge"
    table = "accounts"

    def __init__(self, base_rows: int, batches: int, batch_rows: int):
        self.base_rows, self.batches, self.batch_rows = base_rows, batches, batch_rows

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.log_dir = os.path.join(work, "log")
        self.snapshot = os.path.join(work, "snapshot")
        info = gen.change_log(self.log_dir, seed, self.base_rows, self.batches, self.batch_rows)
        self.batch_files = [
            os.path.join(self.log_dir, f"batch_{b:02d}.parquet") for b in range(self.batches)
        ]
        self.batch_rows_on_disk = [pq.ParquetFile(f).metadata.num_rows for f in self.batch_files]
        self.batch_bytes = [os.path.getsize(f) for f in self.batch_files]
        self.pass_dir = None
        # the snapshot sink: the base rows as the sink's only data file
        os.makedirs(os.path.join(self.snapshot, self.table))
        shutil.copy(os.path.join(self.log_dir, "base.parquet"),
                    os.path.join(self.snapshot, self.table, "part-00000-base.parquet"))
        return info

    def register(self, spark) -> None:
        self.batch_frames = [spark.read.parquet(f) for f in self.batch_files]

    def start_oracle(self) -> None:
        pass

    def wait_oracle(self) -> None:
        pass

    def begin_pass(self, p: int) -> None:
        """Restore the snapshot sink (not part of the timed pass)."""
        if self.pass_dir:
            shutil.rmtree(self.pass_dir, ignore_errors=True)
        self.pass_dir = os.path.join(self.work, f"pass_{p}")
        shutil.copytree(self.snapshot, self.pass_dir)

    def run_pass(self, run, p: int, collect: bool = False) -> None:
        import pyspark.sql.functions as F

        from verified_sources_spark.pipeline import Pipeline

        pipe = Pipeline(run.spark, self.pass_dir)
        for b, batch in enumerate(self.batch_frames):
            with run.op(p, f"batch_{b:02d}") as op:
                info = op.call("load", lambda: pipe.run(
                    batch, self.table, write_disposition="merge", primary_key="id",
                    dedup_sort="lsn", hard_delete_col="deleted", incremental="updated_at",
                ))
                op.skipped = self.batch_rows_on_disk[b] - info.rows_loaded
                op.loaded_bytes = self.batch_bytes[b]
                df = op.call("build", lambda: pipe.read(self.table))
                op.call("exec", lambda: df.agg(
                    F.count(F.lit(1)), F.sum("amount"), F.max("updated_at"),
                    F.countDistinct("status"),
                ).collect())
                op.latency_s = op.walls["load"]
                op.read_s = op.walls["build"] + op.walls["exec"]
                op.rows = info.rows_loaded

    def check(self, ops) -> list[str]:
        err = oracle.check_merge(
            self.log_dir,
            os.path.join(self.pass_dir, self.table),
            os.path.join(self.pass_dir, "_state", "cursors.json"),
            self.table,
        )
        return [f"{self.name}: {err}"] if err else []

    def sink_stats(self) -> dict:
        files, size = oracle.sink_stats(os.path.join(self.pass_dir, self.table))
        return {"files": files, "bytes": size}


WORKLOADS = {
    "analytics_headline": lambda: QueryWorkload("analytics_headline", HEADLINE, sf=0.1),
    "curation_tail": lambda: QueryWorkload("curation_tail", CURATION, sf=0.01),
    "elt_merge": lambda: MergeWorkload(base_rows=200_000, batches=4, batch_rows=5_000),
}
