"""Star-schema catalog over the driver's parquet test data.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under
``{sf_dir}/{name}.parquet``.

Scale note: these are plain parquet scans, so Catalyst gets predicate
pushdown, column pruning and partition-size splitting for free; at 100 TB
the same loader works over a partitioned directory layout
(``.../orders/o_orderdate_month=.../*.parquet``) with partition pruning.
Each table's schema is read from its parquet footer on the driver
(``operators.fs.read_parquet``), so registering a table runs no Spark
job; past Spark's parallel-listing threshold of files, Spark's own
schema-merge job infers it instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark.operators.fs import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensively set runtime-settable confs this catalog depends on.

    The harness may hand us a plain ``SparkSession`` built without our
    ``session.get_spark`` defaults. ``events.parquet`` carries
    ``TIMESTAMP(NANOS)`` columns which Spark refuses to read unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set — and that conf is
    runtime-settable, so set it here (idempotent) rather than relying on
    who built the session.

    NOTE the engine-wide contract this enforces: **the session timezone is
    UTC whenever this catalog is in use** — ``session.get_spark`` builds
    sessions that way, and ``load_table`` pins it on foreign sessions too,
    SESSION-WIDE (``spark.sql.session.timeZone`` has no narrower scope).
    Caller-side timestamp logic that wants host-local-TZ behavior must run
    on a separate session; mixing it with this catalog silently changes
    its semantics after the first table load.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→LTZ normalization below interprets naive wall-clock values
        # in the session timezone; pin it so `unix_micros(ts)` equals DuckDB's
        # `epoch_us(ts)` on the same naive parquet values regardless of host TZ.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down — fall through and let the read report it


# plan cache: (applicationId, sf_dir, name) → DataFrame.  A DataFrame is an
# immutable lazy plan, so handing the same object to every caller is safe;
# re-listing the file and re-reading its footer per call costs driver time
# — pure fixed overhead when a benchmark or notebook builds the same query
# repeatedly.  Keyed by applicationId so a stopped
# session's plans are never reused by its successor.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table; normalizes physical quirks.

    ``events.ts`` has shipped in different physical forms across testdata
    generations: parquet ``timestamp[ns]`` (Spark exposes it as int64 under
    ``nanosAsLong``) and parquet ``timestamp[us]`` with no timezone (Spark 4
    infers TIMESTAMP_NTZ, which ``unix_micros``/``window`` reject). Normalize
    both to a proper TIMESTAMP (LTZ) at microsecond precision under the UTC
    session timezone — matches DuckDB's ``epoch_us`` on the same values.
    """
    try:
        key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    except Exception:
        key = None
    if key is not None and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    _ensure_session_confs(spark)
    df = read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer DIV — a double division would lose precision at ns scale
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # naive wall-clock → instant; session TZ pinned to UTC above
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        _TABLE_CACHE[key] = df
    return df


class LazyTables(dict):
    """Mapping of table name → DataFrame that loads each table on first access.

    Keeps the ``load_tables(...)["orders"]`` call-site contract while making
    sure a query only touches the parquet footers of tables it actually uses
    — one unreadable table can no longer sink unrelated queries.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self.keys():
            if name not in TABLES:
                raise KeyError(name)
            super().__setitem__(name, load_table(self._spark, self._sf_dir, name))
        return super().__getitem__(name)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Lazy table map — parquet footers are read only for tables a query uses."""
    return LazyTables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register all tables as temp views (for the SQL surface) — eager by design."""
    dfs = load_tables(spark, sf_dir)
    for name in TABLES:
        dfs[name].createOrReplaceTempView(name)
    return dfs
