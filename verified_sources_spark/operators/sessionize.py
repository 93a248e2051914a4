"""Gap-based sessionization (the matomo session-close heuristic,
reference sources/matomo/__init__.py visits handling) with a
SKEW-PROOF formulation.

``sessionize_plain`` is the textbook one-window cumsum: correct, but a
mega-user (one key holding a large share of all events — every real
clickstream has one) serializes that user's entire history into ONE
window task.  The r7 hostile-skew soak measured it directly: 2.6×
max/median task skew at sf10 with a 30% hot user.

``sessionize_bucketed`` removes the straggler with the engine's
bucketed prefix-scan pattern (operators/prefix.py, the CDC running
windows): window work partitions by (user, TIME BUCKET) so a hot
user's history splits across buckets, and a second, metadata-sized
window over per-bucket summaries (first/last timestamp, local session
count — a handful of rows per user) stitches sessions that straddle
bucket boundaries.  Output is IDENTICAL to the plain version (asserted
against it and the DuckDB oracle): sessions numbered 1..N per user in
time order.

Scale shape: pass 1 windows are bounded by bucket span × per-user
rate, not by a user's lifetime; pass 2 touches #buckets-per-user rows.
No SinglePartition exchange anywhere.

``sessionize`` (r8, the default entry point) is ADAPTIVE: the bucketed
formulation costs 3 shuffles where the plain one costs 1, so every
small or unskewed caller was paying ~2× for a straggler they don't
have (r7 bench: 0.675 s vs 0.274 s at sf0.1).  ``sizing.has_hot_key``
— a footer bound, then if needed one single-column scan map-side
combined to one row per user and reduced to (max, mean) on the driver —
picks plain unless some user BOTH exceeds an absolute straggler floor
(a task that would run materially longer than its peers) AND dominates
the mean.  Callers that already know their skew call
``sessionize_plain`` or ``sessionize_bucketed`` directly and skip the
probe entirely.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from verified_sources_spark.sizing import has_hot_key

DEFAULT_GAP_US = 1_800_000_000        # 30 min
DEFAULT_BUCKET_US = 86_400_000_000    # 1 day — must be >> gap


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap_us: int = DEFAULT_GAP_US,
    bucket_us: int = DEFAULT_BUCKET_US,
) -> DataFrame:
    """Gap sessionization with adaptive skew handling: bucketed when
    ``sizing.has_hot_key`` finds a user over ``sizing.HOT_MIN_ROWS`` AND
    ``sizing.HOT_SKEW_RATIO``× the mean — the measured condition under
    which the one-window cumsum grows a straggler — plain otherwise.  Both
    formulations are value-identical (asserted against each other and
    the DuckDB oracle)."""
    if has_hot_key(df, user_col):
        return sessionize_bucketed(
            df, user_col, ts_col, id_col, gap_us, bucket_us
        )
    return sessionize_plain(df, user_col, ts_col, id_col, gap_us)


def sessionize_plain(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap_us: int = DEFAULT_GAP_US,
) -> DataFrame:
    """One window per user: ``session_id`` = cumulative count of gap
    breaks.  Exact; serializes each user into one task."""
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w)
    return df.withColumn(
        "new_session", F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("new_session")


def sessionize_bucketed(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap_us: int = DEFAULT_GAP_US,
    bucket_us: int = DEFAULT_BUCKET_US,
) -> DataFrame:
    """Skew-proof sessionization, value-identical to
    :func:`sessionize_plain`.

    Pass 1 — per (user, bucket) window: local gap flags and a local
    session index (the bucket's first event opens local session 1).
    Pass 2 — per-user window over BUCKET SUMMARIES: a bucket whose
    first event is within ``gap_us`` of the previous existing bucket's
    last event MERGES its first local session into that session;
    ``base`` = cumulative sessions contributed by earlier buckets.
    Global id = base + local − (1 if merged else 0)."""
    if bucket_us <= gap_us:
        raise ValueError("bucket_us must exceed gap_us")
    us = F.unix_micros(F.col(ts_col))
    ev = df.withColumn("__us", us).withColumn(
        "__bkt", F.floor(F.col("__us") / F.lit(int(bucket_us)))
    )
    wb = Window.partitionBy(user_col, "__bkt").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    gap = F.col("__us") - F.lag("__us").over(wb)
    ev = ev.withColumn(
        "__new", F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    ).withColumn(
        "__local",
        F.sum("__new").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summ = ev.groupBy(user_col, "__bkt").agg(
        F.min("__us").alias("__first"),
        F.max("__us").alias("__last"),
        F.max("__local").alias("__n_local"),
    )
    ws = Window.partitionBy(user_col).orderBy("__bkt")
    summ = summ.withColumn(
        "__merged",
        F.when(
            (F.col("__first") - F.lag("__last").over(ws)) <= gap_us, 1
        ).otherwise(0),
    ).withColumn(
        "__base",
        F.coalesce(
            F.sum(F.col("__n_local") - F.col("__merged")).over(
                ws.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    out = ev.join(
        summ.select(user_col, "__bkt", "__merged", "__base"),
        [user_col, "__bkt"],
    ).withColumn(
        "session_id", F.col("__base") + F.col("__local") - F.col("__merged")
    )
    return out.drop("__us", "__bkt", "__new", "__local", "__merged", "__base")
