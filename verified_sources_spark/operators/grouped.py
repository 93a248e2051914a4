"""Grouped pandas operators — the engine's UDAF/UDTF surface
(SURVEY.md §2.12).

When a per-group computation genuinely can't be expressed with built-in
aggregates/windows (iterative algorithms, model scoring, complex
state machines), ``applyInPandas`` is the Arrow-batched escape hatch:
one shuffle on the group key, then vectorized pandas per group.

Provided here:
- ``session_stats_pandas``: reference implementation of a custom stateful
  per-user pass (session statistics with gap logic) used by tests to
  cross-check the pure-SQL sessionize operator — demonstrating that the
  pandas path and the window path agree.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def session_stats_pandas(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user session count + longest session length via a pandas pass
    (the imperative formulation of the sessionize window operator)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        us = pdf["ts"].astype("int64") // 1000 if pdf["ts"].dtype.kind == "M" else pdf["ts"]
        # ts arrives as datetime64[ns]; integer division → microseconds
        deltas = us.diff()
        new_session = (deltas.isna()) | (deltas > gap_us)
        session_ids = new_session.cumsum()
        sizes = session_ids.value_counts()
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_sessions": [int(session_ids.max())],
                "max_session_events": [int(sizes.max())],
            }
        )

    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandas(per_user, "user_id long, n_sessions long, max_session_events long")
    )
