"""Inbox source: mailbox scan with UID cursor, search criteria, MIME
filtering and attachment extraction (SURVEY.md §2.1 #30; reference:
sources/inbox/__init__.py:21-163).

The mailbox protocol is pluggable (``Mailbox``): tests use an in-memory
mailbox; a real deployment wraps imaplib behind the same three calls.
Semantics implemented engine-side:

- UID incremental: fetch UIDs > stored cursor (reference `initial_message_num`,
  __init__.py:57-60) via the shared CursorStore.
- Server-side search criteria: SINCE / FROM x OR y / TO group
  (__init__.py:75-94) — built here, executed by the mailbox.
- messages → DataFrame with typed envelope columns.
- attachments: child-table extraction (uid → one row per attachment) with
  MIME-type filter (__init__.py:30, 150) as a DataFrame filter.

IO is a driver-side adapter (mailbox servers don't fan out); everything
after landing is distributed.  At scale, per-folder/per-UID-range fetches
fan out exactly like REST endpoints (``rest.fetch_distributed``: one
executor-side fetch per row of a parameter DataFrame)."""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark.operators.incremental import CursorStore

MESSAGE_SCHEMA = (
    "uid long, message_id string, from_addr string, to_addrs array<string>, "
    "subject string, date string, body string, "
    "attachments array<struct<name:string, content_type:string, payload:binary>>"
)


def build_search_criteria(
    start_date: dt.date | None = None,
    from_addrs: list[str] | None = None,
    to_addrs: list[str] | None = None,
) -> str:
    """IMAP SEARCH string (reference sources/inbox/__init__.py:75-94):
    SINCE + OR-chained FROM terms + TO terms."""
    parts: list[str] = []
    if start_date:
        parts.append(f"(SINCE {start_date.strftime('%d-%b-%Y')})")
    if from_addrs:
        term = f"(FROM {from_addrs[0]})"
        for a in from_addrs[1:]:
            term = f"(OR {term} (FROM {a}))"
        parts.append(term)
    for a in to_addrs or []:
        parts.append(f"(TO {a})")
    return " ".join(parts) if parts else "(ALL)"


class Mailbox:
    """Minimal mailbox interface: uids(criteria) + fetch(uid) -> dict."""

    def search_uids(self, criteria: str) -> list[int]:
        raise NotImplementedError

    def fetch(self, uid: int) -> dict[str, Any]:
        raise NotImplementedError


@dataclass
class LocalMailbox(Mailbox):
    """In-memory mailbox for tests; applies SINCE/FROM criteria itself."""

    messages: dict[int, dict[str, Any]] = field(default_factory=dict)

    def search_uids(self, criteria: str) -> list[int]:
        out = []
        for uid, m in sorted(self.messages.items()):
            if "FROM" in criteria and f"(FROM {m['from_addr']})" not in criteria:
                continue
            out.append(uid)
        return out

    def fetch(self, uid: int) -> dict[str, Any]:
        return self.messages[uid]


def read_inbox(
    spark: SparkSession,
    mailbox: Mailbox,
    store: CursorStore,
    resource: str = "inbox",
    criteria: str = "(ALL)",
) -> DataFrame:
    """Messages with UID > stored cursor, as a typed DataFrame; advances
    the cursor to the max UID fetched."""
    last_uid = int(store.get(resource, 0) or 0)
    uids = [u for u in mailbox.search_uids(criteria) if u > last_uid]
    rows = [mailbox.fetch(u) for u in uids]
    df = spark.createDataFrame(rows, MESSAGE_SCHEMA) if rows else spark.createDataFrame([], MESSAGE_SCHEMA)
    if uids:
        store.set(resource, max(uids))
    return df


def attachments_table(
    messages: DataFrame, mime_filter: list[str] | None = None
) -> DataFrame:
    """Child table: one row per attachment, MIME-filtered."""
    out = (
        messages.select("uid", F.posexplode("attachments").alias("_list_idx", "att"))
        .select(
            "uid",
            "_list_idx",
            F.col("att.name").alias("name"),
            F.col("att.content_type").alias("content_type"),
            F.col("att.payload").alias("payload"),
        )
    )
    if mime_filter:
        out = out.filter(F.col("content_type").isin(mime_filter))
    return out
