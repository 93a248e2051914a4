"""Kinesis Data Streams client over the documented JSON API.

The service protocol is plain HTTPS + JSON-1.1 (AWS API reference:
``X-Amz-Target: Kinesis_20131202.<Op>`` POSTs) — ListShards,
GetShardIterator, GetRecords — which the reference reaches through
boto3 (reference: sources/kinesis/helpers.py:46-80,
sources/kinesis/__init__.py:59-130).  Here the protocol is spoken
directly over stdlib ``urllib`` so the live transport has no SDK
dependency; shard-iterator resolution (resume / reshard-child /
AT_TIMESTAMP) is the already-tested ``streams.resolve_shard_iterators``.

Auth boundary: requests are sent unsigned by default (works against
local emulators); pass ``sign=`` a callable mutating (headers, body)
to add SigV4 for the real service — the signing dependency stays
outside, keeping the container boundary explicit.

Scale shape: the parallel unit is shards.  ``fetch_stream`` drains each
shard until it is caught up (``MillisBehindLatest == 0``) — the
reference's bounded run — and per-shard feeds can be dispatched to
executors exactly like ``rest.fetch_distributed`` dispatches endpoints
(one ``map_rows`` row per shard); the per-shard sequence state is
metadata-sized.
"""

from __future__ import annotations

import base64
import json
import time
import urllib.error
import urllib.request
from typing import Callable

from verified_sources_spark.sources.streams import resolve_shard_iterators

_TARGET_PREFIX = "Kinesis_20131202."
RETRYABLE = ("ProvisionedThroughputExceededException", "LimitExceededException")


class KinesisError(RuntimeError):
    def __init__(self, error_type: str, message: str):
        self.error_type = error_type
        super().__init__(f"{error_type}: {message}")


class KinesisClient:
    """JSON-1.1 API client: one ``_call`` per operation, bounded
    exponential backoff on the documented throttling errors."""

    def __init__(
        self,
        endpoint_url: str,
        sign: Callable[[dict, bytes], None] | None = None,
        timeout: float = 30.0,
        max_retries: int = 4,
        backoff_s: float = 0.05,
    ):
        self.endpoint_url = endpoint_url.rstrip("/")
        self.sign = sign
        self.timeout = timeout
        self.max_retries = max_retries
        self.backoff_s = backoff_s

    def _call(self, op: str, payload: dict) -> dict:
        body = json.dumps(payload).encode()
        headers = {
            "Content-Type": "application/x-amz-json-1.1",
            "X-Amz-Target": _TARGET_PREFIX + op,
        }
        if self.sign is not None:
            self.sign(headers, body)
        delay = self.backoff_s
        for attempt in range(self.max_retries + 1):
            req = urllib.request.Request(
                self.endpoint_url + "/", data=body, headers=headers, method="POST"
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return json.loads(resp.read() or b"{}")
            except urllib.error.HTTPError as e:
                err = json.loads(e.read() or b"{}")
                etype = (err.get("__type") or "").split("#")[-1]
                if etype in RETRYABLE and attempt < self.max_retries:
                    time.sleep(delay)
                    delay *= 2
                    continue
                raise KinesisError(etype or str(e.code), err.get("message", "")) from e

    def list_shards(self, stream: str) -> list[dict]:
        """All shards incl. closed parents, in the ``shards`` input shape
        of ``resolve_shard_iterators`` (ListShards paginates on
        NextToken)."""
        shards: list[dict] = []
        payload: dict = {"StreamName": stream}
        while True:
            out = self._call("ListShards", payload)
            shards.extend(out.get("Shards", []))
            token = out.get("NextToken")
            if not token:
                break
            payload = {"NextToken": token}
        return [
            {"shard_id": s["ShardId"], "parent_shard_id": s.get("ParentShardId")}
            for s in shards
        ]

    def get_shard_iterator(self, stream: str, shard_id: str, params: dict) -> str:
        payload = {"StreamName": stream, "ShardId": shard_id, **params}
        return self._call("GetShardIterator", payload)["ShardIterator"]

    def get_records(self, iterator: str, limit: int = 1000) -> dict:
        return self._call("GetRecords", {"ShardIterator": iterator, "Limit": limit})


def fetch_stream(
    endpoint_url: str,
    stream: str,
    sequence_state: dict[str, str] | None = None,
    initial_at_timestamp: float | None = None,
    limit_per_call: int = 1000,
    sign: Callable[[dict, bytes], None] | None = None,
    max_records_per_shard: int | None = None,
) -> tuple[list[dict], dict[str, str]]:
    """The reference's bounded run (sources/kinesis/__init__.py:59-130):
    resolve one iterator per shard from stored sequences (resume past
    the last committed sequence; reshard children start at TRIM_HORIZON
    so the handoff loses nothing), then drain each shard until caught up
    (``MillisBehindLatest == 0``) or the shard is closed
    (``NextShardIterator`` null).  Returns (record rows, new per-shard
    sequence state to persist AFTER the batch lands).

    ``max_records_per_shard`` bounds the drain: at most that many
    records are consumed per shard per call, and the returned state
    points at the last record actually consumed, so the next call
    resumes exactly there.  This is what keeps the stream reader's
    driver-side tip probe (and hence each micro-batch) bounded on a
    high-volume stream — the caller pays O(cap) per batch, never
    O(backlog)."""
    client = KinesisClient(endpoint_url, sign=sign)
    shards = client.list_shards(stream)
    iters = resolve_shard_iterators(shards, sequence_state, initial_at_timestamp)
    rows: list[dict] = []
    new_state = dict(sequence_state or {})
    for sh in shards:
        sid = sh["shard_id"]
        iterator = client.get_shard_iterator(stream, sid, iters[sid])
        taken = 0
        while iterator:
            limit = limit_per_call
            if max_records_per_shard is not None:
                limit = min(limit, max_records_per_shard - taken)
                if limit <= 0:
                    break  # cap reached — resume here next call
            out = client.get_records(iterator, limit=limit)
            recs = out.get("Records", [])
            for rec in recs:
                rows.append(
                    {
                        "shard_id": sid,
                        "sequence_number": rec["SequenceNumber"],
                        "partition_key": rec.get("PartitionKey"),
                        "data": base64.b64decode(rec["Data"]),
                        "arrival_ts": rec.get("ApproximateArrivalTimestamp"),
                    }
                )
                new_state[sid] = rec["SequenceNumber"]
            taken += len(recs)
            iterator = out.get("NextShardIterator")
            if out.get("MillisBehindLatest", 0) == 0:
                break  # caught up — later arrivals belong to the next run
    return rows, new_state
