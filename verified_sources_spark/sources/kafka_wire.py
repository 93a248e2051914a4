"""Kafka binary-protocol consumer over a stdlib TCP socket.

Implements the documented wire protocol (kafka.apache.org/protocol):
size-framed requests with the v1 request header, ApiVersions,
Metadata v1, ListOffsets v1 and Fetch v4, plus a full RecordBatch v2
codec (zigzag varints, CRC32C over the batch tail) — the live broker
transport the reference obtains from confluent-kafka's librdkafka
consumer (reference: sources/kafka/helpers.py:240-262).  The bounded
consumption contract is the reference's (sources/kafka/__init__.py:
102-134): snapshot per-partition end offsets at run start, read exactly
``(committed, end]`` per partition, commit the new offsets only after
the batch lands — replayable, never lossy.

Scope: PLAINTEXT listener, non-transactional reads, uncompressed record
batches (attributes codec bits 0); SASL and compression codecs raise
with the unsupported code so the container boundary is explicit.  The
client is deliberately a thin per-broker socket — the cluster-scale
parallel unit is partitions, which Spark reads via one
``fetch_bounded`` feed per partition (or ``spark.readStream.format
("kafka")`` on a real deployment, streaming/bounded.py).
"""

from __future__ import annotations

import socket
import ssl
import struct
from dataclasses import dataclass
from typing import Iterable

from verified_sources_spark.llm.tfrecord import crc32c  # RecordBatch v2 checksum (RFC 3720 §B.4)

API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_SASL_HANDSHAKE = 17
API_VERSIONS = 18
API_SASL_AUTHENTICATE = 36

EARLIEST_TS = -2
LATEST_TS = -1


# ------------------------------------------------------------- varint codec
def encode_varint(value: int) -> bytes:
    """Zigzag varint (protobuf wire format, as used by record fields)."""
    zz = (value << 1) ^ (value >> 63) if value < 0 else value << 1
    out = bytearray()
    while True:
        b = zz & 0x7F
        zz >>= 7
        if zz:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    zz = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        zz |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (zz >> 1) ^ -(zz & 1), pos


# ------------------------------------------------------- record batch codec
@dataclass
class KafkaRecord:
    topic: str
    partition: int
    offset: int
    timestamp_ms: int
    key: bytes | None
    value: bytes | None
    headers: list[tuple[str, bytes | None]]


def encode_record_batch(
    base_offset: int,
    first_timestamp_ms: int,
    records: list[tuple[bytes | None, bytes | None, list[tuple[str, bytes | None]]]],
) -> bytes:
    """RecordBatch v2 bytes for ``records`` = [(key, value, headers)],
    one ms of timestamp delta per record.  Used by the fake broker in
    tests and by landing-zone producers that materialize batches."""

    def _bytes_field(v: bytes | None) -> bytes:
        if v is None:
            return encode_varint(-1)
        return encode_varint(len(v)) + v

    encoded = []
    for i, (key, value, headers) in enumerate(records):
        body = b"\x00"  # record attributes (unused)
        body += encode_varint(i)  # timestampDelta
        body += encode_varint(i)  # offsetDelta
        body += _bytes_field(key) + _bytes_field(value)
        body += encode_varint(len(headers))
        for hk, hv in headers:
            hk_b = hk.encode()
            body += encode_varint(len(hk_b)) + hk_b + _bytes_field(hv)
        encoded.append(encode_varint(len(body)) + body)
    n = len(records)
    tail = struct.pack(">hiqqqhii", 0, n - 1, first_timestamp_ms,
                       first_timestamp_ms + n - 1, -1, -1, -1, n)
    tail += b"".join(encoded)
    head = struct.pack(">qi", base_offset, 4 + 1 + 4 + len(tail))  # batchLength
    head += struct.pack(">ib", 0, 2)  # partitionLeaderEpoch, magic
    return head + struct.pack(">I", crc32c(tail)) + tail


def decode_record_batches(
    buf: bytes, topic: str, partition: int, verify_crc: bool = True
) -> list[KafkaRecord]:
    """Decode a Fetch record_set: zero or more RecordBatch v2 back to
    back (the final batch may be truncated by the broker's byte limit —
    truncated tails are dropped, matching consumer behavior)."""
    out: list[KafkaRecord] = []
    pos = 0
    while pos + 12 <= len(buf):
        base_offset, batch_len = struct.unpack_from(">qi", buf, pos)
        end = pos + 12 + batch_len
        if end > len(buf):
            break  # truncated trailing batch
        _, magic = struct.unpack_from(">ib", buf, pos + 12)
        if magic != 2:
            raise NotImplementedError(f"record batch magic {magic} (v2 only)")
        (crc,) = struct.unpack_from(">I", buf, pos + 17)
        tail = buf[pos + 21 : end]
        if verify_crc and crc32c(tail) != crc:
            raise ValueError(f"record batch CRC mismatch at offset {base_offset}")
        attributes, _last_delta, first_ts = struct.unpack_from(">hiq", tail, 0)
        if attributes & 0x07:
            raise NotImplementedError(
                f"compression codec {attributes & 0x07} not supported"
            )
        (count,) = struct.unpack_from(">i", tail, 36)
        rpos = 40
        for _ in range(count):
            rlen, rpos = decode_varint(tail, rpos)
            rend = rpos + rlen
            rpos += 1  # record attributes
            ts_delta, rpos = decode_varint(tail, rpos)
            off_delta, rpos = decode_varint(tail, rpos)
            klen, rpos = decode_varint(tail, rpos)
            key = None if klen < 0 else tail[rpos : rpos + max(klen, 0)]
            rpos += max(klen, 0)
            vlen, rpos = decode_varint(tail, rpos)
            value = None if vlen < 0 else tail[rpos : rpos + max(vlen, 0)]
            rpos += max(vlen, 0)
            hcount, rpos = decode_varint(tail, rpos)
            headers: list[tuple[str, bytes | None]] = []
            for _ in range(hcount):
                hklen, rpos = decode_varint(tail, rpos)
                hkey = tail[rpos : rpos + hklen].decode()
                rpos += hklen
                hvlen, rpos = decode_varint(tail, rpos)
                hval = None if hvlen < 0 else tail[rpos : rpos + max(hvlen, 0)]
                rpos += max(hvlen, 0)
                headers.append((hkey, hval))
            rpos = rend
            out.append(
                KafkaRecord(
                    topic, partition, base_offset + off_delta,
                    first_ts + ts_delta, key, value, headers,
                )
            )
        pos = end
    return out


# --------------------------------------------------------- primitive codec
def _str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode()
    return struct.pack(">h", len(b)) + b


class _Reader:
    def __init__(self, buf: bytes):
        self.buf, self.pos = buf, 0

    def take(self, fmt: str):
        vals = struct.unpack_from(fmt, self.buf, self.pos)
        self.pos += struct.calcsize(fmt)
        return vals if len(vals) > 1 else vals[0]

    def string(self) -> str | None:
        n = self.take(">h")
        if n < 0:
            return None
        s = self.buf[self.pos : self.pos + n].decode()
        self.pos += n
        return s

    def raw(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


class KafkaWireClient:
    """One broker connection speaking the size-framed request/response
    protocol with the v1 request header (api_key, api_version,
    correlation_id, client_id)."""

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str = "verified_sources_spark",
        connect_timeout: float = 10.0,
        tls: bool | ssl.SSLContext = False,
        server_hostname: str | None = None,
    ):
        """``tls=True`` wraps the broker socket in the default TLS context
        (certificate + hostname verification); pass an ``ssl.SSLContext``
        for mTLS / custom CAs.  SASL (``sasl_authenticate``) runs inside
        the TLS channel, matching broker listener stacks like
        SASL_SSL://."""
        self.client_id = client_id
        sock = socket.create_connection((host, port), timeout=connect_timeout)
        if tls:
            ctx = tls if isinstance(tls, ssl.SSLContext) else ssl.create_default_context()
            sock = ctx.wrap_socket(sock, server_hostname=server_hostname or host)
        self._sock = sock
        self._buf = b""
        self._corr = 0

    # --- framing ---------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("broker closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _call(self, api_key: int, api_version: int, body: bytes) -> _Reader:
        self._corr += 1
        header = struct.pack(">hhi", api_key, api_version, self._corr)
        header += _str(self.client_id)
        frame = header + body
        self._sock.sendall(struct.pack(">i", len(frame)) + frame)
        (size,) = struct.unpack(">i", self._recv_exact(4))
        resp = _Reader(self._recv_exact(size))
        corr = resp.take(">i")
        if corr != self._corr:
            raise ValueError(f"correlation id mismatch: sent {self._corr}, got {corr}")
        return resp

    # --- api calls -------------------------------------------------------
    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._call(API_VERSIONS, 0, b"")
        error = r.take(">h")
        if error:
            raise ValueError(f"ApiVersions error {error}")
        out = {}
        for _ in range(r.take(">i")):
            key, lo, hi = r.take(">hhh")
            out[key] = (lo, hi)
        return out

    # --- SASL ------------------------------------------------------------
    def _sasl_round(self, payload: bytes) -> bytes:
        """One SaslAuthenticate v0 round: bytes in, server bytes out."""
        body = struct.pack(">i", len(payload)) + payload
        r = self._call(API_SASL_AUTHENTICATE, 0, body)
        error = r.take(">h")
        message = r.string()
        if error:
            raise ValueError(f"SaslAuthenticate error {error}: {message}")
        n = r.take(">i")
        return r.raw(n) if n >= 0 else b""

    def sasl_authenticate(
        self, username: str, password: str, mechanism: str = "SCRAM-SHA-256"
    ) -> None:
        """SaslHandshake v1 + SaslAuthenticate flow (KIP-152 framing —
        auth bytes ride inside normal Kafka requests, never raw on the
        socket).  Mechanisms: SCRAM-SHA-256 / SCRAM-SHA-512 (RFC 5802
        exchange via ``sources.scram``) and PLAIN (RFC 4616; only
        acceptable inside TLS).  Run immediately after connect, before
        any metadata/fetch call — brokers require it on SASL listeners.
        Matches the reference's credential flow
        (sources/kafka/helpers.py:240-262) without the client library.
        """
        r = self._call(API_SASL_HANDSHAKE, 1, _str(mechanism))
        error = r.take(">h")
        offered = [r.string() for _ in range(r.take(">i"))]
        if error:
            raise ValueError(
                f"SaslHandshake error {error}: mechanism {mechanism!r} "
                f"not enabled (broker offers {offered})"
            )
        if mechanism == "PLAIN":
            first = b"\x00" + username.encode() + b"\x00" + password.encode()
            self._sasl_round(first)
            return
        from verified_sources_spark.sources.scram import ScramClient

        scram = ScramClient(mechanism, username, password)
        server_first = self._sasl_round(scram.client_first())
        server_final = self._sasl_round(scram.client_final(server_first))
        scram.verify_server_final(server_final)

    def metadata(self, topics: list[str] | None = None) -> dict:
        """Metadata v1: brokers + topic → sorted partition ids.  ``None``
        asks for all topics (null array)."""
        if topics is None:
            body = struct.pack(">i", -1)
        else:
            body = struct.pack(">i", len(topics)) + b"".join(_str(t) for t in topics)
        r = self._call(API_METADATA, 1, body)
        brokers = []
        for _ in range(r.take(">i")):
            node = r.take(">i")
            host = r.string()
            port = r.take(">i")
            r.string()  # rack
            brokers.append({"node_id": node, "host": host, "port": port})
        controller = r.take(">i")
        topic_parts: dict[str, list[int]] = {}
        for _ in range(r.take(">i")):
            terr = r.take(">h")
            name = r.string()
            r.take(">b")  # is_internal
            parts = []
            for _ in range(r.take(">i")):
                perr, pid, _leader = r.take(">hii")
                for _ in range(r.take(">i")):
                    r.take(">i")  # replicas
                for _ in range(r.take(">i")):
                    r.take(">i")  # isr
                if not perr:
                    parts.append(pid)
            if terr:
                raise ValueError(f"topic {name}: metadata error {terr}")
            topic_parts[name] = sorted(parts)
        return {"brokers": brokers, "controller": controller, "topics": topic_parts}

    def list_offsets(
        self, topic: str, partitions: list[int], timestamp: int = LATEST_TS
    ) -> dict[int, int]:
        """ListOffsets v1: partition → offset for ``timestamp`` (-1
        latest/log-end, -2 earliest)."""
        body = struct.pack(">i", -1)  # replica_id
        body += struct.pack(">i", 1) + _str(topic)
        body += struct.pack(">i", len(partitions))
        for p in partitions:
            body += struct.pack(">iq", p, timestamp)
        r = self._call(API_LIST_OFFSETS, 1, body)
        out: dict[int, int] = {}
        for _ in range(r.take(">i")):
            r.string()
            for _ in range(r.take(">i")):
                pid, err, _ts, offset = r.take(">ihqq")
                if err:
                    raise ValueError(f"ListOffsets error {err} on partition {pid}")
                out[pid] = offset
        return out

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_bytes: int = 1 << 20,
        max_wait_ms: int = 100,
    ) -> tuple[list[KafkaRecord], int]:
        """Fetch v4 from one partition: records from ``offset`` (the
        broker may return less than requested) + the high watermark."""
        body = struct.pack(">iiiib", -1, max_wait_ms, 1, max_bytes, 0)
        body += struct.pack(">i", 1) + _str(topic)
        body += struct.pack(">i", 1) + struct.pack(">iqi", partition, offset, max_bytes)
        r = self._call(API_FETCH, 4, body)
        r.take(">i")  # throttle_time_ms
        records: list[KafkaRecord] = []
        high_watermark = -1
        for _ in range(r.take(">i")):
            tname = r.string()
            for _ in range(r.take(">i")):
                pid, err, hw, _lso = r.take(">ihqq")
                for _ in range(r.take(">i")):
                    r.take(">qq")  # aborted transactions
                set_len = r.take(">i")
                record_set = r.raw(max(set_len, 0))
                if err:
                    raise ValueError(f"Fetch error {err} on partition {pid}")
                high_watermark = hw
                batch = decode_record_batches(record_set, tname, pid)
                # the broker returns whole batches: drop records below
                # the requested offset (batch may start earlier)
                records.extend(rec for rec in batch if rec.offset >= offset)
        return records, high_watermark

    def close(self) -> None:
        self._sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# ------------------------------------------------------------- bounded read
def fetch_bounded(
    host: str,
    port: int,
    topic: str,
    committed: dict[int, int] | None = None,
) -> tuple[list[KafkaRecord], dict[int, int]]:
    """The reference's bounded run (sources/kafka/__init__.py:102-134):
    discover partitions, snapshot end offsets ONCE at start, then read
    exactly ``(committed, end]`` per partition — messages produced after
    the snapshot belong to the next run.  Returns (records, new committed
    offsets to persist AFTER the batch lands in the sink)."""
    committed = dict(committed or {})
    with KafkaWireClient(host, port) as client:
        partitions = client.metadata([topic])["topics"].get(topic, [])
        ends = client.list_offsets(topic, partitions, LATEST_TS)
        starts = client.list_offsets(topic, partitions, EARLIEST_TS)
        records: list[KafkaRecord] = []
        new_state = dict(committed)
        for pid in partitions:
            end = ends[pid]  # log-end offset: one past the last record
            pos = max(committed.get(pid, -1) + 1, starts[pid])
            while pos < end:
                batch, _hw = client.fetch(topic, pid, pos)
                batch = [rec for rec in batch if rec.offset < end]
                if not batch:
                    break  # nothing below the snapshot — next run's data
                records.extend(batch)
                pos = max(rec.offset for rec in batch) + 1
            if pos - 1 > new_state.get(pid, -1):
                new_state[pid] = pos - 1
    return records, new_state


def records_to_rows(records: Iterable[KafkaRecord]) -> list[dict]:
    """Rows in the message-envelope input shape of ``streams.
    with_envelope`` / ``bounded_read`` (topic, partition, offset, ts,
    key, value) — ready for ``spark.createDataFrame``."""
    return [
        {
            "topic": r.topic,
            "partition": r.partition,
            "offset": r.offset,
            "ts": r.timestamp_ms,
            "key": r.key.decode() if r.key is not None else None,
            "value": r.value,
            "headers": {k: v for k, v in r.headers},
        }
        for r in records
    ]
