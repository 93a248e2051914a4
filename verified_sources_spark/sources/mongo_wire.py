"""MongoDB wire-protocol client: OP_MSG over a real socket.

The engine's pymongo analogue, the way sources/pg_wire.py is its libpq:
``hello``, SCRAM-SHA-256 auth (``saslStart``/``saslContinue`` reusing
sources/scram.py), ``find``/``getMore`` cursors with filter/projection/
sort/skip/limit, and ``count``.  Everything speaks the public protocol
(OP_MSG opcode 2013, section kind 0) with the pure-stdlib BSON codec in
sources/bson_codec.py.

Spark loaders mirror the reference's collection loaders
(/root/reference/sources/mongodb/helpers.py:159-209 sequential,
:216-268 parallel, :468-549 loader choice + chunked batches):

- ``load_collection`` — sequential: one cursor drained in
  ``chunk_size`` batches on the driver (the reference's
  ``CollectionLoader.load_documents`` islice loop), coerced through
  sources/bson_coerce.py, one DataFrame out.
- ``load_collection_parallel`` — the ``parallel=True`` shape: a driver
  ``count`` plans (skip, limit) batches, then executor tasks drain them
  in a ``boundary.map_rows`` stage, each batch through its own wire
  client (``CollectionLoaderParallel._create_batches`` + ``_run_batch``,
  helpers.py:216-268) — the scan scales with executors, and the skip/
  limit caveat is the same one the reference carries (batches are only
  consistent when the collection is quiescent or sorted by a unique
  key).

Incremental cursors compose upstream of this module exactly like the
reference: the window filter document from operators/incremental.py
merges into ``filter`` (conflicts with user filters are rejected by
operators/predicates.py, the analogue of helpers.py:628-647).
"""

from __future__ import annotations

import socket
import struct
from collections.abc import Iterator, Sequence

import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from verified_sources_spark import sizing
from verified_sources_spark.boundary import map_rows
from verified_sources_spark.sources.bson_codec import (
    Int64,
    decode_document,
    encode_document,
)
from verified_sources_spark.sources.scram import ScramClient

_OP_MSG = 2013


class MongoError(RuntimeError):
    def __init__(self, doc: dict):
        self.doc = doc
        super().__init__(
            f"mongo command failed: {doc.get('errmsg') or doc.get('codeName') or doc}"
        )


class MongoWireClient:
    """One connection.  ``command`` is the primitive; ``find`` layers
    the cursor protocol (firstBatch → getMore loop) on top."""

    def __init__(
        self,
        host: str,
        port: int,
        database: str,
        username: str | None = None,
        password: str | None = None,
        auth_db: str = "admin",
        timeout: float = 30.0,
    ):
        self.database = database
        self._rid = 0
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self.hello = self.command({"hello": 1}, db="admin")
        if username is not None:
            self._authenticate(username, password or "", auth_db)

    # ------------------------------------------------------------ framing

    def _recv_exact(self, n: int) -> bytes:
        chunks = []
        while n:
            b = self._sock.recv(n)
            if not b:
                raise ConnectionError("server closed the connection")
            chunks.append(b)
            n -= len(b)
        return b"".join(chunks)

    def command(self, doc: dict, db: str | None = None) -> dict:
        """Run one command document; raises :class:`MongoError` unless
        the reply has ``ok: 1``."""
        body = encode_document({**doc, "$db": db or self.database})
        self._rid += 1
        payload = struct.pack("<I", 0) + b"\x00" + body  # flagBits, kind 0
        header = struct.pack(
            "<iiii", 16 + len(payload), self._rid, 0, _OP_MSG
        )
        self._sock.sendall(header + payload)

        length, _rid, _to, opcode = struct.unpack("<iiii", self._recv_exact(16))
        frame = self._recv_exact(length - 16)
        if opcode != _OP_MSG:
            raise MongoError({"errmsg": f"unexpected opcode {opcode}"})
        # flagBits(4) + one kind-0 section; kind-1 sections are a client-
        # side write optimization servers don't send on replies
        if frame[4] != 0:
            raise MongoError({"errmsg": f"unexpected section kind {frame[4]}"})
        reply = decode_document(frame[5:])
        if reply.get("ok") != 1 and reply.get("ok") != 1.0:
            raise MongoError(reply)
        return reply

    # --------------------------------------------------------------- auth

    def _authenticate(self, username: str, password: str, auth_db: str) -> None:
        scram = ScramClient("SCRAM-SHA-256", username, password)
        first = self.command(
            {
                "saslStart": 1,
                "mechanism": "SCRAM-SHA-256",
                "payload": scram.client_first(),
                "options": {"skipEmptyExchange": True},
            },
            db=auth_db,
        )
        final = self.command(
            {
                "saslContinue": 1,
                "conversationId": first["conversationId"],
                "payload": scram.client_final(bytes(first["payload"])),
            },
            db=auth_db,
        )
        scram.verify_server_final(bytes(final["payload"]))
        if not final.get("done"):
            done = self.command(
                {
                    "saslContinue": 1,
                    "conversationId": first["conversationId"],
                    "payload": b"",
                },
                db=auth_db,
            )
            if not done.get("done"):
                raise MongoError({"errmsg": "SASL conversation did not finish"})

    # ------------------------------------------------------------- cursor

    def find(
        self,
        collection: str,
        filter: dict | None = None,
        projection: dict | None = None,
        sort: dict | None = None,
        skip: int = 0,
        limit: int = 0,
        batch_size: int = 1000,
    ) -> Iterator[dict]:
        """Streaming cursor: ``find`` then ``getMore`` until the server
        reports cursor id 0 (reference cursor drain, helpers.py:195-209)."""
        cmd: dict = {"find": collection, "filter": filter or {}}
        if projection:
            cmd["projection"] = projection
        if sort:
            cmd["sort"] = sort
        if skip:
            cmd["skip"] = int(skip)
        if limit:
            cmd["limit"] = int(abs(limit))
        cmd["batchSize"] = int(batch_size)
        r = self.command(cmd)
        cur = r["cursor"]
        yield from cur["firstBatch"]
        while cur["id"]:
            r = self.command(
                {
                    "getMore": Int64(cur["id"]),
                    "collection": collection,
                    "batchSize": int(batch_size),
                }
            )
            cur = r["cursor"]
            yield from cur["nextBatch"]

    def count_documents(self, collection: str, filter: dict | None = None) -> int:
        return int(
            self.command({"count": collection, "query": filter or {}})["n"]
        )

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# ------------------------------------------------------------ Spark side


def _rows(docs, fields: Sequence[str]) -> Iterator[tuple]:
    from verified_sources_spark.sources.bson_coerce import convert_bson_value

    for d in docs:
        c = convert_bson_value(d)
        yield tuple(c.get(f) for f in fields)


def load_collection(
    spark: SparkSession,
    conn: dict,
    collection: str,
    schema: T.StructType | str,
    filter_doc: dict | None = None,
    projection: dict | None = None,
    sort: dict | None = None,
    limit: int | None = None,
    chunk_size: int = 10_000,
) -> DataFrame:
    """Sequential loader (reference ``CollectionLoader``): one cursor,
    driver-drained in ``chunk_size`` server batches, BSON-coerced rows,
    one DataFrame."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    fields = [f.name for f in schema.fields]
    with MongoWireClient(**conn) as c:
        rows = list(
            _rows(
                c.find(
                    collection,
                    filter=filter_doc,
                    projection=projection,
                    sort=sort,
                    limit=limit or 0,
                    batch_size=chunk_size,
                ),
                fields,
            )
        )
    return spark.createDataFrame(rows, schema)


def load_collection_parallel(
    spark: SparkSession,
    conn: dict,
    collection: str,
    schema: T.StructType | str,
    filter_doc: dict | None = None,
    projection: dict | None = None,
    sort: dict | None = None,
    limit: int | None = None,
    chunk_size: int = 10_000,
) -> DataFrame:
    """Parallel loader (reference ``CollectionLoaderParallel``,
    helpers.py:216-268): a driver ``count`` plans (skip, limit) windows,
    and a ``map_rows`` stage over ``sizing.spread`` of the window frame
    drains each one on an executor through a client that opens and
    closes with its window — IO scales with executors, rows never
    funnel through the driver, and no client outlives its window.  Same
    consistency caveat as the reference: skip/limit batches are stable
    only on a quiescent collection or under a unique-key sort."""
    from verified_sources_spark.sources.bson_coerce import convert_bson_value

    with MongoWireClient(**conn) as c:
        total = c.count_documents(collection, filter_doc)
    if limit:
        total = min(total, abs(limit))
    if total == 0:
        return spark.createDataFrame([], schema)
    windows = spark.createDataFrame(
        [(sk, min(chunk_size, total - sk)) for sk in range(0, total, chunk_size)],
        "skip long, n long",
    )

    def drain(skip, n):
        with MongoWireClient(**conn) as client:
            for d in client.find(
                collection,
                filter=filter_doc,
                projection=projection,
                sort=sort,
                skip=skip,
                limit=n,
                batch_size=chunk_size,
            ):
                yield convert_bson_value(d)

    return map_rows(sizing.spread(windows), drain, schema)
