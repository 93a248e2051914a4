"""Email-corpus ingestion: RFC 5322 / MIME (EML) and mbox mailboxes,
pure stdlib (``email`` parser + ``quopri``/``base64`` transfer
decodes).

Why this exists: mail archives (Enron-style dumps, mailing-list
mboxes, support-desk exports) are a standing text-corpus source, and
the reference already ingests live mailboxes through its inbox/IMAP
source (``/root/reference/sources/inbox`` — UID ranges, filters, body
+ attachment extraction).  This module is the at-rest half of the same
surface: bytes → per-message text rows, Spark-first (one
``boundary.map_rows`` stage; payloads never shuffle; corrupt messages isolate as
``decoded_ok=false`` rows, never task failures).

Decode posture mirrors the WARC front door: honor the declared
charset per MIME part (with a safe fallback), record what was used,
prefer ``text/plain`` and fall back to ``text/html`` through the same
``extract_text`` the WARC path uses — so email-borne HTML and
crawl-borne HTML land in ONE canonical text shape for dedup and
quality scoring downstream.

mbox specifics (public format, qmail/Thunderbird ``mboxrd`` flavor):
messages are separated by ``From `` lines; body lines that would
collide are ``>``-stuffed by writers, so the reader unstuffs exactly
one ``>`` from ``^>+From `` lines.
"""

from __future__ import annotations

import email
import email.headerregistry
import email.message
import email.policy
import re

from verified_sources_spark.boundary import map_rows

__all__ = [
    "EmailError",
    "encode_eml", "encode_mbox", "iter_mbox",
    "parse_eml", "email_extract",
    "EMAIL_EXTRACT_SCHEMA",
]


class EmailError(ValueError):
    """Named refusal: not an email payload we can decode honestly."""


# ---------------------------------------------------------------------------
# encoders (independent writers: literal byte templates, not email.generator)

def _qp(text: str, charset: str = "utf-8") -> bytes:
    import quopri
    return quopri.encodestring(text.encode(charset))


def encode_eml(
    subject: str,
    body_text: str,
    from_addr: str = "sender@example.com",
    to_addr: str = "rcpt@example.com",
    html_body: str | None = None,
    date: str = "Mon, 01 Jan 2024 00:00:00 +0000",
    boundary: str = "b0UNDary42",
    charset: str = "utf-8",
    base64_body: bool = False,
    attachments: list[tuple[str, str, bytes]] | None = None,
) -> bytes:
    """Hand-rolled RFC 5322 + MIME writer (deliberately NOT
    email.generator, so reader and writer share no code): single-part
    quoted-printable by default, multipart/alternative when an HTML
    body is given, base64 transfer encoding on request.
    ``attachments`` — (filename, content_type, payload) triples —
    wrap everything in multipart/mixed with base64 attachment parts
    and Content-Disposition, the layout every mail client writes."""
    import base64

    head = [
        f"From: {from_addr}",
        f"To: {to_addr}",
        f"Subject: {subject}",
        f"Date: {date}",
        "MIME-Version: 1.0",
    ]
    if attachments:
        ob = boundary + "mix"
        head.append(
            f'Content-Type: multipart/mixed; boundary="{ob}"')
        inner = encode_eml(
            subject, body_text, from_addr=from_addr, to_addr=to_addr,
            html_body=html_body, date=date, boundary=boundary,
            charset=charset, base64_body=base64_body)
        # the inner writer's top-level part: strip the RFC 5322
        # headers, keep its Content-Type/CTE block + body
        ihead, _, ibody = inner.partition(b"\r\n\r\n")
        ct_lines = [ln for ln in ihead.split(b"\r\n")
                    if ln.lower().startswith((b"content-type",
                                              b"content-transfer"))]
        out = [("\r\n".join(head) + "\r\n\r\n").encode(),
               f"--{ob}\r\n".encode(),
               b"\r\n".join(ct_lines) + b"\r\n\r\n", ibody]
        if not ibody.endswith(b"\r\n"):
            out.append(b"\r\n")
        for fn, ctype, payload in attachments:
            out.append(
                (f"--{ob}\r\n"
                 f'Content-Type: {ctype}; name="{fn}"\r\n'
                 "Content-Transfer-Encoding: base64\r\n"
                 "Content-Disposition: attachment; "
                 f'filename="{fn}"\r\n\r\n').encode())
            out.append(base64.encodebytes(payload))
            out.append(b"\r\n")
        out.append(f"--{ob}--\r\n".encode())
        return b"".join(out)
    if html_body is None:
        if base64_body:
            head.append(f'Content-Type: text/plain; charset="{charset}"')
            head.append("Content-Transfer-Encoding: base64")
            payload = base64.encodebytes(body_text.encode(charset))
        else:
            head.append(f'Content-Type: text/plain; charset="{charset}"')
            head.append("Content-Transfer-Encoding: quoted-printable")
            payload = _qp(body_text, charset)
        return ("\r\n".join(head) + "\r\n\r\n").encode() + payload
    head.append(
        f'Content-Type: multipart/alternative; boundary="{boundary}"')
    parts = [
        ("text/plain", _qp(body_text, charset), "quoted-printable"),
        ("text/html",
         base64.encodebytes(html_body.encode(charset)), "base64"),
    ]
    out = [("\r\n".join(head) + "\r\n\r\n").encode()]
    for ctype, payload, cte in parts:
        out.append(
            (f"--{boundary}\r\n"
             f'Content-Type: {ctype}; charset="{charset}"\r\n'
             f"Content-Transfer-Encoding: {cte}\r\n\r\n").encode())
        out.append(payload)
        out.append(b"\r\n")
    out.append(f"--{boundary}--\r\n".encode())
    return b"".join(out)


def encode_mbox(messages: list[bytes]) -> bytes:
    """mboxrd writer: ``From `` separator before each message,
    ``>``-stuffing applied to colliding body lines."""
    out = []
    for msg in messages:
        out.append(b"From MAILER-DAEMON Mon Jan  1 00:00:00 2024\n")
        body = msg.replace(b"\r\n", b"\n")
        stuffed = re.sub(rb"(?m)^(>*From )", rb">\1", body)
        out.append(stuffed)
        if not stuffed.endswith(b"\n"):
            out.append(b"\n")
        out.append(b"\n")
    return b"".join(out)


def iter_mbox(data: bytes):
    """Yield raw message bytes from an mbox, unstuffing ``>From `` and
    stripping exactly the writer's one separator blank line (mbox
    messages end with a newline by convention — a source message
    without one gains it, the format's standing ambiguity)."""
    if not data.startswith(b"From "):
        raise EmailError("not an mbox (missing 'From ' separator)")
    # split at line starts; keep it streaming-friendly per chunk
    chunks = re.split(rb"(?m)^From .*\n", data)
    for chunk in chunks:
        if not chunk.strip():
            continue
        if chunk.endswith(b"\n\n"):
            chunk = chunk[:-1]
        yield re.sub(rb"(?m)^>(>*From )", rb"\1", chunk)


# ---------------------------------------------------------------------------
# parser (stdlib email package — the reader side)

# header classes, keyed by (registry class, base class): the stdlib
# HeaderRegistry.__getitem__ builds a new class with type() on every
# call.  Classes, not row data; bounded by the registry's few classes
# (every unknown header name maps to the one default class)
_HEADER_CLASSES: dict[tuple[type, type], type] = {}


class _HeadersOnce(email.headerregistry.HeaderRegistry):
    """A header factory that parses each distinct header once.  Under
    ``policy.default`` every ``msg.get`` re-parses the raw header, and
    the part walks below read each part's Content-Type many times over
    (``get_content_type``, ``get_filename``, ``get_content_charset``
    ...).  Header objects are immutable, so one parse serves them all;
    :func:`_message` makes a fresh memo per message, so no parsed header
    outlives it."""

    def __init__(self):
        super().__init__()
        self._parsed = {}

    def __getitem__(self, name):
        key = (self.registry.get(name.lower(), self.default_class), self.base_class)
        cls = _HEADER_CLASSES.get(key)
        if cls is None:
            cls = _HEADER_CLASSES[key] = type("_" + key[0].__name__, key, {})
        return cls

    def __call__(self, name, value):
        header = self._parsed.get((name, value))
        if header is None:
            header = self._parsed[name, value] = super().__call__(name, value)
        return header


def _message(data: bytes) -> email.message.EmailMessage:
    """``data`` parsed under ``email.policy.default``, with its own
    header memo."""
    return email.message_from_bytes(
        data, policy=email.policy.default.clone(header_factory=_HeadersOnce()))


def _part_text(part) -> str | None:
    payload = part.get_payload(decode=True)
    if payload is None:
        return None
    charset = part.get_content_charset() or "utf-8"
    try:
        return payload.decode(charset, errors="strict")
    except (ValueError, LookupError):
        # ValueError covers UnicodeDecodeError AND the embedded-null
        # case: a mutated/hostile charset= parameter containing \x00
        # raises plain ValueError from codec lookup, not LookupError
        return payload.decode("utf-8", errors="replace")


def parse_eml(data: bytes) -> dict:
    """One RFC 5322 message → ``{subject, from_addr, to_addr, date,
    n_parts, body_source, text}``.  ``text`` prefers the decoded
    ``text/plain`` part; falls back to ``text/html`` through the WARC
    path's ``extract_text`` so both ingestion front doors canonicalize
    HTML identically.  Raises :class:`EmailError` when the payload has
    no parseable header block."""
    if b":" not in data.split(b"\n", 3)[0] and not data.startswith(b"From"):
        raise EmailError("no RFC 5322 header block")
    msg = _message(data)
    if msg.get("Subject") is None and msg.get("From") is None:
        raise EmailError("no Subject/From headers — not an email")
    n_parts = 0
    plain = None
    html = None
    for part in msg.walk():
        if part.is_multipart():
            continue
        n_parts += 1
        ctype = part.get_content_type()
        if ctype == "text/plain" and plain is None:
            plain = _part_text(part)
        elif ctype == "text/html" and html is None:
            html = _part_text(part)
    if plain is not None:
        body_source, text = "plain", plain
    elif html is not None:
        from verified_sources_spark.llm.warc import extract_text
        _, text = extract_text(html, collapse=True)
        body_source = "html"
    else:
        body_source, text = None, None
    return {
        "subject": str(msg.get("Subject", "")) or None,
        "from_addr": str(msg.get("From", "")) or None,
        "to_addr": str(msg.get("To", "")) or None,
        "date": str(msg.get("Date", "")) or None,
        "n_parts": n_parts,
        "body_source": body_source,
        "text": text,
    }


# ---------------------------------------------------------------------------
# Spark operator

EMAIL_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, msg_idx int, subject string, "
    "from_addr string, n_parts int, body_source string, text string"
)


def email_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched email → text over binary payloads: sniffs mbox
    (``From `` separator) vs Outlook .msg (OLE2 magic, via
    llm/msgdoc) vs single EML, emits one row per message.
    Payloads never shuffle; a corrupt payload isolates as one
    ``decoded_ok=false`` row (reference analogue:
    sources/inbox/__init__.py — the live-IMAP half of the same
    surface)."""
    def run(_id, payload):
        from verified_sources_spark.llm.msgdoc import MsgError, parse_msg

        raw = bytes(payload)
        try:
            if raw[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
                try:
                    outs = [parse_msg(raw)]
                except MsgError as e:
                    raise EmailError(str(e)) from None
            else:
                msgs = (list(iter_mbox(raw))
                        if raw.startswith(b"From ") else [raw])
                if not msgs:
                    raise EmailError("empty mbox")
                outs = [parse_eml(m) for m in msgs]
            for i, out in enumerate(outs):
                yield {
                    "doc_id": _id, "decoded_ok": True, "msg_idx": i,
                    "subject": out["subject"],
                    "from_addr": out["from_addr"],
                    "n_parts": out["n_parts"],
                    "body_source": out["body_source"],
                    "text": out["text"],
                }
        except EmailError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, EMAIL_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


# ---------------------------------------------------------------------------
# attachment explosion: the mail -> document chain

def iter_attachments(data: bytes):
    """Yield ``(filename, content_type, payload)`` per attachment part
    of one EML: parts with Content-Disposition attachment, or a
    filename on a non-inline part — the transfer coding (base64/QP)
    already reversed.  The reference's inbox source extracts
    attachments the same way (sources/inbox — body + attachment
    extraction); at rest, every attachment is a candidate DOCUMENT for
    the corpus, not mail metadata."""
    msg = _message(data)
    if msg.get("Subject") is None and msg.get("From") is None:
        raise EmailError("no Subject/From headers — not an email")
    for part in msg.walk():
        if part.is_multipart():
            continue
        fn = part.get_filename()
        disp = part.get_content_disposition()
        if disp == "attachment" or (fn and disp != "inline"):
            payload = part.get_payload(decode=True) or b""
            yield fn or "", part.get_content_type(), payload


def iter_msg_attachments(streams: dict):
    """(filename, payload) per ``__attach_version1.0_#N`` storage of a
    parsed .msg CFB: data from PidTagAttachDataBinary (37010102),
    name from PidTagAttachLongFilename (3707) falling back to
    PidTagAttachFilename (3704), either string width."""
    prefixes = sorted({k.split("/", 1)[0] for k in streams
                       if k.startswith("__attach_version1.0_")})
    for pre in prefixes:
        data = streams.get(f"{pre}/__substg1.0_37010102", b"")
        name = None
        for tag in ("3707", "3704"):
            v = streams.get(f"{pre}/__substg1.0_{tag}001F")
            if v is not None:
                name = v.decode("utf-16-le", errors="replace")
                break
            v = streams.get(f"{pre}/__substg1.0_{tag}001E")
            if v is not None:
                name = v.decode("cp1252", errors="replace")
                break
        yield name or "", data


EMAIL_ATTACHMENT_TEXTS_SCHEMA = (
    "doc_id long, decoded_ok boolean, msg_idx int, att_idx int, "
    "filename string, att_format string, n_bytes long, text string"
)


def email_attachment_texts(df, id_col: str = "doc_id",
                           asset_col: str = "asset"):
    """FUSED mail→document chain: explode each mail payload's
    attachments (EML/mbox via MIME, .msg via MAPI attach storages) and
    route every attachment through llm/docrouter.extract_document —
    PDF/office/EPUB/HTML/markdown/plain attachments land as TEXT rows
    beside the crawl and archive front doors.  One map_rows stage: the
    attachment bytes never leave the scan's executor (no intermediate
    payload column, no shuffle).  A mail with no attachments emits one
    ``att_idx=null`` row; a corrupt mail OR a refused attachment
    (media, encrypted, garble) isolates as ``decoded_ok=false`` with
    the byte count kept — honest inventory, nothing silently dropped."""
    def run(_id, payload):
        from verified_sources_spark.llm.cfb import CfbError, list_streams
        from verified_sources_spark.llm.docrouter import (
            DocRouteError, extract_document,
        )

        def row(i, j, fn, data):
            try:
                out = extract_document(data)
                return {"doc_id": _id, "decoded_ok": True, "msg_idx": i,
                        "att_idx": j, "filename": fn,
                        "att_format": out["format"],
                        "n_bytes": len(data), "text": out["text"]}
            except DocRouteError:
                return {"doc_id": _id, "decoded_ok": False, "msg_idx": i,
                        "att_idx": j, "filename": fn, "n_bytes": len(data)}

        raw = bytes(payload)
        try:
            if raw[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
                try:
                    streams = list_streams(raw)
                except CfbError as e:
                    raise EmailError(str(e)) from None
                rows = [row(0, j, fn, data) for j, (fn, data)
                        in enumerate(iter_msg_attachments(streams))]
            else:
                msgs = (list(iter_mbox(raw))
                        if raw.startswith(b"From ") else [raw])
                rows = [row(i, j, fn, data) for i, m in enumerate(msgs)
                        for j, (fn, _ct, data)
                        in enumerate(iter_attachments(m))]
            if not rows:  # mail, no attachments
                rows = [{"doc_id": _id, "decoded_ok": True, "msg_idx": 0}]
        except EmailError:
            # all-or-nothing per payload: an EmailError on message k of
            # a multi-message mbox must not leave messages <k's decoded
            # rows behind next to the false row (they would
            # double-count text into the dedup surface)
            rows = [{"doc_id": _id, "decoded_ok": False}]
        yield from rows

    from pyspark.sql import functions as F

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run,
                   EMAIL_ATTACHMENT_TEXTS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
