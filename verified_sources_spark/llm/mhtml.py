"""MHTML (.mht / .mhtml) web-archive ingestion — RFC 2557
multipart/related MIME around a saved web page.

Chrome's "Save page as MHTML", IE/Edge .mht exports and Outlook's
saved pages all ship this shape: RFC 5322-ish headers with
``Content-Type: multipart/related``, a root text/html part (named by
the ``type``/``start`` parameters or simply first), and one part per
sub-resource (images, CSS) carrying ``Content-Location``.  Web-archive
dumps and shared-drive crawls are full of these, and treating them as
plain text garbles the corpus — the HTML is usually quoted-printable
encoded with ``=3D`` on every attribute.

Decode posture: stdlib ``email`` parser (MIME is MIME), the root
part's charset honored per label, text through the SAME
``extract_text`` the WARC/email/EPUB front doors use so every
HTML-shaped source canonicalizes identically.  Sub-resources are
counted and inventoried by content type, never flattened into the
text.  Reference analogue: the filesystem/unstructured route
(sources/unstructured_data/helpers.py:30-63) — .mht is a filetype a
real document drop contains.
"""

from __future__ import annotations

import email
import email.policy

from verified_sources_spark.boundary import map_rows

__all__ = [
    "MhtmlError", "encode_mhtml", "parse_mhtml", "mhtml_extract",
    "MHTML_EXTRACT_SCHEMA",
]


class MhtmlError(ValueError):
    """Named refusal: not an MHTML payload we can decode honestly."""


def encode_mhtml(
    html: str,
    location: str = "http://example.com/saved",
    resources: list[tuple[str, str, bytes]] | None = None,
    boundary: str = "----MultipartBoundary--fixture42----",
    charset: str = "utf-8",
) -> bytes:
    """Chrome-flavored MHTML writer (independent of the reader):
    ``From <Saved by fixture>`` prologue line, Snapshot-Content-
    Location header, quoted-printable root HTML, base64 sub-resources
    as (content_location, content_type, payload) triples."""
    import quopri

    out = [
        b"From: <Saved by fixture>\r\n",
        f"Snapshot-Content-Location: {location}\r\n".encode(),
        b"Subject: saved page\r\n",
        b"Date: Mon, 1 Jan 2024 00:00:00 -0000\r\n",
        b"MIME-Version: 1.0\r\n",
        (b'Content-Type: multipart/related;'
         b' type="text/html";'
         + f' boundary="{boundary}"\r\n\r\n'.encode()),
        f"--{boundary}\r\n".encode(),
        f'Content-Type: text/html; charset="{charset}"\r\n'.encode(),
        b"Content-Transfer-Encoding: quoted-printable\r\n",
        f"Content-Location: {location}\r\n\r\n".encode(),
        quopri.encodestring(html.encode(charset)),
        b"\r\n",
    ]
    import base64

    for loc, ctype, payload in resources or []:
        out.append(f"--{boundary}\r\n".encode())
        out.append(f"Content-Type: {ctype}\r\n".encode())
        out.append(b"Content-Transfer-Encoding: base64\r\n")
        out.append(f"Content-Location: {loc}\r\n\r\n".encode())
        out.append(base64.encodebytes(payload))
        out.append(b"\r\n")
    out.append(f"--{boundary}--\r\n".encode())
    return b"".join(out)


def parse_mhtml(data: bytes) -> dict:
    """One MHTML archive → ``{location, title, text, n_resources,
    resource_types}``: root HTML found by the ``start``/``type``
    parameter or first-text/html, decoded per its charset label, text
    through the shared WARC extractor; sub-resources inventoried as a
    sorted ``;``-joined content-type list."""
    head = data[:4096]
    if head.startswith(b"From "):  # Chrome's prologue line
        nl = data.find(b"\n")
        data = data[nl + 1:]
        head = data[:4096]
    lower = head.lower()
    if b"multipart/related" not in lower:
        raise MhtmlError("no multipart/related header — not MHTML")
    msg = email.message_from_bytes(data, policy=email.policy.default)
    if not msg.is_multipart():
        raise MhtmlError("multipart/related did not parse as multipart")
    start_cid = (msg.get_param("start") or "").strip("<>")
    root = None
    resources = []
    location = msg.get("Snapshot-Content-Location")
    for part in msg.walk():
        if part.is_multipart():
            continue
        cid = (part.get("Content-ID") or "").strip("<>")
        is_root = (root is None
                   and (cid == start_cid if start_cid
                        else part.get_content_type() == "text/html"))
        if is_root:
            root = part
        else:
            resources.append(part.get_content_type())
    if root is None:
        raise MhtmlError("MHTML archive has no root text/html part")
    payload = root.get_payload(decode=True) or b""
    charset = root.get_content_charset() or "utf-8"
    try:
        html = payload.decode(charset)
    except (ValueError, LookupError):
        # ValueError covers UnicodeDecodeError AND the embedded-null
        # case: a hostile charset= parameter containing \x00 raises
        # plain ValueError from codec lookup (8-seed fuzz find —
        # email_ingest._part_text had the same net already)
        html = payload.decode("utf-8", errors="replace")
    from verified_sources_spark.llm.warc import extract_text

    title, text = extract_text(html, collapse=True)
    return {
        "location": location or root.get("Content-Location"),
        "title": title or None,
        "text": text,
        "n_resources": len(resources),
        "resource_types": ";".join(sorted(set(resources))) or None,
    }


MHTML_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, location string, title string, "
    "n_resources int, resource_types string, text string"
)


def mhtml_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched MHTML → text: one row per archive, payloads never
    shuffle, corrupt/non-MHTML payloads isolate as
    ``decoded_ok=false`` rows."""
    def run(_id, payload):
        try:
            out = parse_mhtml(bytes(payload))
            yield {
                "doc_id": _id, "decoded_ok": True,
                "location": out["location"],
                "title": out["title"],
                "n_resources": out["n_resources"],
                "resource_types": out["resource_types"],
                "text": out["text"]}
        except MhtmlError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, MHTML_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
