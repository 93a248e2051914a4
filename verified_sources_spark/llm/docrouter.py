"""Magic-byte document routing: one front door for "a blob that is
some kind of document".

The reference routes unstructured files to per-format processors by
extension/type (sources/unstructured_data/helpers.py:30-63 — the
filetype → processor dispatch); at corpus scale the same routing has
to run on BYTES, because filenames lie and half the blobs arrive from
inside containers (email attachments, archive members, crawl bodies)
with no trustworthy name at all.

``sniff_document`` names the format from magic bytes (never from the
filename); ``extract_document`` routes to the matching extractor the
engine already owns — PDF (llm/pdf_codec), OOXML/ODF/RTF/legacy-CFB
office (llm/office), EPUB (llm/ebook), HTML (the WARC path's
extract_text, so attachment HTML and crawl HTML canonicalize
identically), markdown and plain text — and returns one
``{"format", "text"}`` dict.  Formats with their own richer surfaces
(archives, images, audio, video) are NOT flattened to text here; they
refuse with the format named so the caller can route them to the
right operator instead of silently ingesting ``str(bytes)`` garble.
"""

from __future__ import annotations

from verified_sources_spark.boundary import map_rows

__all__ = ["DocRouteError", "sniff_document", "extract_document"]


class DocRouteError(ValueError):
    """Named refusal: not a text-document payload this router serves."""


_MEDIA_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "png"), (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"), (b"BM", "bmp"), (b"ID3", "mp3"),
    (b"fLaC", "flac"), (b"OggS", "ogg"), (b"\x1a\x45\xdf\xa3", "webm"),
]


def sniff_document(payload: bytes) -> str:
    """Format name from magic bytes: 'pdf' / 'docx' (any OOXML/ODF zip
    package) / 'cfb' (legacy office / .msg) / 'rtf' / 'epub' / 'html'
    / 'markdown' / 'text', or the media/archive name that explains the
    refusal."""
    if payload[:5] == b"%PDF-":
        return "pdf"
    if payload[:4] == b"PAR1":
        return "parquet"
    if payload[:4] == b"Obj\x01":
        return "avro"
    if payload[:3] == b"ORC" and b"ORC" in payload[-8:]:
        # both ends checked: prose that merely STARTS with "ORC"
        # must not route here
        return "orc"
    if payload[:16] == b"SQLite format 3\x00":
        return "sqlite"
    if payload[:6] == b"ARROW1" and payload[-6:] == b"ARROW1":
        # Arrow IPC FILE format carries the magic at both ends (the
        # ORC posture: prose starting with the word must not route
        # here); the bare STREAM format has no distinctive magic for
        # a global sniff and is served only behind the columnar-blob
        # column door (llm/datablob.data_blob_rows)
        return "arrow"
    if payload[:5] == b"WARC/":
        # Common Crawl's three sibling layouts share the container;
        # the flavor (warc / wet / wat) comes from the record types —
        # WITHOUT this branch a plain WET buffer walks like text and
        # would ingest verbatim, WARC headers and all
        from verified_sources_spark.llm.warc import sniff_warc_flavor

        return sniff_warc_flavor(payload)
    if payload[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        return "cfb"
    if payload[:5] == b"{\\rtf":
        return "rtf"
    if payload[:4] == b"PK\x03\x04":
        # one zip sniff, three families: EPUB and ODF declare a
        # mimetype member, OOXML a [Content_Types].xml
        import io
        import zipfile

        try:
            with zipfile.ZipFile(io.BytesIO(payload)) as z:
                names = set(z.namelist())
                if "mimetype" in names:
                    mt = z.read("mimetype")
                    if mt == b"application/epub+zip":
                        return "epub"
                    if mt.startswith(b"application/vnd.oasis"):
                        return "docx"  # ODF: extract_office dispatches
                if "[Content_Types].xml" in names:
                    return "docx"
        except Exception:
            pass
        return "zip"
    for magic, name in _MEDIA_MAGIC:
        if payload[: len(magic)] == magic:
            return name
    from verified_sources_spark.llm.archives import sniff_archive_format

    fmt = sniff_archive_format(payload)
    if fmt:
        return fmt
    head = payload[:2048].lstrip()[:256].lower()
    if (payload[:16].startswith(b"From ")
            and b"multipart/related" in payload[:4096].lower()) \
            or (head.startswith((b"content-type:", b"from:", b"snapshot-"))
                and b"multipart/related" in payload[:4096].lower()):
        return "mhtml"
    # ICS/vCard magic: Windows/Outlook exports routinely lead with a
    # BOM (UTF-8 or UTF-16) — strip/decode it before the BEGIN: check
    # so BOM'd and BOM-less copies of the same invite route (and
    # dedup) identically; the parsers decode either form
    probe = payload
    if probe[:3] == b"\xef\xbb\xbf":
        probe = probe[3:]
    elif probe[:2] in (b"\xff\xfe", b"\xfe\xff"):
        try:
            probe = probe[:64].decode("utf-16").upper().encode()
        except UnicodeDecodeError:
            probe = b""
    if probe[:15].upper() == b"BEGIN:VCALENDAR":
        return "ics"
    if probe[:11].upper() == b"BEGIN:VCARD":
        return "vcard"
    if _looks_like_email(payload):
        # an .eml is a CONTAINER (headers + parts + base64 blocks):
        # ingesting it verbatim as text poisons the dedup/quality
        # surface — refuse by name toward email_attachment_texts
        return "email"
    if head.startswith((b"<!doctype html", b"<html")) or b"<body" in head:
        return "html"
    if head.startswith(b"<?xml") or head.startswith(b"<"):
        # XML families: JATS articles are documents; dump CONTAINERS
        # (mediawiki, SE posts) refuse by name toward their own
        # multi-document surfaces
        body = payload[:4096].lower()
        if b"<article" in body:
            return "jats"
        if b"<mediawiki" in body:
            return "wikidump"
        if b"<posts>" in body or b"<posts " in body:
            return "sedump"
    # decodable text: markdown if it walks like markdown, else plain.
    # NOT UTF-8-only: a cp1252/GB18030/Shift_JIS .txt inside a zip or
    # mail attachment — extremely common in legacy archives — is text,
    # not "unrecognized binary"; the bare-charset probe (BOM + strict
    # decode + plausibility scoring, llm/text_fix) makes that call.
    # The probe decodes incrementally, so a multibyte char straddling
    # the 64KB window never misreads as binary.
    from verified_sources_spark.llm.text_fix import detect_bare_charset

    hit = detect_bare_charset(payload)
    if hit is None:
        raise DocRouteError(
            "unrecognized binary payload — refusing by name")
    codec, _src = hit
    import codecs as _codecs

    dec = _codecs.getincrementaldecoder(codec)("strict")
    try:
        text = dec.decode(payload[:65536], final=len(payload) <= 65536)
    except (UnicodeDecodeError, ValueError):
        raise DocRouteError(
            "unrecognized binary payload — refusing by name"
        ) from None
    if "\\documentclass" in text or "\\begin{document}" in text:
        return "latex"
    if _looks_like_markdown(text):
        return "markdown"
    from verified_sources_spark.llm.tabular import sniff_delimited

    if sniff_delimited(text):
        return "delimited"
    return "text"


import re as _re

_RFC5322_HEADER = _re.compile(rb"^[!-9;-~]+:[ \t]")
_EMAIL_CANONICAL = (
    b"from", b"to", b"cc", b"subject", b"date", b"received",
    b"return-path", b"message-id", b"mime-version", b"sender",
    b"delivered-to", b"reply-to",
)


def _looks_like_email(payload: bytes) -> bool:
    """RFC 5322 sniff: the first line must be a header line (or the
    mbox ``From `` separator) and at least two CANONICAL mail headers
    must appear in the header block before the first blank line —
    strict enough that delimited/plain text with a stray colon never
    routes here.  The 4096-byte window can cut the final line mid-way
    (real mails carry >4 KB of Received/DKIM chains), so a truncated
    TAIL fragment is dropped rather than treated as a non-header
    line."""
    window = payload[:4096]
    lines = window.split(b"\n")
    if len(payload) > len(window):
        lines = lines[:-1]  # the cut may have split the last line
    if not lines:
        return False  # one giant newline-less line is not a header
    first = lines[0].rstrip(b"\r")
    if first.startswith(b"From "):
        lines = lines[1:]
        if not lines:
            return False
        first = lines[0].rstrip(b"\r")
    if not _RFC5322_HEADER.match(first):
        return False
    seen = set()
    for ln in lines:
        ln = ln.rstrip(b"\r")
        if not ln:
            break
        if ln[:1] in (b" ", b"\t"):  # folded continuation
            continue
        m = _RFC5322_HEADER.match(ln)
        if not m:
            return False  # non-header line inside the block
        name = ln.split(b":", 1)[0].strip().lower()
        if name in _EMAIL_CANONICAL:
            seen.add(name)
    return len(seen) >= 2


_MD_MARKS = (
    _re.compile(r"(?m)^#{1,6} \S"),          # ATX heading
    _re.compile(r"(?m)^```"),                # fenced code
    _re.compile(r"\[[^\]]+\]\([^)]+\)"),     # inline link
    _re.compile(r"(?m)^[-*] \S"),            # list item
)


def _looks_like_markdown(text: str) -> bool:
    return sum(1 for rx in _MD_MARKS if rx.search(text)) >= 2


def extract_document(payload: bytes, fmt: str | None = None) -> dict:
    """``{"format", "text"}`` for a document blob, routed by magic
    bytes to the engine's own extractors.  Non-document formats
    (media, archives) raise :class:`DocRouteError` with the format
    named — the caller owns richer surfaces for those.  Pass ``fmt``
    when the caller already sniffed (the archive walk does) — package
    sniffing opens zip directories, and re-sniffing per member
    doubles that cost in the hot loop."""
    if fmt is None:
        fmt = sniff_document(payload)
    if fmt == "pdf":
        from verified_sources_spark.llm.pdf_codec import (
            PdfError, extract_pdf_text,
        )

        try:
            return {"format": "pdf",
                    "text": extract_pdf_text(payload)["text"]}
        except PdfError as e:
            raise DocRouteError(f"pdf: {e}") from None
    if fmt in ("docx", "cfb", "rtf"):
        from verified_sources_spark.llm.office import (
            OfficeError, extract_office,
        )

        try:
            out = extract_office(payload)
        except OfficeError as e:
            raise DocRouteError(f"office: {e}") from None
        return {"format": out["format"],
                "text": "\n".join(out["units"])}
    if fmt == "epub":
        from verified_sources_spark.llm.ebook import EbookError, extract_epub

        try:
            out = extract_epub(payload)
        except EbookError as e:
            raise DocRouteError(f"epub: {e}") from None
        return {"format": "epub",
                "text": "\n".join(c["text"] for c in out["chapters"])}
    if fmt == "html":
        from verified_sources_spark.llm.warc import extract_text

        _, text = extract_text(
            payload.decode("utf-8", errors="replace"), collapse=True)
        return {"format": "html", "text": text}
    if fmt == "mhtml":
        from verified_sources_spark.llm.mhtml import MhtmlError, parse_mhtml

        try:
            return {"format": "mhtml",
                    "text": parse_mhtml(payload)["text"]}
        except MhtmlError as e:
            raise DocRouteError(f"mhtml: {e}") from None
    if fmt == "jats":
        from verified_sources_spark.llm.jats import JatsError, jats_extract

        try:
            out = jats_extract(payload)
        except JatsError as e:
            raise DocRouteError(f"jats: {e}") from None
        return {"format": "jats",
                "text": "\n".join(t for _k, t in out["units"])}
    if fmt in ("wikidump", "sedump"):
        raise DocRouteError(
            f"{fmt} is a multi-document container — route it to the "
            f"{'wiki_pages' if fmt == 'wikidump' else 'se_posts'} "
            "surface instead")
    if fmt in ("warc", "wet", "wat"):
        raise DocRouteError(
            f"{fmt} is a multi-record web-archive container — route it "
            "to the warc_extract / wet_extract / wat_extract surface "
            "instead")
    if fmt == "latex":
        from verified_sources_spark.llm.latex import LatexError, latex_text

        try:
            return {"format": "latex",
                    "text": latex_text(
                        payload.decode("utf-8", "replace"))["text"]}
        except LatexError as e:
            raise DocRouteError(f"latex: {e}") from None
    if fmt == "markdown":
        from verified_sources_spark.llm.markdown import markdown_extract

        return {"format": "markdown",
                "text": markdown_extract(payload)["text"]}
    if fmt == "delimited":
        from verified_sources_spark.llm.tabular import (
            TabularError, parse_delimited,
        )

        try:
            out = parse_delimited(payload)
        except TabularError as e:
            raise DocRouteError(f"delimited: {e}") from None
        lines = ([out["header"]] if out["header"] else []) + out["rows"]
        return {"format": "delimited",
                "text": "\n".join("\t".join(r) for r in lines)}
    if fmt in ("parquet", "avro", "orc", "sqlite", "arrow"):
        from verified_sources_spark.llm.datablob import (
            DataBlobError, arrow_rows_blob, avro_rows_blob,
            orc_rows_blob, parquet_rows_blob, sqlite_tables_blob,
        )

        readers = {"parquet": parquet_rows_blob,
                   "avro": avro_rows_blob, "orc": orc_rows_blob,
                   "arrow": arrow_rows_blob}
        try:
            if fmt == "sqlite":
                # container of tables: one block per user table,
                # table name as its block header line
                blocks = []
                for tbl in sqlite_tables_blob(payload):
                    lines = [[tbl["table"]], tbl["columns"]] \
                        + tbl["rows"]
                    blocks.append("\n".join(
                        "\t".join(r) for r in lines))
                return {"format": fmt, "text": "\n\n".join(blocks)}
            out = readers[fmt](payload)
        except DataBlobError as e:
            raise DocRouteError(f"{fmt}: {e}") from None
        lines = [out["columns"]] + out["rows"]
        return {"format": fmt,
                "text": "\n".join("\t".join(r) for r in lines)}
    if fmt in ("ics", "vcard"):
        from verified_sources_spark.llm.ics_vcf import (
            IcsVcfError, parse_ics, parse_vcf,
        )

        try:
            if fmt == "ics":
                evs = parse_ics(payload)["events"]
                text = "\n".join(
                    " — ".join(p for p in (ev["summary"],
                                           ev["description"],
                                           ev["location"]) if p)
                    for ev in evs)
            else:
                text = "\n".join(
                    " — ".join(p for p in (c["fn"], c["org"],
                                           c["title"]) if p)
                    for c in parse_vcf(payload)["cards"])
        except IcsVcfError as e:
            raise DocRouteError(f"{fmt}: {e}") from None
        return {"format": fmt, "text": text}
    if fmt == "text":
        # the sniff probed a 64KB window; the tail can still carry
        # binary spillover — refuse THROUGH the named error so the
        # operators' isolation nets turn it into a row, never a crash.
        # decode_bare_text carries the detected charset (cp1252 /
        # GB18030 / EUC-JP / Big5 / Shift_JIS legacy files decode as
        # text, not "binary") and its decode_clean flag gates here.
        from verified_sources_spark.llm.text_fix import decode_bare_text

        out = decode_bare_text(payload)
        if out is None:
            raise DocRouteError(
                "unrecognized binary payload — refusing by name")
        text, charset, clean = out
        if not clean:
            raise DocRouteError(
                f"text payload with invalid {charset.upper()} bytes "
                "in the tail — refusing by name")
        return {"format": "text", "text": text, "charset": charset}
    if fmt == "email":
        raise DocRouteError(
            "email is a multi-part container — route it to "
            "email_attachment_texts / email_texts instead")
    raise DocRouteError(
        f"{fmt} payload is not a text document — route it to the "
        f"{fmt} surface instead")


ARCHIVE_DOCUMENT_TEXTS_SCHEMA = (
    "doc_id long, decoded_ok boolean, member_name string, "
    "doc_format string, n_bytes long, text string"
)


def archive_document_texts(df, id_col: str = "doc_id",
                           asset_col: str = "asset",
                           max_total_members: int = 100_000):
    """FUSED archive→document chain: explode each archive payload
    (zip/7z/tar.* via llm/archives, PLAIN nested archives recursed
    with ``outer!inner`` paths, depth-capped) and route every member
    through :func:`extract_document` — the document-drop shape (a zip
    of PDFs/office files/notes lands as text rows).  Package zips
    (docx/odf/epub) are DOCUMENTS, never exploded — the router's
    sniff makes that call, which is why this walk lives here and not
    in llm/archives.  One map_rows stage: member bytes never leave the
    scan's executor.  A corrupt archive isolates as one
    ``decoded_ok=false`` row; a member the router refuses (media,
    binary, corrupt inner archive) isolates as its own false row with
    the byte count kept."""
    _ARCHIVE_FMTS = {"zip", "7z", "tar", "tgz", "txz", "tbz2", "tzst"}

    def run(_id, payload):
        from verified_sources_spark.llm.archives import (
            ArchiveError, ArchiveExplosionError, iter_members,
        )

        raw = bytes(payload)
        doc_rows: list[dict] = []
        emitted = 0
        try:
            stack = [(n, d, 1)
                     for n, d in iter_members(raw)][::-1]
            while stack:
                name, data, depth = stack.pop()
                # sniff ONCE per member: the result both
                # decides plain-archive recursion (package
                # zips — docx/odf/epub — are DOCUMENTS, never
                # exploded) and feeds extract_document, so
                # zip directories open once, not three times
                try:
                    fmt = sniff_document(data)
                except DocRouteError:
                    fmt = None
                if depth < 3 and fmt in _ARCHIVE_FMTS:
                    try:
                        inner = list(iter_members(data))
                    except ArchiveError:
                        inner = None  # corrupt inner: row
                    if inner is not None:
                        stack += [(f"{name}!{n}", d, depth + 1)
                                  for n, d in inner][::-1]
                        continue
                emitted += 1
                if emitted > max_total_members:
                    # the same explosion gate the archives
                    # module enforces: a wide zip-of-zips bomb
                    # refuses WHOLE, never partially explodes
                    raise ArchiveExplosionError(
                        f"nested archive exceeds "
                        f"{max_total_members} members")
                try:
                    out = (extract_document(data, fmt=fmt)
                           if fmt is not None else None)
                    if out is None:
                        raise DocRouteError(
                            "unrecognized binary payload")
                    doc_rows.append({
                        "doc_id": _id, "decoded_ok": True,
                        "member_name": name,
                        "doc_format": out["format"],
                        "n_bytes": len(data),
                        "text": out["text"]})
                except DocRouteError:
                    doc_rows.append({
                        "doc_id": _id, "decoded_ok": False,
                        "member_name": name, "n_bytes": len(data)})
        except ArchiveError:
            # corrupt outer OR explosion gate: all-or-nothing
            doc_rows = [{"doc_id": _id, "decoded_ok": False}]
        yield from doc_rows

    from pyspark.sql import functions as F

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run,
                   ARCHIVE_DOCUMENT_TEXTS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
