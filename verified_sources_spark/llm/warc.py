"""Pure-stdlib WARC (ISO 28500) reader + HTML text extraction.

Web-scale LLM corpora arrive as WARC: Common Crawl alone is the base
layer of most open pretraining sets, stored as concatenated records —
``WARC/1.x`` + headers + a Content-Length'd block — usually with each
record its own gzip member.  This module is the ingestion front door
that turns those bytes into the ``documents``-shaped rows every
operator downstream (dedup, quality, lang-id, decontamination) already
consumes:

- ``iter_records``: walk a WARC buffer (plain or multi-member gzip,
  sniffed), yielding (headers, block) with every length bounds-checked
  — truncation raises ``WarcError``, never a silent short record.
- ``http_payload``: split a response record's block into (status,
  headers, body), handling chunked transfer-encoding and
  Content-Length truncation honestly.
- ``extract_text``: stdlib html.parser extraction — drops
  script/style/noscript, unescapes entities, returns (title, text) —
  the minimal boilerplate pass that makes WARC bodies joinable against
  the text operators.
- ``encode_record`` / ``encode_warc``: fixture writers (the tests
  parse layouts these did not emit byte-for-byte: gzip members,
  chunked bodies, multi-record files, trailing garbage).

Reference analogue: the scraping source lands page content for
downstream transforms (/root/reference/sources/scraping/__init__.py);
this is the same landing step for the archive format the web actually
ships.
"""

from __future__ import annotations

import codecs
import gzip
import io
import re
import zlib
from html.parser import HTMLParser

from verified_sources_spark.boundary import map_rows

__all__ = [
    "WarcError",
    "iter_records",
    "http_payload",
    "extract_text",
    "detect_charset",
    "decode_body",
    "encode_record",
    "encode_warc",
    "http_response_block",
    "sniff_warc_flavor",
    "wet_extract",
    "wat_extract",
    "wat_payload_fields",
]


class WarcError(ValueError):
    pass


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a multi-member gzip stream (the WARC convention: one
    member per record) to one plain buffer."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out += d.decompress(data[pos:])
        except zlib.error as e:
            raise WarcError(f"bad gzip member at {pos}: {e}") from None
        if not d.eof:
            raise WarcError(f"truncated gzip member at {pos}")
        consumed = len(data) - pos - len(d.unused_data)
        pos += consumed
    return bytes(out)


def iter_records(data: bytes):
    """Yield (headers: dict[str,str], block: bytes) per WARC record.
    Accepts plain, gzip (multi-member) or zstd (.warc.zst, frame per
    record — via the system-libzstd seam; dictionary-compressed
    archives refuse by name) buffers."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    elif data[:4] == b"\x28\xb5\x2f\xfd":
        from verified_sources_spark.llm.zstd_system import (
            ZstdError, available, decompress,
        )

        if not available():
            raise WarcError(
                "zstd WARC — system libzstd not present; refusing by name")
        try:
            data = decompress(data, max_out=1 << 32)
        except ZstdError as e:
            raise WarcError(f"bad zstd WARC: {e}") from None
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise WarcError(f"unterminated WARC version line at {pos}")
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            raise WarcError(f"not a WARC record at {pos}: {version[:20]!r}")
        hdr_end = data.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise WarcError(f"unterminated WARC header block at {pos}")
        headers: dict[str, str] = {"WARC-Version": version.decode("ascii")}
        for line in data[eol + 2 : hdr_end].split(b"\r\n"):
            if b":" not in line:
                raise WarcError(f"malformed WARC header line {line[:40]!r}")
            k, v = line.split(b":", 1)
            headers[k.strip().decode("ascii")] = v.strip().decode(
                "utf-8", errors="replace"
            )
        try:
            length = int(headers["Content-Length"])
        except (KeyError, ValueError):
            raise WarcError(f"record at {pos} missing Content-Length") from None
        body_start = hdr_end + 4
        if body_start + length > n:
            raise WarcError(
                f"truncated WARC block at {body_start}: "
                f"{n - body_start} bytes < {length}"
            )
        yield headers, data[body_start : body_start + length]
        pos = body_start + length


def http_payload(block: bytes) -> tuple[int, dict, bytes]:
    """(status, headers, body) for a response record's HTTP block —
    de-chunks Transfer-Encoding: chunked, validates Content-Length."""
    hdr_end = block.find(b"\r\n\r\n")
    if hdr_end < 0:
        raise WarcError("HTTP block without header terminator")
    lines = block[:hdr_end].split(b"\r\n")
    status_parts = lines[0].split(b" ", 2)
    if len(status_parts) < 2 or not status_parts[0].startswith(b"HTTP/"):
        raise WarcError(f"malformed HTTP status line {lines[0][:40]!r}")
    try:
        status = int(status_parts[1])
    except ValueError:
        raise WarcError(f"non-numeric HTTP status {status_parts[1]!r}") from None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if b":" not in line:
            raise WarcError(f"malformed HTTP header line {line[:40]!r}")
        k, v = line.split(b":", 1)
        headers[k.strip().decode("ascii").lower()] = v.strip().decode(
            "utf-8", errors="replace"
        )
    body = block[hdr_end + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        out = bytearray()
        pos = 0
        while True:
            eol = body.find(b"\r\n", pos)
            if eol < 0:
                raise WarcError("truncated chunked body (no size line)")
            try:
                size = int(body[pos:eol].split(b";")[0], 16)
            except ValueError:
                raise WarcError(
                    f"bad chunk size {body[pos:eol][:20]!r}"
                ) from None
            if size == 0:
                break
            start = eol + 2
            if start + size + 2 > len(body):
                raise WarcError("truncated chunk data")
            out += body[start : start + size]
            pos = start + size + 2
        body = bytes(out)
    elif "content-length" in headers:
        want = int(headers["content-length"])
        if len(body) < want:
            raise WarcError(
                f"truncated HTTP body: {len(body)} bytes < {want}"
            )
        body = body[:want]
    encodings = [
        e.strip()
        for e in headers.get("content-encoding", "").lower().split(",")
        if e.strip()
    ]
    # applied right-to-left: Content-Encoding lists codings in the
    # order the server applied them
    for enc in reversed(encodings):
        if enc in ("gzip", "x-gzip"):
            try:
                body = gzip.decompress(body)
            except OSError as e:
                raise WarcError(f"bad gzip HTTP body: {e}") from None
        elif enc == "deflate":
            # the wild sends both RFC 1950 zlib-wrapped and (against
            # spec, historically IIS) raw RFC 1951 streams
            try:
                body = zlib.decompress(body)
            except zlib.error:
                try:
                    body = zlib.decompressobj(-zlib.MAX_WBITS).decompress(
                        body
                    )
                except zlib.error as e:
                    raise WarcError(f"bad deflate HTTP body: {e}") from None
        elif enc == "zstd":
            # RFC 8878 content-coding, served by the libzstd seam
            from verified_sources_spark.llm.zstd_system import (
                ZstdError, available, decompress,
            )

            if not available():
                raise WarcError(
                    "zstd HTTP body — system libzstd not present; "
                    "refusing by name")
            try:
                body = decompress(body)
            except ZstdError as e:
                raise WarcError(f"bad zstd HTTP body: {e}") from None
        elif enc == "br":
            # RFC 7932 content-coding (every major CDN), served by the
            # libbrotlidec seam
            from verified_sources_spark.llm.brotli_system import (
                BrotliError, decompress as br_decompress, _load_dec,
            )

            if _load_dec() is None:
                raise WarcError(
                    "brotli HTTP body — system libbrotlidec not "
                    "present; refusing by name")
            try:
                body = br_decompress(body)
            except BrotliError as e:
                raise WarcError(f"bad brotli HTTP body: {e}") from None
        elif enc == "identity":
            continue
        else:
            # compress/sdch: no stdlib codec — refuse by name
            # rather than hand compressed bytes to text extraction
            raise WarcError(f"cannot decode Content-Encoding {enc!r}")
    return status, headers, body


_CHARSET_IN_CT = re.compile(r"charset\s*=\s*[\"']?([\w.:-]+)", re.I)
# Covers both <meta charset="x"> and
# <meta http-equiv="Content-Type" content="text/html; charset=x">.
_CHARSET_IN_META = re.compile(
    rb"<meta[^>]{0,200}?charset\s*=\s*[\"']?([\w.:-]+)", re.I
)


def _lookup(label: str) -> str | None:
    """Canonical codec name for a charset label, or None if Python has
    no codec for it (real crawls carry typos like 'utf8_general_ci')."""
    try:
        return codecs.lookup(label.strip().strip('"\'')).name
    except (LookupError, ValueError):
        return None


def detect_charset(
    http_headers: dict | None, body: bytes, *,
    sniff_meta: bool = True,
) -> tuple[str, str]:
    """(codec, source) for an HTTP response body, in the precedence
    order real browsers use: BOM beats everything, then the
    Content-Type ``charset=`` parameter, then an HTML ``<meta
    charset>`` sniff over the first 1 KiB, then the UTF-8 default.
    ``source`` ∈ {'bom', 'http-header', 'meta', 'default'} so callers
    can audit why a page decoded the way it did.  ``sniff_meta=False``
    drops the meta step — correct for NON-HTML bodies (WET extracted
    text), where a literal ``<meta charset=...>`` quoted in prose
    must not hijack the decode."""
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig", "bom"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16", "bom"
    ct = (http_headers or {}).get("content-type", "")
    m = _CHARSET_IN_CT.search(ct)
    if m:
        codec = _lookup(m.group(1))
        if codec:
            return codec, "http-header"
    if sniff_meta:
        m = _CHARSET_IN_META.search(body[:1024])
        if m:
            codec = _lookup(m.group(1).decode("ascii", errors="replace"))
            if codec:
                return codec, "meta"
    return "utf-8", "default"


def decode_body(
    http_headers: dict | None, body: bytes, *,
    sniff_meta: bool = True,
) -> tuple[str, str, bool]:
    """(text, charset, decode_clean): decode an HTTP body honoring the
    charset the page itself declares (header / BOM / meta sniff) —
    hard-coding UTF-8 here silently mojibakes the ISO-8859-x /
    Shift_JIS / GBK / windows-125x share of a real crawl and poisons
    every downstream dedup key and lang-id score.  ``decode_clean`` is
    False when the bytes did not decode strictly under the detected
    charset (decoded with errors='replace' instead), so corpus prep
    can quarantine suspect pages instead of ingesting garble.

    Pages that declare NOTHING (no header, no BOM, no meta — the
    long tail of legacy servers) fall back to the bare-charset probe
    (llm/text_fix.detect_bare_charset) before the replace-decode: an
    undeclared cp1252/GB18030/Shift_JIS page decodes exactly instead
    of shipping U+FFFD-riddled text with a false clean flag."""
    charset, src = detect_charset(http_headers, body,
                                  sniff_meta=sniff_meta)
    try:
        return body.decode(charset), charset, True
    except (UnicodeDecodeError, ValueError):
        pass
    if src == "default":
        from verified_sources_spark.llm.text_fix import (
            detect_bare_charset,
        )

        hit = detect_bare_charset(body)
        if hit is not None:
            probed = hit[0]
            try:
                return body.decode(probed), probed, True
            except (UnicodeDecodeError, ValueError):
                # dirty tail under the PROBED charset: replace-decode
                # with it (falling back to the utf-8 default here
                # would turn a one-bad-byte gb18030 page into
                # wall-to-wall U+FFFD and misreport the charset)
                return (body.decode(probed, errors="replace"),
                        probed, False)
    return body.decode(charset, errors="replace"), charset, False


class _TextExtractor(HTMLParser):
    _SKIP = {"script", "style", "noscript", "template"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.title_parts: list[str] = []
        self._skip_depth = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1
        elif tag == "title":
            self._in_title = False

    def handle_data(self, d):
        if self._in_title:
            self.title_parts.append(d)
        elif not self._skip_depth:
            self.parts.append(d)


def extract_text(html: str, collapse: bool = True) -> tuple[str, str]:
    """(title, text) from an HTML string: script/style dropped,
    entities unescaped.  ``collapse=True`` normalizes runs of
    whitespace to single spaces (the corpus-prep default);
    ``collapse=False`` keeps byte-faithful text for provenance joins."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    title = "".join(p.title_parts)
    text = "".join(p.parts)
    if collapse:
        title = " ".join(title.split())
        text = " ".join(text.split())
    return title, text


# --------------------------------------------------------------- fixtures
def encode_record(
    warc_type: str = "response",
    uri: str = "http://example.com/",
    date: str = "2026-01-01T00:00:00Z",
    record_id: str = "<urn:uuid:0>",
    block: bytes = b"",
    extra_headers: dict | None = None,
) -> bytes:
    hdrs = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", record_id),
        ("WARC-Date", date),
        ("WARC-Target-URI", uri),
        ("Content-Length", str(len(block))),
    ]
    for k, v in (extra_headers or {}).items():
        hdrs.append((k, v))
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in hdrs
    ) + b"\r\n"
    return head + block + b"\r\n\r\n"


def encode_warc(records: list[bytes], gzip_members: bool = False,
                zstd_frames: bool = False) -> bytes:
    """Concatenate records; ``gzip_members=True`` compresses each record
    as its own gzip member (the Common Crawl layout);
    ``zstd_frames=True`` writes one zstd frame per record (the
    .warc.zst layout, minus the dictionary variant)."""
    if gzip_members:
        return b"".join(gzip.compress(r) for r in records)
    if zstd_frames:
        from verified_sources_spark.llm.zstd_system import compress

        return b"".join(compress(r) for r in records)
    return b"".join(records)


def http_response_block(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html",
    chunked: bool = False,
    gzip_body: bool = False,
    encoding: str | None = None,
) -> bytes:
    """Fixture builder.  ``encoding`` picks the Content-Encoding wire
    form: 'gzip' / 'x-gzip' / 'deflate' (RFC 1950 zlib-wrapped) /
    'deflate-raw' (the historical bare-RFC-1951 server bug, declared
    as plain ``deflate``) / 'zstd' (RFC 8878, libzstd seam) / 'br'
    (RFC 7932, libbrotli seam);
    ``gzip_body`` is the legacy spelling of
    encoding='gzip'."""
    if gzip_body:
        encoding = "gzip"
    declared = encoding
    if encoding in ("gzip", "x-gzip"):
        body = gzip.compress(body)
    elif encoding == "deflate":
        body = zlib.compress(body)
    elif encoding == "deflate-raw":
        c = zlib.compressobj(wbits=-zlib.MAX_WBITS)
        body = c.compress(body) + c.flush()
        declared = "deflate"
    elif encoding == "zstd":
        from verified_sources_spark.llm.zstd_system import compress

        body = compress(body)
    elif encoding == "br":
        from verified_sources_spark.llm.brotli_system import compress

        body = compress(body)
    elif encoding is not None:
        raise ValueError(f"fixture encoding {encoding!r} not supported")
    if chunked:
        chunks = []
        pos = 0
        while pos < len(body):
            piece = body[pos : pos + 37]  # odd size: multiple chunks
            chunks.append(f"{len(piece):x}".encode() + b"\r\n" + piece + b"\r\n")
            pos += len(piece)
        payload = b"".join(chunks) + b"0\r\n\r\n"
        head = (f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n"
                f"Transfer-Encoding: chunked\r\n").encode()
    else:
        payload = body
        head = (f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n"
                f"Content-Length: {len(body)}\r\n").encode()
    if declared:
        head += f"Content-Encoding: {declared}\r\n".encode()
    return head + b"\r\n" + payload


WARC_EXTRACT_SCHEMA = "doc_id long, decoded_ok boolean, warc_type string, " \
    "uri string, status int, content_type string, charset string, " \
    "decode_clean boolean, title string, text string"


def warc_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched WARC → text extraction over binary payloads: for
    each archive, parse records, take the first ``response``, split the
    HTTP payload (de-chunk / gunzip as declared) and run the HTML text
    extractor — one ``documents``-shaped row per archive, ready for the
    dedup/quality/lang-id surface.  Payloads never shuffle; a corrupt
    archive yields ``decoded_ok=false`` instead of failing the task (at
    100 TB a crawl WILL contain truncated members)."""
    def run(_id, payload):
        row = {"doc_id": _id, "decoded_ok": False}
        try:
            for hdrs, block in iter_records(bytes(payload)):
                if hdrs.get("WARC-Type") != "response":
                    continue
                status, hh, body = http_payload(block)
                html, charset, clean = decode_body(hh, body)
                title, text = extract_text(html, collapse=False)
                row.update(
                    decoded_ok=True,
                    warc_type="response",
                    uri=hdrs.get("WARC-Target-URI"),
                    status=status,
                    content_type=hh.get("content-type"),
                    charset=charset,
                    decode_clean=clean,
                    title=title,
                    text=text,
                )
                break
        except WarcError:
            pass
        yield row

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, WARC_EXTRACT_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def sniff_warc_flavor(data: bytes) -> str:
    """'wet' / 'wat' / 'warc' from the first non-warcinfo record's
    WARC-Type.  Common Crawl ships three sibling layouts over the SAME
    container: .warc (response/request records), .wet (text extracts as
    ``conversion`` records) and .wat (per-page JSON as ``metadata``
    records) — filenames lie, so the router decides by content.  A
    buffer that parses but never shows a non-warcinfo record, or does
    not parse at all, reports plain 'warc' (the generic surface owns
    the refusal story)."""
    try:
        for hdrs, _block in iter_records(data):
            wtype = hdrs.get("WARC-Type", "")
            if wtype == "warcinfo":
                continue
            if wtype == "conversion":
                return "wet"
            if wtype == "metadata":
                return "wat"
            return "warc"
    except WarcError:
        pass
    return "warc"


WET_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, record_idx int, n_conversion int, "
    "n_skipped int, uri string, refers_to string, charset string, "
    "decode_clean boolean, text string"
)


def wet_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched WET → text rows: one output row per ``conversion``
    record (Common Crawl's extracted-text layout — the single most-used
    crawl-text input for training-data pipelines).  Every other record
    type (warcinfo, request, response, metadata) is counted in
    ``n_skipped`` and never ingested — a WET member's siblings carry
    HTTP envelopes and raw HTML that would poison the text surface.

    Conversion blocks are bare text (no HTTP envelope); the charset
    rides, if anywhere, on the record's own ``Content-Type`` WARC
    header, so decode goes through the same precedence as response
    bodies (BOM → declared charset → bare-charset probe → UTF-8) via
    :func:`decode_body`.  A truncated/corrupt archive yields ONE
    ``decoded_ok=false`` row (isolation, never task failure); a healthy
    archive with zero conversion records — someone fed the response
    flavor to the WET door — also reports ``decoded_ok=false`` with
    its ``n_skipped`` populated rather than silently yielding nothing.

    Reference analogue: the file→loader dispatch at
    /root/reference/sources/unstructured_data/helpers.py:30-63 ingests
    crawl text files by type; this is that front door for the WET
    flavor.  Payloads never shuffle.
    """

    def run(_id, payload):
        base = {"doc_id": _id, "decoded_ok": False}
        try:
            recs = list(iter_records(bytes(payload)))
        except WarcError:
            yield base
            return
        conv = [(h, b) for h, b in recs
                if h.get("WARC-Type") == "conversion"]
        n_skipped = len(recs) - len(conv)
        if not conv:
            yield {**base, "n_conversion": 0, "n_skipped": n_skipped}
            return
        for idx, (hdrs, block) in enumerate(conv):
            ct = hdrs.get("Content-Type", "")
            # sniff_meta=False: WET conversion records are
            # extracted PLAIN TEXT — prose that QUOTES an
            # HTML meta tag must not hijack the charset
            text, charset, clean = decode_body(
                {"content-type": ct} if ct else None, block,
                sniff_meta=False)
            yield {
                "doc_id": _id, "decoded_ok": True,
                "record_idx": idx, "n_conversion": len(conv),
                "n_skipped": n_skipped,
                "uri": hdrs.get("WARC-Target-URI"),
                "refers_to": hdrs.get("WARC-Refers-To"),
                "charset": charset, "decode_clean": clean,
                "text": text}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, WET_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def _jdict(x) -> dict:
    """x if it is a JSON object, else {} — a hostile/mutated WAT payload
    can put a list or scalar at ANY envelope level, and an unguarded
    .get on it would crash the task instead of reporting json fields
    null."""
    return x if isinstance(x, dict) else {}


def wat_payload_fields(block: bytes) -> dict:
    """Typed fields from one WAT ``metadata`` record's JSON payload:
    ``{'json_ok', 'http_status', 'n_links', 'title'}`` along the
    canonical Common Crawl envelope path
    (Envelope → Payload-Metadata → HTTP-Response-Metadata).  Invalid
    JSON or a non-object root reports ``json_ok=False`` with the typed
    fields None; a valid envelope missing any level reports that field
    None — never an exception (this is the per-record unit the fuzz
    battery drives)."""
    import json as _json

    out = {"json_ok": False, "http_status": None, "n_links": None,
           "title": None}
    try:
        doc = _json.loads(block.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return out
    if not isinstance(doc, dict):
        return out
    out["json_ok"] = True
    hr = _jdict(_jdict(_jdict(doc.get("Envelope"))
                       .get("Payload-Metadata"))
                .get("HTTP-Response-Metadata"))
    status = _jdict(hr.get("Response-Message")).get("Status")
    if isinstance(status, (str, int)) and not isinstance(status, bool):
        try:
            v = int(status)
        except ValueError:
            v = None
        # the output schema types http_status as int32; a hostile
        # "4294967296" would otherwise blow up the Arrow batch (task
        # failure) instead of surfacing as a null field
        if v is not None and -(1 << 31) <= v < (1 << 31):
            out["http_status"] = v
    hm = _jdict(hr.get("HTML-Metadata"))
    links = hm.get("Links")
    if isinstance(links, list):
        out["n_links"] = len(links)
    title = _jdict(hm.get("Head")).get("Title")
    if isinstance(title, str):
        out["title"] = title
    return out


WAT_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, record_idx int, n_metadata int, "
    "n_skipped int, uri string, refers_to string, json_ok boolean, "
    "http_status int, n_links int, title string"
)


def wat_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched WAT → metadata rows: one output row per
    ``metadata`` record (Common Crawl's per-page JSON layout).  The
    JSON payload is parsed strictly; the canonical envelope fields —
    HTTP status, outlink count, page title — surface as typed columns
    (``Envelope → Payload-Metadata → HTTP-Response-Metadata``), with
    ``json_ok=false`` (fields null) for records whose payload is not
    valid JSON.  Same isolation story as :func:`wet_extract`: corrupt
    archives yield one ``decoded_ok=false`` row, non-metadata records
    only ever count toward ``n_skipped``."""

    def run(_id, payload):
        base = {"doc_id": _id, "decoded_ok": False}
        try:
            recs = list(iter_records(bytes(payload)))
        except WarcError:
            yield base
            return
        meta = [(h, b) for h, b in recs
                if h.get("WARC-Type") == "metadata"]
        n_skipped = len(recs) - len(meta)
        if not meta:
            yield {**base, "n_metadata": 0, "n_skipped": n_skipped}
            return
        for idx, (hdrs, block) in enumerate(meta):
            yield {
                **base, "doc_id": _id, "decoded_ok": True,
                "record_idx": idx, "n_metadata": len(meta),
                "n_skipped": n_skipped,
                "uri": hdrs.get("WARC-Target-URI"),
                "refers_to": hdrs.get("WARC-Refers-To"),
                **wat_payload_fields(block)}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, WAT_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
