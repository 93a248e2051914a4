"""Pure-stdlib PDF text extraction.

Document corpora are PDF-heavy, and the reference's unstructured_data
source exists precisely to turn local PDFs into queryable fields
(/root/reference/sources/unstructured_data/helpers.py) — this module
is the stdlib reading half of that pipeline: PDF bytes → page text,
which then feeds llm/extract (field Q&A), dedup, quality and
decontamination like any other document.

Scope (everything bounds-checked; anything outside refuses by name):

- Object layer: the full object syntax (dicts, arrays, names with #xx
  escapes, literal strings with \\-escapes + octal, hex strings, refs,
  streams with indirect /Length) discovered by a linear ``N G obj``
  scan — the reconstruction strategy real-world parsers use, so both
  classic-xref and xref-stream files load, including files with
  incremental updates (later definitions of an object win).
- Object streams (/Type/ObjStm): Flate-packed object containers —
  where modern writers put the catalog/page dicts — are expanded.
- Filters: FlateDecode and LZWDecode (TIFF-variant, early change) with
  PNG predictors (/Predictor >= 10, the xref-stream default) and TIFF
  horizontal differencing (/Predictor 2); ASCIIHexDecode,
  ASCII85Decode, RunLengthDecode, and cascades ([/AHx /Fl] etc.).
  CCITTFaxDecode images decode via llm/fax_codec and JBIG2Decode
  images with MMR-coded regions via llm/jbig2 (see below); filters
  with no verifier here (JPXDecode, arithmetic-coded JBIG2) refuse
  loudly WITH THE FILTER NAMED.
- Image XObjects (``extract_pdf_images``/``pdf_images``): DCTDecode
  payloads route through the engine's JPEG decoder, filter-coded raw
  DeviceRGB/DeviceGray samples decode directly — document-borne
  figures join the image-dedup surface via the same 64-bit dHash.
- Text layer: page-tree walk (Pages/Kids/Contents incl. arrays),
  BT..ET runs, Tj / TJ / ' / " show operators, Td/TD/T*/Tm line
  breaks.  Simple-font byte strings decode as Latin-1 (≈PDFDoc
  encoding); encrypted documents (/Encrypt) refuse by name.

``encode_pdf`` writes real single- or multi-page PDFs (classic xref
tables OR cross-reference streams + ObjStm, raw or Flate-compressed
content) so the extractor is exercised by both generations of layout.
"""

from __future__ import annotations

import re
import struct
import zlib

from verified_sources_spark.boundary import map_rows

__all__ = ["PdfError", "extract_pdf_text", "encode_pdf",
           "extract_pdf_images", "pdf_images", "pdf_extract"]


class PdfError(ValueError):
    pass


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                e = d.find(b"\n", self.pos)
                self.pos = n if e < 0 else e + 1
            else:
                return

    def peek_keyword(self) -> str | None:
        save = self.pos
        self._skip_ws()
        m = re.match(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*", self.data[self.pos:])
        if m:
            return m.group(0).decode("latin-1")
        self.pos = save
        return None

    def read_token(self):
        """One syntactic token: returns a tagged tuple."""
        self._skip_ws()
        d = self.data
        p = self.pos
        if p >= len(d):
            return ("eof", None)
        c = d[p]
        if d[p : p + 2] == b"<<":
            self.pos = p + 2
            return ("dict_open", None)
        if d[p : p + 2] == b">>":
            self.pos = p + 2
            return ("dict_close", None)
        if c == 0x5B:  # [
            self.pos = p + 1
            return ("array_open", None)
        if c == 0x5D:
            self.pos = p + 1
            return ("array_close", None)
        if c == 0x2F:  # name
            q = p + 1
            while q < len(d) and d[q] not in _WS and d[q] not in _DELIM:
                q += 1
            raw = d[p + 1 : q]
            raw = re.sub(
                rb"#([0-9A-Fa-f]{2})",
                lambda m: bytes([int(m.group(1), 16)]), raw,
            )
            self.pos = q
            return ("name", raw.decode("latin-1"))
        if c == 0x28:  # literal string
            return ("string", self._literal_string())
        if c == 0x3C:  # hex string
            e = d.find(b">", p)
            if e < 0:
                raise PdfError(f"unterminated hex string at {p}")
            hx = re.sub(rb"\s", b"", d[p + 1 : e])
            if len(hx) % 2:
                hx += b"0"
            self.pos = e + 1
            try:
                return ("string", bytes.fromhex(hx.decode("ascii")))
            except ValueError:
                raise PdfError(f"bad hex string at {p}") from None
        m = re.match(rb"[+-]?(\d+\.\d*|\.\d+|\d+)", d[p:])
        if m:
            self.pos = p + m.end()
            s = m.group(0)
            return ("number", float(s) if b"." in s else int(s))
        m = re.match(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*", d[p:])
        if m:
            self.pos = p + m.end()
            return ("keyword", m.group(0).decode("latin-1"))
        raise PdfError(f"unexpected byte 0x{c:02X} at offset {p}")

    def _literal_string(self) -> bytes:
        d = self.data
        p = self.pos + 1
        out = bytearray()
        depth = 1
        while p < len(d):
            c = d[p]
            if c == 0x5C:  # backslash
                if p + 1 >= len(d):
                    break
                e = d[p + 1]
                p += 2
                mapping = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
                           0x28: 40, 0x29: 41, 0x5C: 92}
                if e in mapping:
                    out.append(mapping[e])
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = chr(e)
                    while (p < len(d) and len(oct_digits) < 3
                           and 0x30 <= d[p] <= 0x37):
                        oct_digits += chr(d[p])
                        p += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    if e == 0x0D and p < len(d) and d[p] == 0x0A:
                        p += 1
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
                p += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = p + 1
                    return bytes(out)
                out.append(c)
                p += 1
            else:
                out.append(c)
                p += 1
        raise PdfError("unterminated literal string")

    def read_object(self):
        """One PDF value (resolving 'N G R' into _Ref)."""
        kind, val = self.read_token()
        if kind == "dict_open":
            out = {}
            while True:
                k, v = self.read_token()
                if k == "dict_close":
                    return out
                if k != "name":
                    raise PdfError(f"dict key must be a name, got {k}")
                out[v] = self.read_object()
        if kind == "array_open":
            out = []
            while True:
                save = self.pos
                k, _v = self.read_token()
                if k == "array_close":
                    return out
                self.pos = save
                out.append(self.read_object())
        if kind == "number":
            # lookahead for "G R" reference form
            save = self.pos
            k2, v2 = self.read_token()
            if k2 == "number":
                k3, v3 = self.read_token()
                if k3 == "keyword" and v3 == "R":
                    return _Ref(int(val))
            self.pos = save
            return val
        if kind == "name":
            return ("name", val)
        if kind == "string":
            return val
        if kind == "keyword":
            if val == "true":
                return True
            if val == "false":
                return False
            if val == "null":
                return None
            raise PdfError(f"unexpected keyword {val!r} in object position")
        raise PdfError(f"unexpected token {kind} in object position")


def _png_unpredict(data: bytes, columns: int, bpp: int = 1) -> bytes:
    """Reverse PNG row filters (the /Predictor>=10 convention used by
    xref streams): one filter byte per row, Up/Sub/Paeth etc.  ``bpp``
    is the PNG bytes-per-pixel — the 'left' offset for Sub/Average/
    Paeth — floor(colors*bpc/8) clamped to 1 (sub-byte samples filter
    at byte granularity per the PNG spec)."""
    rowlen = columns
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos < len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        if len(row) < rowlen:
            raise PdfError("truncated predictor row")
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b, c = prev[i], (prev[i - bpp] if i >= bpp else 0)
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        else:
            raise PdfError(f"unknown PNG predictor filter {ft}")
        out += row
        prev = row
        pos += 1 + rowlen
    return bytes(out)


def _ahx_decode(raw: bytes) -> bytes:
    """ASCIIHexDecode: hex pairs, whitespace ignored, ``>`` is EOD, an
    odd trailing digit is padded with 0 (ISO 32000-1 §7.4.2)."""
    end = raw.find(b">")
    if end >= 0:
        raw = raw[:end]
    hx = bytes(c for c in raw if c not in b" \t\r\n\f\x00")
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfError(f"bad ASCIIHex stream: {e}") from None


def _a85_decode(raw: bytes) -> bytes:
    """ASCII85Decode: base-85 groups, ``z`` for four zero bytes,
    ``~>`` EOD, whitespace ignored, partial final group (§7.4.3)."""
    end = raw.find(b"~>")
    if end >= 0:
        raw = raw[:end]
    if raw.startswith(b"<~"):
        raw = raw[2:]
    out = bytearray()
    group: list[int] = []
    for c in raw:
        if c in b" \t\r\n\f\x00":
            continue
        if c == 0x7A:  # 'z'
            if group:
                raise PdfError("bad ASCII85 stream: z inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise PdfError(f"bad ASCII85 stream: byte 0x{c:02x}")
        group.append(c - 0x21)
        if len(group) == 5:
            acc = 0
            for g in group:
                acc = acc * 85 + g
            if acc > 0xFFFFFFFF:
                raise PdfError("bad ASCII85 stream: group overflow")
            out += acc.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise PdfError("bad ASCII85 stream: lone trailing digit")
        n = len(group)
        acc = 0
        for g in group + [84] * (5 - n):
            acc = acc * 85 + g
        out += acc.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _rl_decode(raw: bytes) -> bytes:
    """RunLengthDecode: length byte 0-127 copies L+1 literals,
    129-255 repeats the next byte 257-L times, 128 is EOD (§7.4.5)."""
    out = bytearray()
    pos = 0
    while pos < len(raw):
        l = raw[pos]
        pos += 1
        if l == 128:
            return bytes(out)
        if l < 128:
            chunk = raw[pos : pos + l + 1]
            if len(chunk) < l + 1:
                raise PdfError("truncated RunLength literal run")
            out += chunk
            pos += l + 1
        else:
            if pos >= len(raw):
                raise PdfError("truncated RunLength repeat run")
            out += bytes([raw[pos]]) * (257 - l)
            pos += 1
    return bytes(out)  # tolerated: EOD omitted by some writers


def _apply_predictor(pm, raw: bytes) -> bytes:
    if not isinstance(pm, dict):
        return raw
    pred = pm.get("Predictor", 1)
    colors = int(pm.get("Colors", 1))
    bpc = int(pm.get("BitsPerComponent", 8))
    columns = int(pm.get("Columns", 1))
    if pred == 1:
        return raw
    if pred >= 10:
        # PNG predictors; row stride is CEIL of the bit width (a 1-bit
        # image with Columns not a multiple of 8 still pads each row to
        # a byte boundary — the PNG/PDF row-stride definition)
        return _png_unpredict(raw, (columns * colors * bpc + 7) // 8,
                              max(1, colors * bpc // 8))
    if pred == 2 and bpc == 8:
        # TIFF horizontal differencing
        row_w = columns * colors
        out = bytearray(raw)
        for r0 in range(0, len(out) - row_w + 1, row_w):
            for i in range(r0 + colors, r0 + row_w):
                out[i] = (out[i] + out[i - colors]) & 0xFF
        return bytes(out)
    raise PdfError(f"unsupported /Predictor {pred} — refusing by name")


def _apply_filters(d: dict, raw: bytes) -> bytes:
    filt = d.get("Filter")
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    parms = d.get("DecodeParms")
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    for f, pm in zip(filters, parms_list):
        name = f[1] if isinstance(f, tuple) else f
        if name in ("FlateDecode", "Fl"):
            try:
                raw = zlib.decompress(raw)
            except zlib.error as e:
                raise PdfError(f"bad Flate stream: {e}") from None
            raw = _apply_predictor(pm, raw)
        elif name in ("LZWDecode", "LZW"):
            # PDF LZW IS the TIFF variant: MSB packing + early change
            # (EarlyChange 0 is legal but unseen in the wild; refuse)
            if isinstance(pm, dict) and pm.get("EarlyChange", 1) == 0:
                raise PdfError("LZW EarlyChange 0 — refusing by name")
            from verified_sources_spark.llm.tiff_codec import (
                TiffError, _lzw_decode,
            )
            try:
                raw = _lzw_decode(raw)
            except TiffError as e:
                raise PdfError(f"bad LZW stream: {e}") from None
            raw = _apply_predictor(pm, raw)
        elif name in ("ASCIIHexDecode", "AHx"):
            raw = _ahx_decode(raw)
        elif name in ("ASCII85Decode", "A85"):
            raw = _a85_decode(raw)
        elif name in ("RunLengthDecode", "RL"):
            raw = _rl_decode(raw)
        else:
            raise PdfError(
                f"cannot decode /{name} stream "
                f"(Flate/LZW/AHx/A85/RL only); refusing by name"
            )
    return raw


_HEX_TOK = re.compile(rb"<([0-9A-Fa-f\s]*)>|\[|\]")


def _parse_cmap(data: bytes) -> tuple[dict[int, str], int | None]:
    """(code → text, code byte width) from a /ToUnicode CMap stream:
    ``bfchar`` pairs, ``bfrange`` in both the incrementing-destination
    and array-of-destinations forms, code width from the
    ``codespacerange`` (None if the CMap declares none).  Destination
    hex is UTF-16BE, possibly multi-unit (ligatures map one CID to
    several chars; astral chars arrive as surrogate pairs)."""
    def clean(tok: bytes) -> bytes:
        return re.sub(rb"\s", b"", tok)

    def dst_text(hx: bytes) -> str:
        raw = bytes.fromhex(clean(hx).decode("ascii"))
        return raw.decode("utf-16-be", errors="replace")

    width = None
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if m:
        first = re.search(rb"<([0-9A-Fa-f\s]*)>", m.group(1))
        if first:
            width = max(1, len(clean(first.group(1))) // 2)
    out: dict[int, str] = {}
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f\s]*)>", m.group(1))
        for i in range(0, len(toks) - 1, 2):
            out[int(clean(toks[i]), 16)] = dst_text(toks[i + 1])
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        seq = [t.group(0) for t in _HEX_TOK.finditer(m.group(1))]
        i = 0
        while i + 1 < len(seq):
            if seq[i] in (b"[", b"]"):
                i += 1
                continue
            lo = int(clean(seq[i][1:-1]), 16)
            hi = int(clean(seq[i + 1][1:-1]), 16)
            if hi < lo or hi - lo > 0xFFFF:
                raise PdfError(f"malformed bfrange {lo:#x}..{hi:#x}")
            if i + 2 < len(seq) and seq[i + 2] == b"[":
                j = i + 3
                dsts = []
                while j < len(seq) and seq[j] != b"]":
                    dsts.append(dst_text(seq[j][1:-1]))
                    j += 1
                for k in range(min(hi - lo + 1, len(dsts))):
                    out[lo + k] = dsts[k]
                i = j + 1
            else:
                base = clean(seq[i + 2][1:-1])
                nbytes = max(1, len(base) // 2)
                start = int(base, 16)
                for k in range(hi - lo + 1):
                    raw = (start + k).to_bytes(nbytes, "big")
                    out[lo + k] = raw.decode(
                        "utf-16-be" if nbytes % 2 == 0 else "latin-1",
                        errors="replace",
                    )
                i += 3
    return out, width


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _load_objects(data: bytes) -> dict[int, object]:
    """All indirect objects by linear scan (later definitions win —
    incremental-update semantics), streams resolved, ObjStm expanded."""
    if not data.startswith(b"%PDF-"):
        raise PdfError("not a PDF payload (missing %PDF header)")
    # spans of stream payloads: an "N G obj" byte pattern INSIDE
    # compressed stream data is noise and must not clobber a real
    # object.  Direct /Length spans are known in one pass (a stream's
    # header precedes its payload); an INDIRECT /Length only resolves
    # once other objects are loaded, so grow the span set to a fixed
    # point, re-deriving the object map each round — otherwise a byte
    # pattern inside an indirect-/Length stream clobbers real objects
    # under later-definition-wins.
    candidates: list[tuple[int, int, int, object, int | None]] = []
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        gen = int(m.group(2))
        lex = _Lexer(data, m.end())
        try:
            val = lex.read_object()
        except PdfError:
            continue  # a false 'obj' hit in unparseable surroundings
        sstart = None
        if lex.peek_keyword() == "stream" and isinstance(val, dict):
            p = data.find(b"stream", lex.pos) + 6
            if data[p : p + 2] == b"\r\n":
                p += 2
            elif data[p : p + 1] == b"\n":
                p += 1
            sstart = p
        candidates.append((m.start(), num, gen, val, sstart))

    spans: set[tuple[int, int]] = set()
    objects: dict[int, object] = {}
    gens: dict[int, int] = {}
    streams: dict[int, tuple[dict, int]] = {}  # num -> (dict, raw_start)
    while True:
        objects = {}
        gens = {}
        streams = {}
        for pos, num, gen, val, sstart in candidates:
            if any(a <= pos < b for a, b in spans):
                continue
            objects[num] = val
            gens[num] = gen
            if sstart is not None:
                streams[num] = (val, sstart)
        if not objects:
            raise PdfError("no indirect objects found")
        grew = False
        for num, (d, start) in streams.items():
            length = d.get("Length")
            if isinstance(length, _Ref):
                length = objects.get(length.num)
            if isinstance(length, (int, float)):
                span = (start, start + int(length))
                if span not in spans:
                    spans.add(span)
                    grew = True
        if not grew:
            break

    def resolve(v):
        return objects.get(v.num) if isinstance(v, _Ref) else v

    # attach stream payloads now that /Length refs can resolve
    for num, (d, start) in streams.items():
        length = resolve(d.get("Length"))
        if not isinstance(length, (int, float)):
            raise PdfError(f"stream {num} has unresolvable /Length")
        raw = data[start : start + int(length)]
        if len(raw) < int(length):
            raise PdfError(f"truncated stream object {num}")
        objects[num] = ("stream", d, raw)

    # encryption: if any trailer (classic or xref-stream dict) carries
    # /Encrypt, derive the file key for the EMPTY user password (the
    # common owner-password-only case) and decrypt strings + stream
    # payloads in place BEFORE ObjStm expansion; non-empty passwords
    # and unsupported handlers refuse by name via PdfCryptError
    enc_ref = None
    id0 = b""
    trailer_dicts: list[dict] = []
    for m in re.finditer(rb"trailer\b", data):
        try:
            t = _Lexer(data, m.end()).read_object()
            if isinstance(t, dict):
                trailer_dicts.append(t)
        except PdfError:
            pass
    trailer_dicts += [
        v[1] for v in objects.values()
        if isinstance(v, tuple) and v[0] == "stream"
        and v[1].get("Type") == ("name", "XRef")
    ]
    for t in trailer_dicts:
        if "Encrypt" in t:
            enc_ref = t["Encrypt"]
            tid = resolve(t.get("ID"))
            if isinstance(tid, list) and tid and isinstance(tid[0], bytes):
                id0 = tid[0]
    if enc_ref is not None:
        from verified_sources_spark.llm.pdf_crypt import (
            PdfCryptError, decrypt_bytes, derive_key,
        )

        enc_num = enc_ref.num if isinstance(enc_ref, _Ref) else None
        enc = resolve(enc_ref)
        if not isinstance(enc, dict):
            raise PdfError("encrypted PDF with unresolvable /Encrypt "
                           "— refusing by name")
        try:
            file_key, method = derive_key(enc, id0, resolve)
        except PdfCryptError as e:
            raise PdfError(str(e)) from None

        def dec_val(v, num, gen):
            if isinstance(v, bytes):
                try:
                    return decrypt_bytes(file_key, method, num, gen, v)
                except PdfCryptError as e:
                    raise PdfError(
                        f"object {num}: {e}") from None
            if isinstance(v, dict):
                return {k: dec_val(x, num, gen) for k, x in v.items()}
            if isinstance(v, list):
                return [dec_val(x, num, gen) for x in v]
            return v

        for num, v in list(objects.items()):
            if num == enc_num:
                continue  # /O /U etc. are stored in the clear
            gen = gens.get(num, 0)
            if isinstance(v, tuple) and v[0] == "stream":
                d = dec_val(v[1], num, gen)
                # cross-reference streams are never encrypted
                if d.get("Type") == ("name", "XRef"):
                    objects[num] = ("stream", d, v[2])
                    continue
                try:
                    raw = decrypt_bytes(file_key, method, num, gen, v[2])
                except PdfCryptError as e:
                    raise PdfError(f"stream {num}: {e}") from None
                objects[num] = ("stream", d, raw)
            else:
                objects[num] = dec_val(v, num, gen)

    # expand object streams
    for num, v in list(objects.items()):
        if (isinstance(v, tuple) and v[0] == "stream"
                and v[1].get("Type") == ("name", "ObjStm")):
            d = v[1]
            payload = _apply_filters(d, v[2])
            n = int(resolve(d.get("N", 0)))
            first = int(resolve(d.get("First", 0)))
            hlex = _Lexer(payload)
            pairs = []
            for _ in range(n):
                k1, onum = hlex.read_token()
                k2, ooff = hlex.read_token()
                if k1 != "number" or k2 != "number":
                    raise PdfError(f"malformed ObjStm header in {num}")
                pairs.append((int(onum), int(ooff)))
            for onum, ooff in pairs:
                olex = _Lexer(payload, first + ooff)
                objects[onum] = olex.read_object()
    return objects


def _extract_content_text(content: bytes, fonts: dict | None = None) -> str:
    """Walk one page's content stream: BT..ET text runs, show
    operators, line-move operators → newlines.  ``fonts`` maps resource
    names (from ``Tf``) to string decoders — CID/Type0 fonts route
    2-byte codes through their /ToUnicode CMap; simple fonts with a
    CMap map per byte; everything else reads latin-1 as before."""
    lex = _Lexer(content)
    out: list[str] = []
    stack: list = []
    in_text = False
    line_open = False
    decoder = None

    def show(s: bytes):
        nonlocal line_open
        out.append(decoder(s) if decoder else s.decode("latin-1"))
        line_open = True

    def newline():
        nonlocal line_open
        if line_open:
            out.append("\n")
            line_open = False

    while True:
        try:
            save = lex.pos
            kind, val = lex.read_token()
        except PdfError:
            break
        if kind == "eof":
            break
        if kind == "keyword":
            op = val
            if op == "BT":
                in_text = True
                stack.clear()
            elif op == "ET":
                in_text = False
                newline()
                stack.clear()
            elif op == "Tf":
                # font selection is honored inside AND outside BT..ET
                if (fonts and len(stack) >= 2
                        and isinstance(stack[-2], tuple)
                        and stack[-2][0] == "name"):
                    decoder = fonts.get(stack[-2][1])
                stack.clear()
            elif not in_text:
                stack.clear()
            elif op == "Tj":
                if stack and isinstance(stack[-1], bytes):
                    show(stack[-1])
                stack.clear()
            elif op == "TJ":
                if stack and isinstance(stack[-1], list):
                    for item in stack[-1]:
                        if isinstance(item, bytes):
                            show(item)
                stack.clear()
            elif op in ("'", '"'):
                newline()
                if stack and isinstance(stack[-1], bytes):
                    show(stack[-1])
                stack.clear()
            elif op in ("Td", "TD", "T*", "Tm"):
                # vertical movement ends the current line
                if op == "T*":
                    newline()
                elif op in ("Td", "TD") and len(stack) >= 2:
                    ty = stack[-1]
                    if isinstance(ty, (int, float)) and ty != 0:
                        newline()
                elif op == "Tm" and len(stack) >= 6:
                    newline()
                stack.clear()
            else:
                stack.clear()
        else:
            lex.pos = save
            try:
                stack.append(lex.read_object())
            except PdfError:
                lex.pos = save
                lex.read_token()
    return "".join(out)


def extract_pdf_text(data: bytes) -> dict:
    """{n_pages, pages: [str], text} — text per page from the page
    tree, pages joined by form feeds.  Encrypted files with an EMPTY
    user password (the common owner-password-only case) decrypt
    through llm/pdf_crypt inside the object loader; password-protected
    or unsupported-handler files refuse by name."""
    objects = _load_objects(data)

    def resolve(v):
        seen = 0
        while isinstance(v, _Ref):
            v = objects.get(v.num)
            seen += 1
            if seen > 32:
                raise PdfError("reference cycle")
        return v

    # page tree: find the catalog, else any /Type /Page objects in order
    pages: list[dict] = []
    catalog = next(
        (v for v in objects.values()
         if isinstance(v, dict) and v.get("Type") == ("name", "Catalog")),
        None,
    )

    def walk(node):
        node = resolve(node)
        if not isinstance(node, dict):
            return
        t = node.get("Type")
        if t == ("name", "Page"):
            pages.append(node)
        elif t == ("name", "Pages"):
            for kid in resolve(node.get("Kids", [])) or []:
                walk(kid)

    if catalog is not None:
        walk(catalog.get("Pages"))
    if not pages:
        pages = [v for k, v in sorted(objects.items())
                 if isinstance(v, dict) and v.get("Type") == ("name", "Page")]
    if not pages:
        raise PdfError("no pages found (no /Type /Page objects)")

    def font_decoder(font):
        """A bytes→str decoder for one font dict, or None for plain
        latin-1.  Type0 (CID) fonts map code chunks through their
        /ToUnicode CMap; a Type0 WITHOUT /ToUnicode gets a decoder
        that refuses by name ON USE — its raw bytes are CIDs, and
        emitting them as text would be silent garble."""
        font = resolve(font)
        if not isinstance(font, dict):
            return None
        sub = font.get("Subtype")
        sub = sub[1] if isinstance(sub, tuple) else None
        cmap = width = None
        tou = resolve(font.get("ToUnicode"))
        if isinstance(tou, tuple) and tou[0] == "stream":
            cmap, width = _parse_cmap(_apply_filters(tou[1], tou[2]))
        if sub == "Type0":
            if cmap is None:
                bf = font.get("BaseFont")
                bf = bf[1] if isinstance(bf, tuple) else "?"

                def refuse(_s, _bf=bf):
                    raise PdfError(
                        f"CID font {_bf} (Type0) without /ToUnicode — "
                        f"cannot map CIDs to text; refusing by name"
                    )

                return refuse
            w = width or 2  # Identity-H default: 2-byte codes

            def dec(s, _cmap=cmap, _w=w):
                return "".join(
                    _cmap.get(int.from_bytes(s[i : i + _w], "big"),
                              "�")
                    for i in range(0, len(s) - _w + 1, _w)
                )

            return dec
        if cmap is not None:  # simple font with an explicit CMap
            return lambda s, _cmap=cmap: "".join(
                _cmap.get(b, chr(b)) for b in s
            )
        return None

    texts = []
    for pg in pages:
        fonts = {}
        res = resolve(pg.get("Resources"))
        if isinstance(res, dict):
            fdict = resolve(res.get("Font"))
            if isinstance(fdict, dict):
                fonts = {name: font_decoder(f) for name, f in fdict.items()}
        contents = resolve(pg.get("Contents"))
        parts = contents if isinstance(contents, list) else [contents]
        buf = bytearray()
        for part in parts:
            part = resolve(part)
            if isinstance(part, tuple) and part[0] == "stream":
                buf += _apply_filters(part[1], part[2])
                buf += b"\n"
        texts.append(
            _extract_content_text(bytes(buf), fonts).rstrip("\n"))
    return {"n_pages": len(pages), "pages": texts, "text": "\f".join(texts)}


# --------------------------------------------------------------- fixtures
def _esc(s: str) -> bytes:
    return (s.replace("\\", "\\\\").replace("(", "\\(")
            .replace(")", "\\)").encode("latin-1"))


def _rl_encode(data: bytes) -> bytes:
    """Fixture-side RunLength packer (runs of >=3 packed, literals
    chunked at 128, EOD byte appended)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        j = i
        while j < n - 1 and j - i < 127 and data[j] == data[j + 1]:
            j += 1
        if j > i:
            run = j - i + 1
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            k = i
            while k < n and k - i < 128:
                if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out += data[i:k]
            i = k
    out.append(128)
    return bytes(out)


_FILTER_NAMES = {
    "flate": b"/FlateDecode", "lzw": b"/LZWDecode",
    "ahx": b"/ASCIIHexDecode", "a85": b"/ASCII85Decode",
    "rl": b"/RunLengthDecode",
}


def _filter_encode(content: bytes, spec: str) -> tuple[bytes, bytes]:
    """Apply a ``+``-separated filter chain to ``content`` and return
    (the /Filter clause, payload).  The /Filter array lists decode
    order — the REVERSE of application order."""
    import base64

    applied = []
    for step in spec.split("+"):
        if step == "flate":
            content = zlib.compress(content)
        elif step == "lzw":
            from verified_sources_spark.llm.tiff_codec import _lzw_encode
            content = _lzw_encode(content)
        elif step == "ahx":
            content = content.hex().encode() + b">"
        elif step == "a85":
            content = base64.a85encode(content) + b"~>"
        elif step == "rl":
            content = _rl_encode(content)
        else:
            raise ValueError(f"unknown fixture filter {step!r}")
        applied.append(_FILTER_NAMES[step])
    names = list(reversed(applied))
    clause = (b"/Filter " + names[0] if len(names) == 1
              else b"/Filter [" + b" ".join(names) + b"]")
    return clause, content


def encode_pdf(
    pages: list[list[str]],
    compress: bool = False,
    xref_stream: bool = False,
    tj_arrays: bool = False,
    cid_font: bool = False,
    content_filter: str | None = None,
    image: dict | None = None,
    encrypt: str | None = None,
) -> bytes:
    """A real PDF: one content stream per page (each inner list entry a
    text line), classic xref table or PDF-1.5 cross-reference stream
    with the document dicts packed into an ObjStm; optional Flate
    content; ``tj_arrays`` shows each line via TJ with split strings
    instead of Tj.  ``cid_font`` switches the font to a composite
    Type0/Identity-H whose text is shown as 2-byte CID hex strings and
    recovered only through a generated /ToUnicode CMap (array-form
    bfrange for the first codes + bfchar for the rest) — the modern
    PDF layout where a latin-1 walk would emit raw CIDs.

    ``content_filter`` applies a ``+``-chain of stream filters to the
    content streams ('flate', 'lzw', 'ahx', 'a85', 'rl', or e.g.
    'flate+ahx' — applied left-to-right, /Filter array in decode
    order); ``compress=True`` is shorthand for 'flate'.  ``image``
    embeds one image XObject drawn on page 1: ``{"width", "height",
    "data", "pdf_filter": "DCTDecode"|"FlateDecode", "colorspace":
    "DeviceRGB"|"DeviceGray"}`` with ``data`` already filter-encoded
    (a raw JPEG for DCTDecode, zlib-compressed samples for
    FlateDecode).

    ``encrypt`` writes a REAL empty-user/owner-password encrypted file
    through llm/pdf_crypt (classic-xref layout only): 'rc4-40' (R2),
    'rc4-128' (R3), 'aesv2' (R4) or 'aes256' (R6) — every stream
    payload encrypted with its per-object key, /Encrypt + /ID in the
    trailer."""
    if content_filter is None and compress:
        content_filter = "flate"
    if encrypt and xref_stream:
        raise PdfError("fixture encryption supports classic xref only")
    objs: dict[int, bytes] = {}
    n_pages = len(pages)
    page_ids = [4 + 2 * i for i in range(n_pages)]
    content_ids = [5 + 2 * i for i in range(n_pages)]

    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    kids = b" ".join(f"{pid} 0 R".encode() for pid in page_ids)
    objs[2] = (b"<< /Type /Pages /Kids [" + kids
               + f"] /Count {n_pages} >>".encode())
    stream_objs = {}
    code_of: dict[str, int] = {}
    if cid_font:
        tounicode_id = 4 + 2 * n_pages
        chars = sorted({ch for lines in pages for line in lines
                        for ch in line})
        code_of = {ch: i + 1 for i, ch in enumerate(chars)}

        def hx(ch: str) -> bytes:
            return b"<" + ch.encode("utf-16-be").hex().encode() + b">"

        cmap = [b"/CIDInit /ProcSet findresource begin\n"
                b"12 dict begin\nbegincmap\n"
                b"1 begincodespacerange\n<0000> <FFFF>\n"
                b"endcodespacerange\n"]
        k = min(3, len(chars))
        if k:
            ents = b" ".join(hx(c) for c in chars[:k])
            cmap.append(b"1 beginbfrange\n<%04x> <%04x> [%s]\n"
                        b"endbfrange\n" % (1, k, ents))
        rest = chars[k:]
        if rest:
            cmap.append(b"%d beginbfchar\n" % len(rest))
            for i, c in enumerate(rest):
                cmap.append(b"<%04x> %s\n" % (k + 1 + i, hx(c)))
            cmap.append(b"endbfchar\n")
        cmap.append(b"endcmap\nend\nend\n")
        cmap_bytes = b"".join(cmap)
        stream_objs[tounicode_id] = (
            f"<< /Length {len(cmap_bytes)} >>".encode(), cmap_bytes)
        objs[3] = (b"<< /Type /Font /Subtype /Type0 /BaseFont "
                   b"/Probe-Identity /Encoding /Identity-H /ToUnicode "
                   + f"{tounicode_id} 0 R >>".encode())
    else:
        objs[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                   b"/Encoding /WinAnsiEncoding >>")
    for i, lines in enumerate(pages):
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for j, line in enumerate(lines):
            if j > 0:
                ops.append(b"0 -14 Td")
            if cid_font:
                codes = b"".join(b"%04x" % code_of[ch] for ch in line)
                ops.append(b"<" + codes + b"> Tj")
            elif tj_arrays and len(line) > 1:
                cut = len(line) // 2
                ops.append(b"[(" + _esc(line[:cut]) + b") -250 ("
                           + _esc(line[cut:]) + b")] TJ")
            else:
                ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        if image is not None and i == 0:
            ops.append(b"q %d 0 0 %d 100 100 cm /Im1 Do Q"
                       % (image["width"], image["height"]))
        content = b"\n".join(ops)
        if content_filter:
            clause, payload = _filter_encode(content, content_filter)
            stream_objs[content_ids[i]] = (
                b"<< /Length %d %s >>" % (len(payload), clause), payload)
        else:
            stream_objs[content_ids[i]] = (
                f"<< /Length {len(content)} >>".encode(), content)
        xobj = (f"/XObject << /Im1 {5 + 2 * n_pages} 0 R >> "
                if image is not None else "")
        objs[page_ids[i]] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> {xobj}>> "
            f"/Contents {content_ids[i]} 0 R >>".encode())

    if image is not None:
        img_id = 5 + 2 * n_pages
        cs = image.get("colorspace", "DeviceRGB")
        bpc = image.get("bpc", 8)
        parms = image.get("decode_parms", "")
        parms = f"/DecodeParms {parms} " if parms else ""
        stream_objs[img_id] = (
            (f"<< /Type /XObject /Subtype /Image /Width {image['width']} "
             f"/Height {image['height']} /ColorSpace /{cs} "
             f"/BitsPerComponent {bpc} /Filter /{image['pdf_filter']} "
             f"{parms}"
             f"/Length {len(image['data'])} >>").encode(),
            image["data"])

    encrypt_trailer = b""
    if encrypt:
        import hashlib as _hl

        from verified_sources_spark.llm.pdf_crypt import (
            build_encryption, encrypt_bytes,
        )

        id0 = _hl.md5(b"fixture-id" + str(n_pages).encode()
                      + encrypt.encode()).digest()
        ent, fkey, method = build_encryption(encrypt, id0)
        enc_num = max(set(objs) | set(stream_objs)) + 1
        for num in list(stream_objs):
            d, payload = stream_objs[num]
            ct = encrypt_bytes(fkey, method, num, 0, payload)
            d = re.sub(rb"/Length \d+", b"/Length %d" % len(ct), d,
                       count=1)
            stream_objs[num] = (d, ct)
        parts = ["/Filter /Standard"]
        for k, v in ent.items():
            if k in ("O", "U", "OE", "UE", "Perms"):
                parts.append(f"/{k} <{v}>")
            else:
                parts.append(f"/{k} {v}")
        objs[enc_num] = ("<< " + " ".join(parts) + " >>").encode()
        encrypt_trailer = (
            f" /Encrypt {enc_num} 0 R "
            f"/ID [<{id0.hex()}> <{id0.hex()}>]").encode()

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}

    if not xref_stream:
        for num in sorted(set(objs) | set(stream_objs)):
            offsets[num] = len(out)
            if num in stream_objs:
                d, payload = stream_objs[num]
                out += (f"{num} 0 obj\n".encode() + d + b"\nstream\n"
                        + payload + b"\nendstream\nendobj\n")
            else:
                out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
        xref_pos = len(out)
        maxnum = max(offsets)
        out += f"xref\n0 {maxnum + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for num in range(1, maxnum + 1):
            out += f"{offsets.get(num, 0):010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {maxnum + 1} /Root 1 0 R".encode()
                + encrypt_trailer + b" >>\n"
                + f"startxref\n{xref_pos}\n%%EOF\n".encode())
        return bytes(out)

    # PDF-1.5 layout: dict objects packed into an ObjStm, xref stream
    objstm_num = max(max(objs), max(stream_objs)) + 1
    xref_num = objstm_num + 1
    packed = sorted(objs.items())
    header = []
    body = bytearray()
    for num, payload in packed:
        header.append(f"{num} {len(body)}")
        body += payload + b"\n"
    head = (" ".join(header) + "\n").encode()
    objstm_payload = zlib.compress(head + body)
    # in-stream objects keep their numbers; type-2 xref entries point at
    # (objstm_num, index)
    for num in sorted(stream_objs):
        offsets[num] = len(out)
        d, payload = stream_objs[num]
        out += (f"{num} 0 obj\n".encode() + d + b"\nstream\n"
                + payload + b"\nendstream\nendobj\n")
    offsets[objstm_num] = len(out)
    out += (f"{objstm_num} 0 obj\n"
            f"<< /Type /ObjStm /N {len(packed)} /First {len(head)} "
            f"/Length {len(objstm_payload)} /Filter /FlateDecode >>\n"
            .encode() + b"stream\n" + objstm_payload
            + b"\nendstream\nendobj\n")
    xref_pos = len(out)
    offsets[xref_num] = xref_pos  # the xref stream indexes itself too
    maxnum = xref_num
    rows = bytearray()
    w = (1, 4, 2)
    for num in range(maxnum + 1):
        if num == 0:
            t, f2, f3 = 0, 0, 0xFFFF
        elif num in offsets:
            t, f2, f3 = 1, offsets[num], 0
        else:
            idx = next(i for i, (n2, _o) in enumerate(packed) if n2 == num)
            t, f2, f3 = 2, objstm_num, idx
        rows += bytes([t]) + struct.pack(">I", f2) + struct.pack(">H", f3)
    # PNG Up-predictor over the rows (the wild's default layout)
    cols = sum(w)
    pred = bytearray()
    prev = bytes(cols)
    for i in range(0, len(rows), cols):
        row = rows[i : i + cols]
        pred.append(2)
        pred += bytes((row[j] - prev[j]) & 0xFF for j in range(cols))
        prev = row
    xref_payload = zlib.compress(bytes(pred))
    out += (f"{xref_num} 0 obj\n"
            f"<< /Type /XRef /Size {maxnum + 1} /W [1 4 2] "
            f"/Root 1 0 R /Filter /FlateDecode "
            f"/DecodeParms << /Predictor 12 /Columns {cols} >> "
            f"/Length {len(xref_payload)} >>\n".encode()
            + b"stream\n" + xref_payload + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)


PDF_EXTRACT_SCHEMA = "doc_id long, decoded_ok boolean, n_pages int, text string"


def pdf_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched PDF → text over binary payloads: one
    ``documents``-shaped row per file, ready for the text-operator
    surface (and for llm/extract field Q&A — the reference's
    unstructured_data pipeline shape).  Payloads never shuffle; a
    corrupt or refused (encrypted / exotic-filter) file isolates as
    ``decoded_ok=false``."""
    def run(_id, payload):
        try:
            out = extract_pdf_text(bytes(payload))
            yield {"doc_id": _id, "decoded_ok": True,
                   "n_pages": out["n_pages"],
                   "text": out["text"]}
        except PdfError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, PDF_EXTRACT_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


# fax white/black runs → 8-bit gray (black ink = 0)
_CCITT_GRAY = bytes(0 if b else 255 for b in range(256))


def extract_pdf_images(data: bytes) -> list[dict]:
    """Embedded image XObjects → decoded pixels, in object order: the
    cross-modal bridge that lets document-borne images join the
    image-dedup surface (a figure shipped inside a PDF dedups against
    its standalone twin).  DCTDecode payloads ARE JPEG files and route
    through the engine's own JPEG decoder; Flate/LZW/AHx/A85/RL-coded
    raw samples decode through the standard filter chain.  DeviceGray
    expands to RGB so every image lands in the common
    ``{width, height, mode, pixels}`` contract; CCITTFaxDecode scans
    (K=0 1D, K>0 mixed 1D/2D and K<0 G4 — the scanned-document layer)
    decode through llm/fax_codec; JBIG2Decode pages with MMR-coded
    generic regions (the T.6 share of JBIG2, T.88 §6.2.5.7) decode
    through llm/jbig2 and land as 1=black bilevel like CCITT.
    Unsupported colorspaces and filters (JPX, arithmetic-coded JBIG2)
    refuse by name."""
    objects = _load_objects(data)

    def resolve(v):
        return objects.get(v.num) if isinstance(v, _Ref) else v

    images = []
    for num in sorted(objects):
        v = objects[num]
        if not (isinstance(v, tuple) and v[0] == "stream"):
            continue
        d = v[1]
        if d.get("Subtype") != ("name", "Image"):
            continue
        w = int(resolve(d.get("Width", 0)))
        h = int(resolve(d.get("Height", 0)))
        if w <= 0 or h <= 0:
            raise PdfError(f"image XObject {num} has bad dimensions")
        bpc = int(resolve(d.get("BitsPerComponent", 8)))
        filt = d.get("Filter")
        fname = filt[1] if isinstance(filt, tuple) else filt
        cs = resolve(d.get("ColorSpace"))
        csname = cs[1] if isinstance(cs, tuple) else cs
        if fname == "DCTDecode":
            from verified_sources_spark.llm.jpeg_codec import decode
            try:
                im = decode(v[2])
            except Exception as e:
                raise PdfError(f"bad DCTDecode image {num}: {e}") from None
            if (im["width"], im["height"]) != (w, h):
                raise PdfError(
                    f"image {num}: JPEG dims {im['width']}x{im['height']} "
                    f"disagree with /Width /Height {w}x{h}")
            images.append({"width": w, "height": h, "mode": im["mode"],
                           "pixels": im["pixels"], "codec": "dct"})
            continue
        if fname == "CCITTFaxDecode":
            from verified_sources_spark.llm import fax_codec as _fax

            pm = d.get("DecodeParms")
            pm = pm if isinstance(pm, dict) else {}
            k = int(resolve(pm.get("K", 0)))
            cols = int(resolve(pm.get("Columns", 1728)))
            if cols != w:
                raise PdfError(
                    f"image {num}: CCITT /Columns {cols} != /Width {w}")
            nrows = int(resolve(pm.get("Rows", 0))) or h
            aligned = bool(resolve(pm.get("EncodedByteAlign", False)))
            try:
                if k < 0:
                    rows = _fax.decode_g4(v[2], cols, nrows,
                                          byte_align=aligned)
                elif k == 0:
                    # byte-aligned 1D == TIFF MH-RLE; otherwise rows run
                    # back-to-back with optional EOL framing
                    rows = (_fax.decode_rle(v[2], cols, nrows) if aligned
                            else _fax.decode_g3(v[2], cols, nrows,
                                                require_eol=False))
                else:
                    # K>0: mixed 1D/2D rows, EOL + tag-bit framed
                    rows = _fax.decode_g3_2d(v[2], cols, nrows)
            except _fax.FaxError as e:
                raise PdfError(
                    f"image {num}: bad CCITT stream: {e}") from None
            gray = b"".join(rows).translate(_CCITT_GRAY)
            rgb = bytearray(len(gray) * 3)
            rgb[0::3] = gray
            rgb[1::3] = gray
            rgb[2::3] = gray
            images.append({"width": w, "height": h, "mode": "RGB",
                           "pixels": bytes(rgb), "codec": "ccitt"})
            continue
        if fname == "JBIG2Decode":
            from verified_sources_spark.llm import jbig2 as _jbig2

            pm = d.get("DecodeParms")
            pm = pm if isinstance(pm, dict) else {}
            g = resolve(pm.get("JBIG2Globals"))
            gdata = g[2] if isinstance(g, tuple) and g[0] == "stream" else b""
            try:
                pg = _jbig2.decode_jbig2_embedded(v[2], gdata)
            except _jbig2.Jbig2Error as e:
                raise PdfError(f"image {num}: {e}") from None
            if (pg["width"], pg["height"]) != (w, h):
                raise PdfError(
                    f"image {num}: JBIG2 page {pg['width']}x"
                    f"{pg['height']} disagrees with /Width /Height "
                    f"{w}x{h}")
            gray = b"".join(pg["rows"]).translate(_CCITT_GRAY)
            rgb = bytearray(len(gray) * 3)
            rgb[0::3] = gray
            rgb[1::3] = gray
            rgb[2::3] = gray
            images.append({"width": w, "height": h, "mode": "RGB",
                           "pixels": bytes(rgb), "codec": "jbig2"})
            continue
        if fname == "JPXDecode":
            raise PdfError(f"cannot decode /{fname} image — refusing by name")
        if bpc != 8:
            raise PdfError(f"image {num}: {bpc}-bit samples — refusing")
        samples = _apply_filters(d, v[2])
        if csname == "DeviceRGB":
            need = w * h * 3
            if len(samples) < need:
                raise PdfError(f"image {num}: short sample data")
            images.append({"width": w, "height": h, "mode": "RGB",
                           "pixels": bytes(samples[:need]), "codec": "raw"})
        elif csname == "DeviceGray":
            need = w * h
            if len(samples) < need:
                raise PdfError(f"image {num}: short sample data")
            rgb = bytearray(need * 3)
            rgb[0::3] = samples[:need]
            rgb[1::3] = samples[:need]
            rgb[2::3] = samples[:need]
            images.append({"width": w, "height": h, "mode": "RGB",
                           "pixels": bytes(rgb), "codec": "raw"})
        else:
            raise PdfError(
                f"image {num}: colorspace /{csname} — refusing by name")
    return images


PDF_IMAGES_SCHEMA = ("doc_id long, decoded_ok boolean, image_idx int, "
                     "width int, height int, codec string, dhash long")


def pdf_images(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched PDF → embedded-image fingerprints: one row per
    image XObject with the same 64-bit dHash the image-dedup surface
    computes, so document-borne figures join ``image_dhash`` outputs
    directly (payloads never shuffle — pixels reduce to a hash inside
    the scan's executor).  A PDF with no images emits one
    ``decoded_ok=true, image_idx=null`` row; corrupt/refused files
    isolate as ``decoded_ok=false``."""
    def run(_id, payload):
        from verified_sources_spark.llm.image_dedup import _dhash_of_pixels

        try:
            ims = extract_pdf_images(bytes(payload))
            for i, im in enumerate(ims):
                ch = 3 if im["mode"] == "RGB" else 4
                hv = _dhash_of_pixels(
                    im["pixels"], im["width"], im["height"], ch, 8)
                if hv >= 1 << 63:
                    hv -= 1 << 64
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "image_idx": i, "width": im["width"],
                    "height": im["height"], "codec": im["codec"],
                    "dhash": hv}
            if not ims:
                yield {"doc_id": _id, "decoded_ok": True}
        except PdfError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, PDF_IMAGES_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
