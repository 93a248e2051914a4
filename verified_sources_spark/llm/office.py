"""Office-document text extraction: DOCX / XLSX / PPTX (OOXML),
ODT / ODS / ODP (OpenDocument), RTF, and — via llm/cfb — the legacy
binary .doc / .xls / .ppt, pure stdlib (zipfile +
xml.etree + a hand-rolled RTF tokenizer).

Why this exists: a web-scale training corpus is full of office
documents — they are the second-largest text carrier after HTML/PDF —
and the reference ingests them through its unstructured-data pipeline
(``/root/reference/sources/unstructured_data`` routes local files into
text for downstream structuring; ``filesystem`` lands the raw bytes).
This module is the decode half of that front door, Spark-first: the
``office_extract`` operator is one ``boundary.map_rows`` stage over a
binary payload column, payloads never shuffle, and a corrupt or
unsupported file isolates as ``decoded_ok=false`` (never a task
failure — the honest-refusal contract the rest of the codec suite
follows).

Readers and writers are INDEPENDENT code paths on purpose: encoders
emit literal XML/RTF templates, extractors parse with
``xml.etree``/a state-machine tokenizer — a shared-constant bug can't
hide, the same two-sided method the JPEG/VP8L/FLAC codecs use.

Format notes (all from the public specs — ECMA-376 for OOXML, OASIS
ODF 1.2, Microsoft RTF 1.9.1):

- DOCX: ``word/document.xml``; a paragraph is ``w:p``, runs ``w:r``
  carry ``w:t`` text, ``w:tab`` and ``w:br`` render as ``\\t`` / ``\\n``.
- XLSX: ``xl/workbook.xml`` names sheets in order; each sheet's cells
  carry a type code — ``s`` shared-string index, ``str`` cached
  formula string, ``inlineStr``, ``b`` boolean, default numeric.
  Column order comes from the A1-style ``r`` attribute.
- PPTX: ``ppt/presentation.xml``'s ``p:sldIdLst`` orders slides via
  relationship ids; slide text lives in ``a:t`` runs inside ``a:p``
  paragraphs.
- ODT/ODS: ``content.xml``; ``text:p``/``text:h`` paragraphs with
  ``text:s`` (run-length spaces), ``text:tab``, ``text:line-break``.
- RTF: control-word stream; ``\\uN`` unicode escapes with ``\\ucN``
  fallback skip, ``\\'hh`` codepage bytes, destination groups
  (``{\\*\\...}``, fonttbl, stylesheet, pict...) skipped, ``\\binN``
  raw-byte skip, ``\\par`` ends a paragraph.
"""

from __future__ import annotations

import io
import re
import struct
import zipfile
import zlib
import xml.etree.ElementTree as ET

from verified_sources_spark.boundary import map_rows

__all__ = [
    "OfficeError",
    "encode_docx", "encode_xlsx", "encode_pptx",
    "encode_odt", "encode_ods", "encode_odp", "encode_rtf",
    "extract_office", "office_extract",
    "OFFICE_EXTRACT_SCHEMA",
]


class OfficeError(ValueError):
    """Named refusal: not an office document we can decode honestly."""


# ---------------------------------------------------------------------------
# namespaces (public, fixed by the specs)

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PKG_R = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "http://schemas.openxmlformats.org/package/2006/content-types"

_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TABLE = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
_DRAW = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;").replace('"', "&quot;"))


# ---------------------------------------------------------------------------
# encoders (independent writers: literal templates, no ET)

# member timestamp: fixed, so the same parts always encode to the same bytes
_ZIP_DATE_TIME = (1980, 1, 1, 0, 0, 0)


def _zip_parts(parts: list[tuple[str, bytes]],
               stored_first: bool = False) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for i, (name, data) in enumerate(parts):
            # ODF requires the mimetype member first and STORED
            stored = stored_first and i == 0
            z.writestr(zipfile.ZipInfo(name, _ZIP_DATE_TIME), data,
                       compress_type=(zipfile.ZIP_STORED if stored
                                      else zipfile.ZIP_DEFLATED))
    return buf.getvalue()


def _wml_para(p: str) -> str:
    runs = []
    # split into text / tab / break tokens
    for tok in re.split(r"([\t\n])", p):
        if tok == "\t":
            runs.append("<w:r><w:tab/></w:r>")
        elif tok == "\n":
            runs.append("<w:r><w:br/></w:r>")
        elif tok:
            runs.append(
                f'<w:r><w:t xml:space="preserve">{_esc(tok)}</w:t></w:r>')
    return "<w:p>" + "".join(runs) + "</w:p>"


def encode_docx(
    paragraphs: list[str],
    tables: list[list[list[str]]] | None = None,
    headers: list[str] | None = None,
    footers: list[str] | None = None,
    footnotes: list[str] | None = None,
) -> bytes:
    """Minimal valid WordprocessingML package: one ``w:p`` per entry;
    embedded ``\\t`` / ``\\n`` inside an entry become ``w:tab`` /
    ``w:br`` runs (what Word itself emits).  ``tables`` (rows ×
    cells) append as ``w:tbl`` blocks after the paragraphs;
    ``headers``/``footers`` write real header1.xml/footer1.xml parts
    referenced from sectPr; ``footnotes`` write word/footnotes.xml
    with the separator pseudo-notes Word always emits, anchored by
    ``w:footnoteReference`` runs in the first paragraph."""
    body = [_wml_para(p) for p in paragraphs]
    if footnotes and body:
        anchors = "".join(
            f'<w:r><w:footnoteReference w:id="{i + 2}"/></w:r>'
            for i in range(len(footnotes)))
        body[0] = body[0][: -len("</w:p>")] + anchors + "</w:p>"
    for tbl in tables or []:
        rows = []
        for row in tbl:
            cells = "".join(
                f"<w:tc><w:tcPr/>{_wml_para(c)}</w:tc>" for c in row)
            rows.append(f"<w:tr>{cells}</w:tr>")
        body.append("<w:tbl><w:tblPr/><w:tblGrid/>"
                    + "".join(rows) + "</w:tbl>")
    sect = ""
    if headers or footers:
        refs = []
        if headers:
            refs.append('<w:headerReference w:type="default" r:id="rId2"/>')
        if footers:
            refs.append('<w:footerReference w:type="default" r:id="rId3"/>')
        sect = "<w:sectPr>" + "".join(refs) + "</w:sectPr>"
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}" xmlns:r="{_R}"><w:body>'
        + "".join(body) + sect + "</w:body></w:document>"
    ).encode()
    overrides = [
        ("/word/document.xml",
         "application/vnd.openxmlformats-officedocument"
         ".wordprocessingml.document.main+xml")]
    parts = [("word/document.xml", doc)]
    doc_rels = []
    if headers:
        hdr = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               f'<w:hdr xmlns:w="{_W}">'
               + "".join(_wml_para(p) for p in headers)
               + "</w:hdr>").encode()
        parts.append(("word/header1.xml", hdr))
        overrides.append(("/word/header1.xml",
                          "application/vnd.openxmlformats-officedocument"
                          ".wordprocessingml.header+xml"))
        doc_rels.append(
            f'<Relationship Id="rId2" Type="{_R}/header" '
            'Target="header1.xml"/>')
    if footers:
        ftr = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               f'<w:ftr xmlns:w="{_W}">'
               + "".join(_wml_para(p) for p in footers)
               + "</w:ftr>").encode()
        parts.append(("word/footer1.xml", ftr))
        overrides.append(("/word/footer1.xml",
                          "application/vnd.openxmlformats-officedocument"
                          ".wordprocessingml.footer+xml"))
        doc_rels.append(
            f'<Relationship Id="rId3" Type="{_R}/footer" '
            'Target="footer1.xml"/>')
    if footnotes:
        notes = ['<w:footnote w:type="separator" w:id="0">'
                 "<w:p><w:r><w:separator/></w:r></w:p></w:footnote>",
                 '<w:footnote w:type="continuationSeparator" w:id="1">'
                 "<w:p><w:r><w:continuationSeparator/></w:r></w:p>"
                 "</w:footnote>"]
        for i, fn in enumerate(footnotes):
            notes.append(f'<w:footnote w:id="{i + 2}">'
                         + _wml_para(fn) + "</w:footnote>")
        fns = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               f'<w:footnotes xmlns:w="{_W}">'
               + "".join(notes) + "</w:footnotes>").encode()
        parts.append(("word/footnotes.xml", fns))
        overrides.append(("/word/footnotes.xml",
                          "application/vnd.openxmlformats-officedocument"
                          ".wordprocessingml.footnotes+xml"))
        doc_rels.append(
            f'<Relationship Id="rId4" Type="{_R}/footnotes" '
            'Target="footnotes.xml"/>')
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_CT}">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        + "".join(f'<Override PartName="{n}" ContentType="{c}"/>'
                  for n, c in overrides)
        + "</Types>"
    ).encode()
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_R}">'
        f'<Relationship Id="rId1" Type="{_R}/officeDocument" Target="word/document.xml"/>'
        "</Relationships>"
    ).encode()
    out = [("[Content_Types].xml", ct), ("_rels/.rels", rels)] + parts
    if doc_rels:
        out.append(("word/_rels/document.xml.rels",
                    ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                     f'<Relationships xmlns="{_PKG_R}">'
                     + "".join(doc_rels) + "</Relationships>").encode()))
    return _zip_parts(out)


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def _num_repr(v) -> str:
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int) or (isinstance(v, float) and v == int(v)):
        return str(int(v))
    return repr(float(v))


def encode_xlsx(rows: list[list], sheet_name: str = "Sheet1") -> bytes:
    """Minimal SpreadsheetML package with a sharedStrings table (the
    layout Excel itself writes): strings by reference, numbers inline,
    booleans as ``t="b"``."""
    shared: list[str] = []
    sindex: dict[str, int] = {}
    srows = []
    for ri, row in enumerate(rows):
        cells = []
        for ci, v in enumerate(row):
            ref = f"{_col_letters(ci)}{ri + 1}"
            if isinstance(v, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
            elif isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{_num_repr(v)}</v></c>')
            else:
                s = str(v)
                if s not in sindex:
                    sindex[s] = len(shared)
                    shared.append(s)
                cells.append(f'<c r="{ref}" t="s"><v>{sindex[s]}</v></c>')
        srows.append(f'<row r="{ri + 1}">' + "".join(cells) + "</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_S}"><sheetData>' + "".join(srows) +
        "</sheetData></worksheet>"
    ).encode()
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_S}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_esc(s)}</t></si>' for s in shared)
        + "</sst>"
    ).encode()
    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_S}" xmlns:r="{_R}"><sheets>'
        f'<sheet name="{_esc(sheet_name)}" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    ).encode()
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_R}">'
        f'<Relationship Id="rId1" Type="{_R}/worksheet" Target="worksheets/sheet1.xml"/>'
        f'<Relationship Id="rId2" Type="{_R}/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    ).encode()
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_CT}">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    ).encode()
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_R}">'
        f'<Relationship Id="rId1" Type="{_R}/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ).encode()
    return _zip_parts([
        ("[Content_Types].xml", ct),
        ("_rels/.rels", rels),
        ("xl/workbook.xml", wb),
        ("xl/_rels/workbook.xml.rels", wb_rels),
        ("xl/worksheets/sheet1.xml", sheet),
        ("xl/sharedStrings.xml", sst),
    ])


def encode_pptx(slides: list[str],
                notes: dict[int, str] | None = None) -> bytes:
    """Minimal PresentationML package: one text box per slide; embedded
    ``\\n`` becomes separate ``a:p`` paragraphs.  ``notes`` maps
    0-based slide index → speaker-notes text, written as real
    notesSlide parts linked from the slide's rels (the layout
    PowerPoint saves)."""
    notes = notes or {}
    parts: list[tuple[str, bytes]] = []
    sld_ids = []
    sld_rels = []
    overrides = []
    for i, text in enumerate(slides, start=1):
        paras = "".join(
            "<a:p><a:r><a:t>" + _esc(line) + "</a:t></a:r></a:p>"
            for line in text.split("\n")
        )
        slide = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>'
            "<p:sp><p:txBody>" + paras + "</p:txBody></p:sp>"
            "</p:spTree></p:cSld></p:sld>"
        ).encode()
        parts.append((f"ppt/slides/slide{i}.xml", slide))
        sld_ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        sld_rels.append(
            f'<Relationship Id="rId{i}" Type="{_R}/slide" Target="slides/slide{i}.xml"/>')
        overrides.append(
            f'<Override PartName="/ppt/slides/slide{i}.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>')
        if (i - 1) in notes:
            nparas = "".join(
                "<a:p><a:r><a:t>" + _esc(line) + "</a:t></a:r></a:p>"
                for line in notes[i - 1].split("\n"))
            nxml = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<p:notes xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld>'
                "<p:spTree><p:sp><p:txBody>" + nparas
                + "</p:txBody></p:sp></p:spTree></p:cSld></p:notes>"
            ).encode()
            parts.append((f"ppt/notesSlides/notesSlide{i}.xml", nxml))
            parts.append((
                f"ppt/slides/_rels/slide{i}.xml.rels",
                ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                 f'<Relationships xmlns="{_PKG_R}">'
                 f'<Relationship Id="rId1" Type="{_R}/notesSlide" '
                 f'Target="../notesSlides/notesSlide{i}.xml"/>'
                 "</Relationships>").encode()))
            overrides.append(
                f'<Override PartName="/ppt/notesSlides/notesSlide{i}.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.notesSlide+xml"/>')
    pres = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<p:presentation xmlns:p="{_P}" xmlns:r="{_R}"><p:sldIdLst>'
        + "".join(sld_ids) + "</p:sldIdLst></p:presentation>"
    ).encode()
    pres_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_R}">' + "".join(sld_rels) +
        "</Relationships>"
    ).encode()
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_CT}">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
        + "".join(overrides) + "</Types>"
    ).encode()
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_PKG_R}">'
        f'<Relationship Id="rId1" Type="{_R}/officeDocument" Target="ppt/presentation.xml"/>'
        "</Relationships>"
    ).encode()
    return _zip_parts([
        ("[Content_Types].xml", ct),
        ("_rels/.rels", rels),
        ("ppt/presentation.xml", pres),
        ("ppt/_rels/presentation.xml.rels", pres_rels),
    ] + parts)


def _odf_paragraph(p: str) -> str:
    # runs of >=2 spaces become text:s (ODF collapses literal spaces)
    out = []
    for tok in re.split(r"(\t|\n|  +)", p):
        if tok == "\t":
            out.append("<text:tab/>")
        elif tok == "\n":
            out.append("<text:line-break/>")
        elif tok and tok.strip() == "" and len(tok) >= 2:
            out.append(f'<text:s text:c="{len(tok)}"/>')
        elif tok:
            out.append(_esc(tok))
    return "".join(out)


def encode_odt(
    paragraphs: list[str],
    tables: list[list[list[str]]] | None = None,
    header: list[str] | None = None,
    footer: list[str] | None = None,
    footnotes: list[str] | None = None,
) -> bytes:
    """Minimal valid ODF text package.  ``tables`` (rows × cells)
    append as table:table blocks after the paragraphs; ``header``/
    ``footer`` write a styles.xml master page; ``footnotes`` anchor as
    text:note elements at the end of the first paragraph (citation +
    note-body, the layout OpenOffice writes)."""
    paras = [f"<text:p>{_odf_paragraph(p)}</text:p>" for p in paragraphs]
    if footnotes:
        if not paras:
            paras = ["<text:p></text:p>"]
        notes = "".join(
            f'<text:note text:note-class="footnote" text:id="ftn{i}">'
            f"<text:note-citation>{i + 1}</text:note-citation>"
            f"<text:note-body><text:p>{_odf_paragraph(fn)}</text:p>"
            "</text:note-body></text:note>"
            for i, fn in enumerate(footnotes))
        paras[0] = paras[0][: -len("</text:p>")] + notes + "</text:p>"
    body = list(paras)
    for tbl in tables or []:
        rows = []
        for row in tbl:
            cells = "".join(
                "<table:table-cell office:value-type=\"string\">"
                f"<text:p>{_odf_paragraph(c)}</text:p></table:table-cell>"
                for c in row)
            rows.append(f"<table:table-row>{cells}</table:table-row>")
        body.append('<table:table table:name="T1">'
                    + "".join(rows) + "</table:table>")
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE}" '
        f'xmlns:text="{_TEXT}" xmlns:table="{_TABLE}">'
        "<office:body><office:text>"
        + "".join(body)
        + "</office:text></office:body></office:document-content>"
    ).encode()
    entries = [
        ('/', "application/vnd.oasis.opendocument.text"),
        ("content.xml", "text/xml"),
    ]
    parts = [
        ("mimetype", b"application/vnd.oasis.opendocument.text"),
    ]
    styles_xml = None
    if header or footer:
        hxml = "".join(f"<text:p>{_odf_paragraph(p)}</text:p>"
                       for p in header or [])
        fxml = "".join(f"<text:p>{_odf_paragraph(p)}</text:p>"
                       for p in footer or [])
        styles_xml = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<office:document-styles xmlns:office="{_OFFICE}" '
            f'xmlns:style="{_STYLE}" xmlns:text="{_TEXT}">'
            "<office:master-styles>"
            '<style:master-page style:name="Standard">'
            + (f"<style:header>{hxml}</style:header>" if header else "")
            + (f"<style:footer>{fxml}</style:footer>" if footer else "")
            + "</style:master-page></office:master-styles>"
            "</office:document-styles>").encode()
        entries.append(("styles.xml", "text/xml"))
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        + "".join(
            f'<manifest:file-entry manifest:full-path="{p}" '
            f'manifest:media-type="{m}"/>' for p, m in entries)
        + "</manifest:manifest>"
    ).encode()
    parts.append(("META-INF/manifest.xml", manifest))
    parts.append(("content.xml", content))
    if styles_xml is not None:
        parts.append(("styles.xml", styles_xml))
    return _zip_parts(parts, stored_first=True)


def encode_ods(rows: list[list]) -> bytes:
    trows = []
    for row in rows:
        cells = []
        for v in row:
            if isinstance(v, bool):
                cells.append(
                    '<table:table-cell office:value-type="boolean" '
                    f'office:boolean-value="{"true" if v else "false"}"/>')
            elif isinstance(v, (int, float)):
                cells.append(
                    '<table:table-cell office:value-type="float" '
                    f'office:value="{_num_repr(v)}"/>')
            else:
                cells.append(
                    '<table:table-cell office:value-type="string">'
                    f"<text:p>{_odf_paragraph(str(v))}</text:p>"
                    "</table:table-cell>")
        trows.append("<table:table-row>" + "".join(cells) + "</table:table-row>")
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE}" '
        f'xmlns:text="{_TEXT}" xmlns:table="{_TABLE}">'
        '<office:body><office:spreadsheet>'
        '<table:table table:name="Sheet1">' + "".join(trows) +
        "</table:table></office:spreadsheet></office:body>"
        "</office:document-content>"
    ).encode()
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        '<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.spreadsheet"/>'
        '<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>'
        "</manifest:manifest>"
    ).encode()
    return _zip_parts([
        ("mimetype", b"application/vnd.oasis.opendocument.spreadsheet"),
        ("META-INF/manifest.xml", manifest),
        ("content.xml", content),
    ], stored_first=True)


def encode_odp(slides: list[str],
               notes: dict[int, str] | None = None) -> bytes:
    """Minimal ODF presentation; ``notes`` maps 0-based slide index →
    speaker-notes text, written as presentation:notes inside the
    draw:page (the layout Impress saves)."""
    notes = notes or {}
    _PRES = "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"
    pages = []
    for i, t in enumerate(slides):
        n = ""
        if i in notes:
            n = ("<presentation:notes><draw:frame><draw:text-box>"
                 f"<text:p>{_odf_paragraph(notes[i])}</text:p>"
                 "</draw:text-box></draw:frame></presentation:notes>")
        pages.append(
            f'<draw:page draw:name="page{i + 1}"><draw:frame>'
            f"<draw:text-box><text:p>{_odf_paragraph(t)}</text:p>"
            f"</draw:text-box></draw:frame>{n}</draw:page>")
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE}" '
        f'xmlns:text="{_TEXT}" xmlns:draw="{_DRAW}" '
        f'xmlns:presentation="{_PRES}">'
        "<office:body><office:presentation>"
        + "".join(pages)
        + "</office:presentation></office:body>"
          "</office:document-content>"
    ).encode()
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        '<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.presentation"/>'
        '<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>'
        "</manifest:manifest>"
    ).encode()
    return _zip_parts([
        ("mimetype", b"application/vnd.oasis.opendocument.presentation"),
        ("META-INF/manifest.xml", manifest),
        ("content.xml", content),
    ], stored_first=True)


def encode_rtf(paragraphs: list[str]) -> bytes:
    """RTF 1.x writer: cp1252-representable chars as ``\\'hh`` escapes
    when non-ASCII, everything else as ``\\uN`` with a ``?`` fallback;
    includes a font table (a destination the reader must skip)."""
    out = [r"{\rtf1\ansi\ansicpg1252\deff0\uc1",
           r"{\fonttbl{\f0\froman Times New Roman;}}"]
    for p in paragraphs:
        frag = []
        for ch in p:
            if ch in "\\{}":
                frag.append("\\" + ch)
            elif ch == "\t":
                frag.append(r"\tab ")
            elif ch == "\n":
                frag.append(r"\line ")
            elif ord(ch) < 128:
                frag.append(ch)
            else:
                try:
                    b = ch.encode("cp1252")
                    frag.append(f"\\'{b[0]:02x}")
                except UnicodeEncodeError:
                    # astral chars go out as UTF-16 surrogate halves,
                    # each a signed-16-bit \uN (RTF 1.9.1 convention)
                    units = ch.encode("utf-16-be")
                    for k in range(0, len(units), 2):
                        n = int.from_bytes(units[k:k + 2], "big")
                        if n > 32767:
                            n -= 65536
                        frag.append(f"\\u{n}?")
        out.append("".join(frag) + r"\par" + "\n")
    out.append("}")
    return "".join(out).encode("ascii", "strict")


# ---------------------------------------------------------------------------
# extractors (independent readers: xml.etree / tokenizer)

def _docx_para_text(p) -> str:
    frag = []
    for node in p.iter():
        tag = node.tag
        if tag == f"{{{_W}}}t":
            frag.append(node.text or "")
        elif tag == f"{{{_W}}}tab":
            frag.append("\t")
        elif tag == f"{{{_W}}}br":
            frag.append("\n")
    return "".join(frag)


def _docx_table_text(tbl) -> str:
    """One w:tbl → one unit: rows newline-joined, cells tab-joined,
    multi-paragraph cells (and nested tables) newline-joined inside
    the cell — row-major prose, the layout a reader would speak."""
    lines = []
    for tr in tbl.findall(f"{{{_W}}}tr"):
        cells = []
        for tc in tr.findall(f"{{{_W}}}tc"):
            parts = []
            for el in tc:
                if el.tag == f"{{{_W}}}p":
                    parts.append(_docx_para_text(el))
                elif el.tag == f"{{{_W}}}tbl":
                    parts.append(_docx_table_text(el))
            cells.append("\n".join(parts))
        lines.append("\t".join(cells))
    return "\n".join(lines)


def _docx_block_units(root) -> list[str]:
    """Top-level block units of a WML part in document order: w:p →
    one paragraph unit, w:tbl → one table unit (cell paragraphs no
    longer leak out as stray sibling units)."""
    body = root.find(f"{{{_W}}}body")
    units = []
    for el in (body if body is not None else root):
        if el.tag == f"{{{_W}}}p":
            units.append(_docx_para_text(el))
        elif el.tag == f"{{{_W}}}tbl":
            units.append(_docx_table_text(el))
    return units


def _docx_units(z: zipfile.ZipFile) -> list[str]:
    """All prose units of a docx, not just the body: header parts
    first (sorted by part name), then document.xml's blocks in
    document order, then footnotes and endnotes (one unit per note,
    separator/continuation pseudo-notes skipped — ECMA-376
    §17.11.5.3), then footer parts.  Headers, footers, footnotes and
    tables ARE training prose; dropping them silently loses the
    densest text in real reports."""
    names = set(z.namelist())
    units = []
    for name in sorted(n for n in names
                       if re.fullmatch(r"word/header\d*\.xml", n)):
        units += _docx_block_units(ET.fromstring(z.read(name)))
    units += _docx_block_units(
        ET.fromstring(z.read("word/document.xml")))
    for part, tag in (("word/footnotes.xml", "footnote"),
                      ("word/endnotes.xml", "endnote")):
        if part not in names:
            continue
        for note in ET.fromstring(z.read(part)):
            if note.tag != f"{{{_W}}}{tag}":
                continue
            if note.get(f"{{{_W}}}type") in (
                    "separator", "continuationSeparator"):
                continue
            units.append("\n".join(_docx_block_units(note)))
    for name in sorted(n for n in names
                       if re.fullmatch(r"word/footer\d*\.xml", n)):
        units += _docx_block_units(ET.fromstring(z.read(name)))
    return units


def _parse_col(ref: str) -> int:
    col = 0
    for ch in ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return col - 1


def _rels_map(z: zipfile.ZipFile, part: str) -> dict[str, str]:
    import posixpath

    d, _, base = part.rpartition("/")
    rel_part = (d + "/" if d else "") + "_rels/" + base + ".rels"
    out = {}
    root = ET.fromstring(z.read(rel_part))
    for rel in root.iter(f"{{{_PKG_R}}}Relationship"):
        tgt = rel.get("Target")
        if not tgt.startswith("/"):
            tgt = (d + "/" if d else "") + tgt
        # '../' segments are how OOXML writes sibling-dir targets
        out[rel.get("Id")] = posixpath.normpath(tgt.lstrip("/"))
    return out


def _xlsx_units(z: zipfile.ZipFile) -> list[str]:
    shared: list[str] = []
    try:
        sroot = ET.fromstring(z.read("xl/sharedStrings.xml"))
        for si in sroot.iter(f"{{{_S}}}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{{{_S}}}t")))
    except KeyError:
        pass
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = _rels_map(z, "xl/workbook.xml")
    units = []
    for sheet in wb.iter(f"{{{_S}}}sheet"):
        rid = sheet.get(f"{{{_R}}}id")
        target = rels[rid]
        sr = ET.fromstring(z.read(target))
        lines = []
        for row in sr.iter(f"{{{_S}}}row"):
            cells = []
            for c in row.iter(f"{{{_S}}}c"):
                t = c.get("t", "n")
                if t == "inlineStr":
                    is_el = c.find(f"{{{_S}}}is")
                    val = "".join(
                        x.text or "" for x in is_el.iter(f"{{{_S}}}t")
                    ) if is_el is not None else ""
                else:
                    v = c.find(f"{{{_S}}}v")
                    raw = v.text if v is not None and v.text else ""
                    if t == "s":
                        val = shared[int(raw)]
                    elif t == "b":
                        val = "TRUE" if raw.strip() == "1" else "FALSE"
                    elif t == "str":
                        val = raw
                    else:  # numeric
                        val = _num_repr(float(raw)) if raw else ""
                cells.append((_parse_col(c.get("r", "A1")), val))
            cells.sort()
            lines.append("\t".join(v for _, v in cells))
        units.append("\n".join(lines))
    return units


def _pptx_units(z: zipfile.ZipFile) -> list[str]:
    pres = ET.fromstring(z.read("ppt/presentation.xml"))
    rels = _rels_map(z, "ppt/presentation.xml")
    names = set(z.namelist())
    units = []

    def runs(part: str) -> str:
        root = ET.fromstring(z.read(part))
        return "\n".join(
            "".join(t.text or "" for t in p.iter(f"{{{_A}}}t"))
            for p in root.iter(f"{{{_A}}}p"))

    for sid in pres.iter(f"{{{_P}}}sldId"):
        target = rels[sid.get(f"{{{_R}}}id")]
        units.append(runs(target))
        # speaker notes are prose a slide-only walk silently drops:
        # one notesSlide unit directly after its slide, via the
        # slide's own rels (never by filename guessing)
        d, _, base = target.rpartition("/")
        if f"{d}/_rels/{base}.rels" in names:
            for tgt in _rels_map(z, target).values():
                if "notesSlides/" in tgt and tgt in names:
                    note = runs(tgt)
                    if note:
                        units.append(note)
    return units


def _odf_text(el) -> str:
    frag = [el.text or ""]
    for child in el:
        tag = child.tag
        if tag == f"{{{_TEXT}}}tab":
            frag.append("\t")
        elif tag == f"{{{_TEXT}}}line-break":
            frag.append("\n")
        elif tag == f"{{{_TEXT}}}s":
            frag.append(" " * int(child.get(f"{{{_TEXT}}}c", "1")))
        elif tag == f"{{{_TEXT}}}note":
            # footnote/endnote bodies are their OWN units (collected by
            # _odt_units) — inlining citation+body here would splice
            # the note mid-sentence into the anchor paragraph
            pass
        else:
            frag.append(_odf_text(child))
        frag.append(child.tail or "")
    return "".join(frag)


def _odf_table_text(table) -> str:
    """One table:table → one unit: rows newline-joined, cells
    tab-joined, typed cell values rendered like the ods path."""
    lines = []
    for row in table.iter(f"{{{_TABLE}}}table-row"):
        cells = []
        for c in row.iter(f"{{{_TABLE}}}table-cell"):
            vt = c.get(f"{{{_OFFICE}}}value-type", "string")
            if vt == "boolean":
                b = c.get(f"{{{_OFFICE}}}boolean-value", "false")
                cells.append("TRUE" if b == "true" else "FALSE")
            elif vt == "float":
                cells.append(
                    _num_repr(float(c.get(f"{{{_OFFICE}}}value", "0"))))
            else:
                cells.append("\n".join(
                    _odf_text(p) for p in c.iter(f"{{{_TEXT}}}p")))
        lines.append("\t".join(cells))
    return "\n".join(lines)


_STYLE = "urn:oasis:names:tc:opendocument:xmlns:style:1.0"


def _odt_units(z: zipfile.ZipFile) -> list[str]:
    root = ET.fromstring(z.read("content.xml"))
    body = root.find(f"{{{_OFFICE}}}body")
    units = []
    text_el = body.find(f"{{{_OFFICE}}}text") if body is not None else None
    if text_el is not None:
        # headers/footers live in styles.xml master pages — prose a
        # body-only walk silently drops
        heads: list[str] = []
        feet: list[str] = []
        try:
            styles = ET.fromstring(z.read("styles.xml"))
        except KeyError:
            styles = None
        if styles is not None:
            for mp in styles.iter(f"{{{_STYLE}}}master-page"):
                for el in mp.iter(f"{{{_STYLE}}}header"):
                    heads += [_odf_text(p)
                              for p in el.iter(f"{{{_TEXT}}}p")]
                for el in mp.iter(f"{{{_STYLE}}}footer"):
                    feet += [_odf_text(p)
                             for p in el.iter(f"{{{_TEXT}}}p")]
        notes: list[str] = []
        for el in text_el:
            if el.tag in (f"{{{_TEXT}}}p", f"{{{_TEXT}}}h"):
                units.append(_odf_text(el))
                for note in el.iter(f"{{{_TEXT}}}note"):
                    nb = note.find(f"{{{_TEXT}}}note-body")
                    if nb is not None:
                        notes.append("\n".join(
                            _odf_text(p)
                            for p in nb.iter(f"{{{_TEXT}}}p")))
            elif el.tag == f"{{{_TABLE}}}table":
                units.append(_odf_table_text(el))
        return heads + units + notes + feet
    # presentation: one unit per draw:page, text runs joined like pptx
    pres = (body.find(f"{{{_OFFICE}}}presentation")
            if body is not None else None)
    if pres is not None:
        _PRES = "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"
        for page in pres.iter(f"{{{_DRAW}}}page"):
            # presentation:notes nests INSIDE draw:page — a blind
            # page.iter would splice speaker notes mid-slide; notes
            # emit as their own unit after the slide (the pptx
            # notesSlide convention)
            notes_el = page.find(f"{{{_PRES}}}notes")
            note_list = (list(notes_el.iter(f"{{{_TEXT}}}p"))
                         if notes_el is not None else [])
            note_ids = {id(p) for p in note_list}
            runs = [_odf_text(el) for el in page.iter(f"{{{_TEXT}}}p")
                    if id(el) not in note_ids]
            units.append("\n".join(r for r in runs if r))
            note = "\n".join(r for r in (_odf_text(p)
                                         for p in note_list) if r)
            if note:
                units.append(note)
        return units
    # spreadsheet: one unit per table, TSV-rendered like xlsx
    ss = body.find(f"{{{_OFFICE}}}spreadsheet") if body is not None else None
    if ss is None:
        raise OfficeError(
            "ODF document with no text/presentation/spreadsheet body")
    for table in ss.iter(f"{{{_TABLE}}}table"):
        units.append(_odf_table_text(table))
    return units


# RTF destinations whose content is formatting/metadata, not body text
_RTF_SKIP = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf", "ftnsep", "ftnsepc",
    "generator", "themedata", "colorschememapping", "datastore",
    "latentstyles", "listtable", "listoverridetable", "revtbl",
}

_RTF_CW = re.compile(rb"\\([a-zA-Z]{1,32})(-?\d{1,10})? ?|\\([^a-zA-Z])")


def _rtf_units(data: bytes) -> list[str]:
    if not data.startswith(b"{\\rtf"):
        raise OfficeError("not an RTF document")
    pos = 0
    n = len(data)
    # group state: (uc_skip, skipping)
    uc, skipping = 1, False
    stack: list[tuple[int, bool]] = []
    codepage = "cp1252"
    pending_skip = 0          # chars to swallow after \uN
    pending_high: int | None = None   # held high surrogate from \uN
    units: list[str] = []
    cur: list[str] = []

    def flush():
        units.append("".join(cur))
        cur.clear()

    while pos < n:
        ch = data[pos]
        if ch == 0x7B:  # {
            stack.append((uc, skipping))
            pos += 1
            # {\*\dest ...} → unknown destination, skip whole group
            if data[pos:pos + 2] == b"\\*":
                skipping = True
            continue
        if ch == 0x7D:  # }
            if stack:
                uc, skipping = stack.pop()
            pos += 1
            continue
        if ch == 0x5C:  # backslash
            m = _RTF_CW.match(data, pos)
            if not m:
                pos += 1
                continue
            pos = m.end()
            if m.group(3) is not None:
                sym = m.group(3)
                if sym == b"'":
                    # consume the two hex digits FIRST: the whole \'hh
                    # sequence is one character, so a pending \uN skip
                    # swallows all of it (digits must never leak as text)
                    hexpair = data[pos:pos + 2]
                    pos += 2
                    if pending_skip:
                        pending_skip -= 1
                    elif not skipping:
                        try:
                            cur.append(
                                bytes([int(hexpair, 16)]).decode(codepage))
                        except ValueError:
                            pass
                    continue
                if pending_skip:
                    pending_skip -= 1
                    continue
                if skipping:
                    continue
                if sym in (b"\\", b"{", b"}"):
                    cur.append(sym.decode())
                elif sym == b"~":
                    cur.append("\u00a0")
                elif sym == b"\n" or sym == b"\r":
                    flush()
                continue
            word = m.group(1).decode()
            param = int(m.group(2)) if m.group(2) else None
            if word == "bin":
                pos += max(0, param or 0)
                continue
            if word == "uc":
                uc = param if param is not None else 1
                continue
            if word == "ansicpg" and param:
                try:
                    b"\x41".decode(f"cp{param}")
                    codepage = f"cp{param}"
                except LookupError:
                    pass
                continue
            if word in _RTF_SKIP:
                skipping = True
                continue
            if skipping:
                continue
            if word == "u" and param is not None:
                cp = param + 65536 if param < 0 else param
                if 0xD800 <= cp <= 0xDBFF:
                    pending_high = cp        # high surrogate: hold
                elif 0xDC00 <= cp <= 0xDFFF and pending_high is not None:
                    cur.append(chr(0x10000 + ((pending_high - 0xD800) << 10)
                                   + (cp - 0xDC00)))
                    pending_high = None
                else:
                    pending_high = None
                    cur.append(chr(cp))
                pending_skip = uc
                continue
            if word == "par":
                flush()
            elif word == "line":
                cur.append("\n")
            elif word == "tab":
                cur.append("\t")
            elif word == "emdash":
                cur.append("\u2014")
            elif word == "endash":
                cur.append("\u2013")
            continue
        # plain character
        pos += 1
        if ch in (0x0D, 0x0A):
            continue
        if pending_skip:
            pending_skip -= 1
            continue
        if not skipping:
            cur.append(chr(ch))
    if "".join(cur).strip():
        flush()
    return units


def extract_office(data: bytes) -> dict:
    """Sniff + decode one office document.  Returns ``{"format",
    "units"}`` where units are paragraphs (docx/odt/rtf), sheets
    rendered as TSV (xlsx/ods), or slides (pptx).  Raises
    :class:`OfficeError` on anything else — honest refusal, never a
    silent partial parse."""
    if data[:5] == b"{\\rtf":
        return {"format": "rtf", "units": _rtf_units(data)}
    if data[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        # OLE2/CFB container: legacy binary Office
        from verified_sources_spark.llm.cfb import CfbError, list_streams
        from verified_sources_spark.llm.worddoc import DocError, doc_units
        from verified_sources_spark.llm.xlsdoc import XlsError, xls_units

        try:
            streams = list_streams(data)
        except CfbError as e:
            raise OfficeError(f"corrupt OLE2 container: {e}") from None
        from verified_sources_spark.llm.pptdoc import PptError, ppt_units

        try:
            if "WordDocument" in streams:
                return {"format": "doc", "units": doc_units(data)}
            if "Workbook" in streams or "Book" in streams:
                return {"format": "xls", "units": xls_units(data)}
            if "PowerPoint Document" in streams:
                return {"format": "ppt", "units": ppt_units(data)}
        except (DocError, XlsError, PptError) as e:
            raise OfficeError(str(e)) from None
        raise OfficeError("OLE2 container is not a known office document")
    if data[:4] != b"PK\x03\x04":
        raise OfficeError(
            "not an office document (no zip/RTF/OLE2 signature)")
    try:
        z = zipfile.ZipFile(io.BytesIO(data))
        names = set(z.namelist())
        if "mimetype" in names:
            mt = z.read("mimetype").decode("ascii", "replace")
            if mt == "application/vnd.oasis.opendocument.text":
                return {"format": "odt", "units": _odt_units(z)}
            if mt == "application/vnd.oasis.opendocument.spreadsheet":
                return {"format": "ods", "units": _odt_units(z)}
            if mt == "application/vnd.oasis.opendocument.presentation":
                return {"format": "odp", "units": _odt_units(z)}
            raise OfficeError(f"unsupported ODF mimetype: {mt}")
        if "word/document.xml" in names:
            return {"format": "docx", "units": _docx_units(z)}
        if "xl/workbook.xml" in names:
            return {"format": "xlsx", "units": _xlsx_units(z)}
        if "ppt/presentation.xml" in names:
            return {"format": "pptx", "units": _pptx_units(z)}
        raise OfficeError("zip container is not a known office package")
    except OfficeError:
        raise
    except (zipfile.BadZipFile, KeyError, ET.ParseError, ValueError,
            IndexError, struct.error, zlib.error, EOFError,
            LookupError, NotImplementedError, OSError) as exc:
        # zlib.error/EOFError/OSError: zipfile raises these lazily
        # while DECOMPRESSING a member with a corrupted deflate stream
        # (BadZipFile only covers the directory structures)
        raise OfficeError(f"corrupt office document: {exc}") from exc


# ---------------------------------------------------------------------------
# Spark operator

OFFICE_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, format string, "
    "unit_idx int, n_units int, text string"
)


def office_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched office-document → text over binary payloads: one
    row per unit (paragraph / sheet / slide), ``documents``-shaped for
    the downstream text-operator surface.  Payloads never shuffle —
    decode happens inside the scan's executor; a corrupt or unsupported
    file isolates as a single ``decoded_ok=false`` row (reference
    analogue: sources/unstructured_data routes office files into text
    rows; sources/filesystem lands the raw bytes)."""
    def run(_id, payload):
        try:
            out = extract_office(bytes(payload))
            units = out["units"]
            for i, u in enumerate(units):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "format": out["format"], "unit_idx": i,
                    "n_units": len(units), "text": u,
                }
            if not units:
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "format": out["format"], "n_units": 0,
                }
        except OfficeError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, OFFICE_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
