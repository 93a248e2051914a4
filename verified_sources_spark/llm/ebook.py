"""EPUB ebook text extraction — pure stdlib (zipfile + xml.etree +
the WARC path's HTML extractor).

Why this exists: public-domain ebook corpora (Gutenberg-style EPUB
dumps) are a first-class long-form text source for LLM training, and
long-form documents exercise dedup/quality operators differently than
web pages (chapter structure, front matter, per-book boilerplate).
The reference routes such local documents through its
unstructured-data/filesystem pipeline
(``/root/reference/sources/unstructured_data``,
``/root/reference/sources/filesystem``); this is the decode half,
Spark-first: one ``boundary.map_rows`` stage, payloads never shuffle,
corrupt files isolate as ``decoded_ok=false`` rows.

Format (public: IDPF EPUB 2/3, OCF container):

- the zip's first member is ``mimetype`` = ``application/epub+zip``
  (STORED);
- ``META-INF/container.xml`` points at the OPF package document;
- the OPF ``manifest`` maps ids → hrefs, the ``spine`` orders
  ``idref``s — reading order is the spine, NOT the zip directory;
- each spine item is XHTML; text extraction reuses
  ``warc.extract_text`` so ebook chapters and crawled pages
  canonicalize identically before dedup.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
import zlib
import xml.etree.ElementTree as ET

from verified_sources_spark.boundary import map_rows

__all__ = [
    "EbookError", "encode_epub", "extract_epub", "epub_extract",
    "EPUB_EXTRACT_SCHEMA",
]


class EbookError(ValueError):
    """Named refusal: not an EPUB we can decode honestly."""


_CONTAINER_NS = "urn:oasis:names:tc:opendocument:xmlns:container"
_OPF_NS = "http://www.idpf.org/2007/opf"


# ---------------------------------------------------------------------------
# encoder (independent writer: literal templates)

def encode_epub(chapters: list[tuple[str, str]],
                title: str = "Fixture Book") -> bytes:
    """Minimal valid EPUB: one XHTML file per (chapter_title, text)
    pair, manifest + spine in order.  Paragraphs come from ``\\n``
    splits in the chapter text."""

    def esc(s: str) -> str:
        return (s.replace("&", "&amp;").replace("<", "&lt;")
                 .replace(">", "&gt;"))

    parts: list[tuple[str, bytes]] = []
    manifest = []
    spine = []
    for i, (ctitle, text) in enumerate(chapters, start=1):
        paras = "\n".join(f"<p>{esc(line)}</p>" for line in text.split("\n"))
        xhtml = (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<html xmlns="http://www.w3.org/1999/xhtml">\n'
            f"<head><title>{esc(ctitle)}</title></head>\n"
            f"<body>\n<h1>{esc(ctitle)}</h1>\n{paras}\n</body>\n</html>"
        ).encode()
        parts.append((f"OEBPS/ch{i}.xhtml", xhtml))
        manifest.append(
            f'<item id="ch{i}" href="ch{i}.xhtml" '
            'media-type="application/xhtml+xml"/>')
        spine.append(f'<itemref idref="ch{i}"/>')
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<package xmlns="{_OPF_NS}" version="3.0" unique-identifier="uid">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<dc:title>{esc(title)}</dc:title>"
        '<dc:identifier id="uid">urn:uuid:0</dc:identifier>'
        "</metadata>"
        "<manifest>" + "".join(manifest) + "</manifest>"
        "<spine>" + "".join(spine) + "</spine></package>"
    ).encode()
    container = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<container version="1.0" xmlns="{_CONTAINER_NS}"><rootfiles>'
        '<rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/>'
        "</rootfiles></container>"
    ).encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        zi = zipfile.ZipInfo("mimetype")
        z.writestr(zi, b"application/epub+zip",
                   compress_type=zipfile.ZIP_STORED)
        z.writestr("META-INF/container.xml", container)
        z.writestr("OEBPS/content.opf", opf)
        for name, data in parts:
            z.writestr(name, data)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# extractor (independent reader)

def extract_epub(data: bytes) -> dict:
    """EPUB bytes → ``{title, n_chapters, chapters: [{idx, title,
    text}]}`` in SPINE order, text via the WARC HTML extractor."""
    from verified_sources_spark.llm.warc import extract_text

    if data[:4] != b"PK\x03\x04":
        raise EbookError("not a zip container")
    try:
        z = zipfile.ZipFile(io.BytesIO(data))
        names = set(z.namelist())
        if "mimetype" in names and \
                z.read("mimetype").strip() != b"application/epub+zip":
            raise EbookError("zip is not an EPUB (wrong mimetype)")
        if "META-INF/container.xml" not in names:
            raise EbookError("no OCF container.xml")
        croot = ET.fromstring(z.read("META-INF/container.xml"))
        rootfile = croot.find(
            f".//{{{_CONTAINER_NS}}}rootfile")
        if rootfile is None:
            raise EbookError("container.xml has no rootfile")
        opf_path = rootfile.get("full-path")
        opf = ET.fromstring(z.read(opf_path))
        base = posixpath.dirname(opf_path)
        hrefs = {}
        for item in opf.iter(f"{{{_OPF_NS}}}item"):
            hrefs[item.get("id")] = posixpath.normpath(
                posixpath.join(base, item.get("href")))
        title_el = opf.find(
            ".//{http://purl.org/dc/elements/1.1/}title")
        chapters = []
        for idx, ref in enumerate(opf.iter(f"{{{_OPF_NS}}}itemref")):
            href = hrefs.get(ref.get("idref"))
            if href is None:
                raise EbookError(
                    f"spine idref {ref.get('idref')!r} not in manifest")
            xhtml = z.read(href).decode("utf-8", errors="replace")
            ctitle, text = extract_text(xhtml, collapse=True)
            chapters.append({"idx": idx, "title": ctitle, "text": text})
        if not chapters:
            raise EbookError("empty spine")
        return {
            "title": title_el.text if title_el is not None else None,
            "n_chapters": len(chapters),
            "chapters": chapters,
        }
    except EbookError:
        raise
    except (zipfile.BadZipFile, zlib.error, EOFError, OSError,
            KeyError, ET.ParseError, ValueError, LookupError,
            NotImplementedError) as exc:
        # LookupError: unknown <?xml encoding=?> declarations raise it
        # instead of ParseError (same class as the crawlgov fuzz find)
        raise EbookError(f"corrupt EPUB: {exc}") from exc


# ---------------------------------------------------------------------------
# Spark operator

EPUB_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, book_title string, "
    "chapter_idx int, n_chapters int, chapter_title string, text string"
)


def epub_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched EPUB → per-chapter text rows in spine order.
    Payloads never shuffle; corrupt books isolate as one
    ``decoded_ok=false`` row."""
    def run(_id, payload):
        try:
            out = extract_epub(bytes(payload))
            for ch in out["chapters"]:
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "book_title": out["title"],
                    "chapter_idx": ch["idx"],
                    "n_chapters": out["n_chapters"],
                    "chapter_title": ch["title"],
                    "text": ch["text"],
                }
        except EbookError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, EPUB_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
