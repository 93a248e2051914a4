"""JATS scientific-article XML ingestion — the PubMed-Central share
of a text corpus.

The PMC Open Access subset (millions of papers) ships as JATS XML
(<article><front>…<body>…), and biomedical text is a staple corpus
component.  The prose lives in nested <sec>/<p> with inline citation
(<xref>), italic/bold and formula elements mixed into the character
data; a naive ``itertext()`` splices citation labels and math into
sentences, while dropping the elements whole loses the surrounding
prose.

``jats_extract`` walks one article: title and abstract from <front>
(<article-title>, <abstract>), body sections in document order
(section titles as their own units, paragraphs with inline markup
resolved — <xref>/<sup>/<sub> citation apparatus dropped,
emphasis/links keeping their text, display formulas dropped whole),
figures/tables contributing their <caption> prose only.  XML-bomb
posture: size gate + stdlib ElementTree (no external entities by
default in Python ≥3.8).

Reference analogue: unstructured-data file routing; JATS is the
document type a biomedical corpus drop contains.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from verified_sources_spark.boundary import map_rows

__all__ = [
    "JatsError", "jats_extract", "encode_jats", "jats_units",
    "JATS_UNITS_SCHEMA",
]


class JatsError(ValueError):
    """Named refusal: not a JATS payload we can decode honestly."""


# inline elements whose TEXT is kept (emphasis & links)
_KEEP_INLINE = {"italic", "bold", "underline", "sc", "monospace",
                "ext-link", "uri", "email", "named-content"}
# inline elements dropped WITH their text (citation/math apparatus)
_DROP_INLINE = {"xref", "sup", "sub", "inline-formula",
                "disp-formula", "fn", "target", "milestone-start",
                "milestone-end"}


def _local(el) -> str:
    return el.tag.rsplit("}", 1)[-1]


def _inline_text(el) -> str:
    frag = [el.text or ""]
    for child in el:
        tag = _local(child)
        if tag in _DROP_INLINE:
            pass
        else:  # keep-listed or unknown: recurse (prose survives)
            frag.append(_inline_text(child))
        frag.append(child.tail or "")
    return "".join(frag)


def _para(el) -> str:
    import re

    return re.sub(r"\s+", " ", _inline_text(el)).strip()


def jats_extract(data: bytes, max_bytes: int = 64 << 20) -> dict:
    """``{title, abstract, units}``: units are (kind, text) pairs in
    document order — 'title'/'abstract'/'sec-title'/'p'/'caption'."""
    if len(data) > max_bytes:
        raise JatsError(f"article over size gate ({len(data)} bytes)")
    try:
        root = ET.fromstring(data)
    except (ET.ParseError, LookupError, ValueError) as e:
        raise JatsError(f"not XML: {e}") from None
    if _local(root) != "article":
        raise JatsError(
            f"root element <{_local(root)}> — not a JATS article")

    title = None
    abstract = None
    units: list[tuple[str, str]] = []
    front = next((el for el in root if _local(el) == "front"), None)
    if front is not None:
        for el in front.iter():
            if _local(el) == "article-title" and title is None:
                title = _para(el)
            elif _local(el) == "abstract" and abstract is None:
                abstract = " ".join(
                    _para(p) for p in el.iter() if _local(p) == "p")
    if title:
        units.append(("title", title))
    if abstract:
        units.append(("abstract", abstract))

    def walk_sec(sec):
        for el in sec:
            tag = _local(el)
            if tag == "title":
                t = _para(el)
                if t:
                    units.append(("sec-title", t))
            elif tag == "p":
                t = _para(el)
                if t:
                    units.append(("p", t))
            elif tag == "sec":
                walk_sec(el)
            elif tag in ("fig", "table-wrap", "boxed-text"):
                for cap in el.iter():
                    if _local(cap) == "caption":
                        for p in cap.iter():
                            if _local(p) in ("p", "title"):
                                t = _para(p)
                                if t:
                                    units.append(("caption", t))
                        break

    body = next((el for el in root if _local(el) == "body"), None)
    if body is not None:
        walk_sec(body)
    if not units:
        raise JatsError("JATS article with no extractable prose")
    return {"title": title, "abstract": abstract, "units": units}


def encode_jats(title: str, abstract: str,
                sections: list[tuple[str, str]],
                with_apparatus: bool = True) -> bytes:
    """Realistic JATS writer (independent of the reader): front with
    journal metadata, abstract, body sections whose paragraphs carry
    inline <xref>/<italic>/formula apparatus, one figure caption."""
    from xml.sax.saxutils import escape

    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<article xmlns:xlink="http://www.w3.org/1999/xlink" '
        'article-type="research-article">',
        "<front><journal-meta><journal-title-group>"
        "<journal-title>Fixture J</journal-title>"
        "</journal-title-group></journal-meta>",
        "<article-meta><title-group><article-title>"
        + escape(title) + "</article-title></title-group>",
        "<abstract><p>" + escape(abstract) + "</p></abstract>",
        "</article-meta></front><body>",
    ]
    for i, (head, prose) in enumerate(sections):
        parts.append(f'<sec id="s{i}"><title>{escape(head)}</title>')
        if with_apparatus and i == 0:
            parts.append(
                "<p>" + escape(prose)
                + ' <xref ref-type="bibr" rid="b1">[1]</xref>'
                "<inline-formula><mml:math "
                'xmlns:mml="http://www.w3.org/1998/Math/MathML">'
                "<mml:mi>x</mml:mi></mml:math></inline-formula>"
                " as <italic>shown</italic>.</p>")
            parts.append(
                '<fig id="f1"><caption><p>A figure caption.</p>'
                '</caption><graphic xlink:href="f1.jpg"/></fig>')
        else:
            parts.append("<p>" + escape(prose) + "</p>")
        parts.append("</sec>")
    parts.append("</body></article>")
    return "".join(parts).encode()


JATS_UNITS_SCHEMA = (
    "doc_id long, decoded_ok boolean, unit_idx int, kind string, "
    "n_units int, text string"
)


def jats_units(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched JATS → per-unit rows (title/abstract/sec-title/
    p/caption in document order); corrupt payloads isolate as
    ``decoded_ok=false``."""
    def run(_id, payload):
        try:
            out = jats_extract(bytes(payload))
            n = len(out["units"])
            for i, (kind, text) in enumerate(out["units"]):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "unit_idx": i, "kind": kind,
                    "n_units": n, "text": text}
        except JatsError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, JATS_UNITS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
