"""MediaWiki ingestion: the Wikipedia-dump share of a text corpus.

Wikipedia/Wiktionary XML dumps are the single most-used open
pretraining source, and they arrive as TWO layers of markup: the dump
container (``<mediawiki><page><revision><text>`` XML) and wikitext
inside each page.  Raw wikitext is half syntax — ``{{templates}}``,
``[[links|labels]]``, ``{| tables |}``, ``<ref>`` citations, quote
runs — and ingesting it unstripped poisons shingles and quality
scores, while naive regex stripping silently eats prose (nested
templates are the classic failure).

``strip_wikitext`` is a single-pass walker with an explicit nesting
counter for ``{{ }}`` / ``{| |}`` (templates and tables drop WHOLE,
nested arbitrarily deep), comment and ``<ref>``/HTML-tag removal,
link resolution (``[[target|label]]`` → label, ``[[target]]`` →
target, namespace links like ``[[File:...]]`` dropped whole,
``[url label]`` → label), heading and quote-run cleanup, and the same
paragraph canonicalization the LaTeX walker applies.

``iter_dump_pages`` walks a dump XML (namespace-agnostic, redirects
flagged) and ``wiki_pages`` is the Arrow-batched Spark operator over
binary dump payloads.

Reference analogue: the unstructured-data routing again — a wiki dump
is a filetype real document drops contain; public corpora (The Pile,
Dolma) all carry a wiki component processed exactly this way.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from verified_sources_spark.boundary import map_rows

__all__ = [
    "WikiError", "strip_wikitext", "iter_dump_pages", "wiki_pages",
    "encode_dump", "WIKI_PAGES_SCHEMA",
]


class WikiError(ValueError):
    """Named refusal: not a MediaWiki payload we can decode honestly."""


_COMMENT = re.compile(r"<!--.*?-->", re.S)
_REF = re.compile(r"<ref[^>/]*/>|<ref[^>]*>.*?</ref>", re.S | re.I)
_TAG = re.compile(r"</?[a-zA-Z][^>]*>")
_EXTLINK = re.compile(r"\[(?:https?|ftp)://[^\s\]]+(?:\s+([^\]]*))?\]")
_HEADING = re.compile(r"(?m)^(={2,6})\s*(.*?)\s*\1\s*$")
_QUOTES = re.compile(r"'{2,5}")
_MAGIC = re.compile(r"(?m)^__[A-Z]+__$|__(?:TOC|NOTOC|FORCETOC)__")

# namespace prefixes whose [[links]] drop whole (media/category
# plumbing, not prose)
_DROP_NS = ("file:", "image:", "category:", "media:")


def _drop_nested(text: str, open_tok: str, close_tok: str) -> str:
    """Remove every balanced open..close region (nesting-aware); an
    unbalanced opener drops to end of text (how real parsers behave on
    truncated templates).  Scans with C-speed ``str.find`` jumps —
    the per-character Python loop was the wiki front door's hot spot
    (2.6ms/page, 10x the other extractors)."""
    out = []
    i, n = 0, len(text)
    lo, lc = len(open_tok), len(close_tok)
    while i < n:
        j = text.find(open_tok, i)
        if j < 0:
            out.append(text[i:])
            break
        out.append(text[i:j])
        depth = 1
        k = j + lo
        while depth and k < n:
            nc = text.find(close_tok, k)
            if nc < 0:
                k = n  # unbalanced opener: swallow to end
                break
            no = text.find(open_tok, k)
            if 0 <= no < nc:
                depth += 1
                k = no + lo
            else:
                depth -= 1
                k = nc + lc
        i = k
    return "".join(out)


def _resolve_links(text: str) -> str:
    # innermost-first so nested image captions ([[File:x|[[a|b]]]])
    # resolve before the outer drop
    pat = re.compile(r"\[\[([^\[\]]*)\]\]")
    while True:
        def sub(m):
            body = m.group(1)
            low = body.lstrip().lower()
            if any(low.startswith(p) for p in _DROP_NS):
                return ""
            target, _, label = body.partition("|")
            return (label or target).strip()

        new = pat.sub(sub, text)
        if new == text:
            return new
        text = new


def strip_wikitext(src: str) -> dict:
    """``{text, headings}``: prose with templates/tables/refs/links
    resolved away, headings collected AND kept as their own lines."""
    t = _COMMENT.sub("", src)
    t = _REF.sub("", t)
    t = _drop_nested(t, "{{", "}}")
    t = _drop_nested(t, "{|", "|}")
    t = _resolve_links(t)
    t = _EXTLINK.sub(lambda m: m.group(1) or "", t)
    headings: list[str] = []

    def _heading(m):
        h = _QUOTES.sub("", m.group(2)).strip()
        headings.append(h)
        return "\n" + h + "\n"

    t = _HEADING.sub(_heading, t)
    t = _QUOTES.sub("", t)
    t = _MAGIC.sub("", t)
    t = _TAG.sub("", t)
    # list/indent/definition markers at line start are layout
    t = re.sub(r"(?m)^[*#:;]+\s*", "", t)
    paras = [re.sub(r"[ \t]+", " ", p).strip()
             for p in re.split(r"\n\s*\n|\n", t)]
    return {"text": "\n".join(p for p in paras if p),
            "headings": headings}


def iter_dump_pages(data: bytes, max_bytes: int = 256 << 20):
    """Yield ``{title, ns, page_id, redirect, wikitext}`` per <page>
    of a MediaWiki dump XML (any schema version — matching is by
    local tag name).  Raises :class:`WikiError` on non-dump XML."""
    if len(data) > max_bytes:
        raise WikiError(f"dump over size gate ({len(data)} bytes)")
    try:
        root = ET.fromstring(data)
    except (ET.ParseError, LookupError, ValueError) as e:
        raise WikiError(f"not XML: {e}") from None

    def local(el):
        return el.tag.rsplit("}", 1)[-1]

    if local(root) != "mediawiki":
        raise WikiError(
            f"root element <{local(root)}> — not a MediaWiki dump")
    found = False
    for page in root:
        if local(page) != "page":
            continue
        found = True
        title = ns = pid = None
        redirect = False
        wikitext = None
        for el in page:
            tag = local(el)
            if tag == "title":
                title = el.text or ""
            elif tag == "ns":
                try:
                    ns = int(el.text or 0)
                except ValueError:
                    raise WikiError(
                        f"non-numeric <ns> {el.text!r}") from None
            elif tag == "id" and pid is None:
                try:
                    pid = int(el.text or 0)
                except ValueError:
                    raise WikiError(
                        f"non-numeric <id> {el.text!r}") from None
            elif tag == "redirect":
                redirect = True
            elif tag == "revision":
                for rel in el:
                    if local(rel) == "text":
                        wikitext = rel.text or ""
        yield {"title": title, "ns": ns or 0, "page_id": pid,
               "redirect": redirect, "wikitext": wikitext or ""}
    if not found:
        raise WikiError("MediaWiki dump with no <page> elements")


def encode_dump(pages: list[dict]) -> bytes:
    """Dump-XML writer for fixtures (independent of the reader):
    export-0.10-shaped document, one revision per page."""
    from xml.sax.saxutils import escape

    parts = ['<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
             'version="0.10" xml:lang="en">'
             "<siteinfo><sitename>Fixture</sitename></siteinfo>"]
    for i, p in enumerate(pages):
        parts.append("<page>")
        parts.append(f"<title>{escape(p['title'])}</title>")
        parts.append(f"<ns>{p.get('ns', 0)}</ns>")
        parts.append(f"<id>{p.get('page_id', i + 1)}</id>")
        if p.get("redirect"):
            parts.append(
                f'<redirect title="{escape(p["redirect"])}" />')
        parts.append(
            f"<revision><id>{100 + i}</id>"
            '<text xml:space="preserve">'
            + escape(p["wikitext"]) + "</text></revision>")
        parts.append("</page>")
    parts.append("</mediawiki>")
    return "".join(parts).encode()


WIKI_PAGES_SCHEMA = (
    "doc_id long, decoded_ok boolean, page_id long, title string, "
    "ns int, redirect boolean, n_headings int, text string"
)


def wiki_pages(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched dump → stripped-page rows: one row per <page>,
    wikitext stripped to prose; corrupt payloads isolate as
    ``decoded_ok=false``."""
    def run(_id, payload):
        try:
            # buffer per dump: mid-generator refusals are
            # all-or-nothing, never partial rows + a false row
            doc_rows = []
            for p in iter_dump_pages(bytes(payload)):
                out = strip_wikitext(p["wikitext"])
                doc_rows.append({
                    "doc_id": _id, "decoded_ok": True,
                    "page_id": p["page_id"],
                    "title": p["title"], "ns": p["ns"],
                    "redirect": p["redirect"],
                    "n_headings": len(out["headings"]),
                    "text": out["text"]})
        except WikiError:
            doc_rows = [{"doc_id": _id, "decoded_ok": False}]
        yield from doc_rows

    from pyspark.sql import functions as F

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run,
                   WIKI_PAGES_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
