"""RSS 2.0 / Atom 1.0 feed extraction — stdlib xml.etree.

Feeds are a standing crawl artifact (every blog/news/podcast site
serves one) and a high-quality text source: titles, summaries and
full-content entries with stable links and dates.  This module turns
feed bytes into per-entry rows:

- ``sniff_feed``: 'rss' / 'atom' by the root element (after the same
  decl/comment/doctype skip the SVG sniff uses).
- ``feed_entries``: [{title, link, date, summary, text}] in document
  order.  RSS reads item/title, link, pubDate, description and the
  content:encoded extension (the full-text convention); Atom reads
  entry/title, link[rel=alternate] @href, updated/published, summary,
  content.  HTML-bearing fields (description/content) route through
  the SAME extract_text the WARC/EML paths use, so feed-borne HTML
  lands in the one canonical text shape.  Entity declarations refuse
  by name (the XML-bomb gate shared with llm/svg_codec).
- ``encode_rss`` / ``encode_atom``: real fixture writers.

Reference analogue: sources/scraping lands page content for
downstream transforms — a feed is the site handing you the same
content pre-structured.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from verified_sources_spark.boundary import map_rows

__all__ = ["FeedError", "sniff_feed", "feed_entries",
           "encode_rss", "encode_atom"]

_ATOM_NS = "http://www.w3.org/2005/Atom"
_CONTENT_NS = "http://purl.org/rss/1.0/modules/content/"


class FeedError(ValueError):
    """Named refusal: not a feed this parser can serve honestly."""


def _skip_prolog(head: bytes) -> bytes:
    head = head.lstrip(b"\xef\xbb\xbf \t\r\n")
    for _ in range(8):
        if head.startswith(b"<?"):
            e = head.find(b"?>")
            if e < 0:
                return b""
            head = head[e + 2:].lstrip()
        elif head.startswith(b"<!--"):
            e = head.find(b"-->")
            if e < 0:
                return b""
            head = head[e + 3:].lstrip()
        elif head.startswith(b"<!"):
            lb = head.find(b"[")
            gt = head.find(b">")
            if lb != -1 and lb < gt:
                e = head.find(b"]>")
                if e < 0:
                    return b""
                head = head[e + 2:].lstrip()
            else:
                if gt < 0:
                    return b""
                head = head[gt + 1:].lstrip()
        else:
            break
    return head


def sniff_feed(payload: bytes) -> str | None:
    """'rss' / 'atom' / None by the root element in the first KiB."""
    head = _skip_prolog(payload[:1024])
    if head.startswith(b"<rss"):
        return "rss"
    if head.startswith(b"<feed"):
        return "atom"
    return None


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _html_to_text(html: str) -> str:
    from verified_sources_spark.llm.warc import extract_text

    _, text = extract_text(html, collapse=True)
    return text


def feed_entries(payload: bytes, max_bytes: int = 32 << 20) -> list[dict]:
    """Per-entry dicts in document order."""
    if len(payload) > max_bytes:
        raise FeedError(f"feed over size gate ({len(payload)} bytes)")
    kind = sniff_feed(payload)
    if kind is None:
        raise FeedError("not a feed payload (no <rss or <feed root)")
    if re.search(rb"<!ENTITY", payload[:65536]):
        raise FeedError(
            "feed with entity definitions (XML-bomb shape) "
            "— refusing by name")
    try:
        root = ET.fromstring(payload)
    except (ET.ParseError, LookupError, ValueError) as e:
        raise FeedError(f"malformed feed XML: {e}") from None

    out: list[dict] = []
    if kind == "rss":
        channel = next((c for c in root if _local(c.tag) == "channel"),
                       None)
        if channel is None:
            raise FeedError("RSS without a <channel>")
        for item in channel:
            if _local(item.tag) != "item":
                continue
            fields: dict[str, str] = {}
            content = None
            for el in item:
                name = _local(el.tag)
                val = (el.text or "").strip()
                if el.tag == f"{{{_CONTENT_NS}}}encoded":
                    content = val
                elif name in ("title", "link", "pubDate", "description"):
                    fields[name] = val
            body = content if content is not None else fields.get(
                "description")
            out.append({
                "title": fields.get("title"),
                "link": fields.get("link"),
                "date": fields.get("pubDate"),
                "summary": (_html_to_text(fields["description"])
                            if fields.get("description") else None),
                "text": _html_to_text(body) if body else None,
            })
        return out

    # Atom
    for entry in root:
        if _local(entry.tag) != "entry":
            continue
        title = link = date = summary = content = None
        for el in entry:
            name = _local(el.tag)
            if name == "title":
                title = (el.text or "").strip()
            elif name == "link":
                rel = el.get("rel", "alternate")
                if rel == "alternate" or link is None:
                    link = el.get("href")
            elif name in ("updated", "published") and date is None:
                date = (el.text or "").strip()
            elif name == "summary":
                summary = "".join(el.itertext()).strip()
            elif name == "content":
                content = "".join(el.itertext()).strip()
        body = content if content is not None else summary
        out.append({
            "title": title,
            "link": link,
            "date": date,
            "summary": _html_to_text(summary) if summary else None,
            "text": _html_to_text(body) if body else None,
        })
    return out


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def encode_rss(items: list[dict], title: str = "fixture feed") -> bytes:
    """Real RSS 2.0 fixture; item dicts may carry title/link/date/
    description (HTML allowed) and content (full-text extension)."""
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             f'<rss version="2.0" xmlns:content="{_CONTENT_NS}">',
             f"<channel><title>{_esc(title)}</title>"]
    for it in items:
        parts.append("<item>")
        if it.get("title") is not None:
            parts.append(f"<title>{_esc(it['title'])}</title>")
        if it.get("link") is not None:
            parts.append(f"<link>{_esc(it['link'])}</link>")
        if it.get("date") is not None:
            parts.append(f"<pubDate>{_esc(it['date'])}</pubDate>")
        if it.get("description") is not None:
            parts.append(
                f"<description>{_esc(it['description'])}</description>")
        if it.get("content") is not None:
            parts.append(f"<content:encoded>{_esc(it['content'])}"
                         f"</content:encoded>")
        parts.append("</item>")
    parts.append("</channel></rss>")
    return "\n".join(parts).encode()


def encode_atom(entries: list[dict], title: str = "fixture feed") -> bytes:
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             f'<feed xmlns="{_ATOM_NS}">',
             f"<title>{_esc(title)}</title>"]
    for it in entries:
        parts.append("<entry>")
        if it.get("title") is not None:
            parts.append(f"<title>{_esc(it['title'])}</title>")
        if it.get("link") is not None:
            parts.append(f'<link rel="alternate" '
                         f'href="{_esc(it["link"])}"/>')
        if it.get("date") is not None:
            parts.append(f"<updated>{_esc(it['date'])}</updated>")
        if it.get("summary") is not None:
            parts.append(f'<summary type="html">'
                         f"{_esc(it['summary'])}</summary>")
        if it.get("content") is not None:
            parts.append(f'<content type="html">'
                         f"{_esc(it['content'])}</content>")
        parts.append("</entry>")
    parts.append("</feed>")
    return "\n".join(parts).encode()


FEED_ENTRIES_SCHEMA = ("doc_id long, decoded_ok boolean, kind string, "
                       "entry_idx int, title string, link string, "
                       "date string, summary string, text string")


def feed_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched feed → per-entry rows; payloads never shuffle,
    corrupt feeds isolate as one ``decoded_ok=false`` row."""
    def run(_id, payload):
        payload = bytes(payload)
        kind = sniff_feed(payload)
        try:
            for i, e in enumerate(feed_entries(payload)):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "kind": kind, "entry_idx": i,
                    "title": e["title"], "link": e["link"],
                    "date": e["date"], "summary": e["summary"],
                    "text": e["text"]}
        except FeedError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, FEED_ENTRIES_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
