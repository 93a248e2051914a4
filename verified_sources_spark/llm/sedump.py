"""Stack Exchange data-dump ingestion — the Q&A share of a corpus.

The Stack Exchange dumps (Posts.xml per site) are a staple of open
pretraining and instruction-tuning sets: questions and answers with
scores, tags and HTML bodies, shipped as one XML element per row with
everything HTML-escaped into attributes
(``<row Id=".." PostTypeId="1" Body="&lt;p&gt;..." Tags="&lt;python&gt;"/>``).
Naive ingestion keeps the ``&lt;p&gt;`` escapes or the raw tags and
poisons the text surface; dropping the structure loses the
question↔answer pairing instruction sets need.

``iter_posts`` walks a Posts.xml (size-gated, stdlib ElementTree),
types the interesting attributes, parses the ``<tag><tag>`` list and
routes each Body through the SAME ``extract_text`` as the WARC/email/
EPUB/MHTML front doors.  ``se_posts`` is the Arrow-batched Spark
operator: one output row per post, carrying parent_id so question↔
answer joins are one equi-join downstream.

Reference analogue: the REST-connector family already models the
live-API half of this shape (sources/saas.py); the dump is the
at-rest half the corpus pipeline actually trains on.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from verified_sources_spark.boundary import map_rows

__all__ = [
    "SeDumpError", "iter_posts", "encode_posts", "se_posts",
    "SE_POSTS_SCHEMA",
]


class SeDumpError(ValueError):
    """Named refusal: not a Stack Exchange dump we can decode
    honestly."""


def iter_posts(data: bytes, max_bytes: int = 256 << 20):
    """Yield one dict per ``<row>`` of a Posts.xml: ``{post_id,
    post_type, parent_id, title, score, tags, text}`` with the Body's
    HTML reduced to prose via the shared extractor."""
    if len(data) > max_bytes:
        raise SeDumpError(f"dump over size gate ({len(data)} bytes)")
    try:
        root = ET.fromstring(data)
    except (ET.ParseError, LookupError, ValueError) as e:
        raise SeDumpError(f"not XML: {e}") from None
    if root.tag.rsplit("}", 1)[-1] != "posts":
        raise SeDumpError(
            f"root element <{root.tag}> — not a posts dump")
    from verified_sources_spark.llm.warc import extract_text

    found = False
    for row in root:
        if row.tag.rsplit("}", 1)[-1] != "row":
            continue
        found = True
        a = row.attrib
        body = a.get("Body", "")
        # ElementTree already un-escaped the attribute: body is HTML
        _, text = extract_text(body, collapse=True)
        tags_raw = a.get("Tags", "")
        tags = [t for t in tags_raw.replace(">", "<").split("<") if t]
        try:
            yield {
                "post_id": int(a["Id"]) if "Id" in a else None,
                "post_type": int(a.get("PostTypeId", 0)),
                "parent_id": (int(a["ParentId"])
                              if "ParentId" in a else None),
                "title": a.get("Title"),
                "score": int(a.get("Score", 0)),
                "tags": ";".join(tags) or None,
                "text": text,
            }
        except ValueError as e:
            # a non-numeric Id/Score must refuse through the NAMED
            # error so the operator isolates the dump instead of
            # crashing the task mid-generator
            raise SeDumpError(
                f"non-numeric row attribute: {e}") from None
    if not found:
        raise SeDumpError("posts dump with no <row> elements")


def encode_posts(posts: list[dict]) -> bytes:
    """Posts.xml writer for fixtures (independent of the reader):
    attribute-escaped rows exactly as the dumps ship them."""
    from xml.sax.saxutils import quoteattr

    parts = ['<?xml version="1.0" encoding="utf-8"?>\n<posts>']
    for p in posts:
        attrs = [f'Id={quoteattr(str(p["post_id"]))}',
                 f'PostTypeId={quoteattr(str(p.get("post_type", 1)))}']
        if p.get("parent_id") is not None:
            attrs.append(f'ParentId={quoteattr(str(p["parent_id"]))}')
        if p.get("title") is not None:
            attrs.append(f'Title={quoteattr(p["title"])}')
        attrs.append(f'Score={quoteattr(str(p.get("score", 0)))}')
        if p.get("tags"):
            attrs.append(f'Tags={quoteattr("".join(f"<{t}>" for t in p["tags"]))}')
        attrs.append(f'Body={quoteattr(p.get("body_html", ""))}')
        parts.append("  <row " + " ".join(attrs) + " />")
    parts.append("</posts>")
    return "\n".join(parts).encode()


SE_POSTS_SCHEMA = (
    "doc_id long, decoded_ok boolean, post_id long, post_type int, "
    "parent_id long, title string, score int, tags string, text string"
)


def se_posts(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched Posts.xml → per-post rows; corrupt payloads
    isolate as ``decoded_ok=false``."""
    def run(_id, payload):
        try:
            # buffer per dump: a mid-generator refusal must be
            # all-or-nothing, never partial rows + a false row
            doc_rows = [{"doc_id": _id, "decoded_ok": True, **p}
                        for p in iter_posts(bytes(payload))]
        except SeDumpError:
            doc_rows = [{"doc_id": _id, "decoded_ok": False}]
        yield from doc_rows

    from pyspark.sql import functions as F

    out = map_rows(df.select(F.col(id_col), F.col(asset_col)), run,
                   SE_POSTS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
