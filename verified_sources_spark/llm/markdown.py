"""Markdown extraction — the code-corpus prep step, pure stdlib.

READMEs and docs dominate GitHub-derived text, and training pipelines
want two different things from one .md file: the PROSE with syntax
stripped (headings, emphasis, links as their text), and the FENCED
CODE BLOCKS separated out with their language tags (code belongs in
the code mixture, not the prose mixture — and a naive strip that
leaves ``` fences inline poisons both).

``markdown_extract`` returns {text, headings, code_blocks:
[{lang, code}], n_links}:

- fenced blocks (``` / ~~~, optional info string) are lifted out
  verbatim — nothing inside a fence is treated as markdown;
- ATX headings keep their text (collected separately too), setext
  underlines drop;
- links/images keep their visible text ([t](u) → t, ![alt](u) → alt,
  reference-style [t][id] → t), autolinks <http://..> keep the URL;
- emphasis/strikethrough/inline-code markers strip, list bullets and
  blockquote markers strip, tables keep cell text (pipes → tabs),
  horizontal rules and link-reference definitions drop.

This is a line-grammar subset (CommonMark's full inline parser is a
rendering concern); behavior is pinned by fixtures, and anything the
grammar does not recognize passes through as plain text — markdown's
own failure mode is graceful degradation, so no refusals here beyond
the size gate.
"""

from __future__ import annotations

import re

from verified_sources_spark.boundary import map_rows

__all__ = ["markdown_extract", "MarkdownError"]


class MarkdownError(ValueError):
    pass


_FENCE = re.compile(r"^(```+|~~~+)\s*([\w+#.-]*)\s*$")
_ATX = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$")
_SETEXT = re.compile(r"^(=+|-+)\s*$")
_BULLET = re.compile(r"^(\s*)([-*+]|\d{1,9}[.)])\s+")
_QUOTE = re.compile(r"^\s*>\s?")
_HR = re.compile(r"^\s*((\*\s*){3,}|(-\s*){3,}|(_\s*){3,})$")
_REFDEF = re.compile(r"^\s*\[[^\]]+\]:\s+\S+")
_IMG = re.compile(r"!\[([^\]]*)\]\(([^)]*)\)")
_LINK = re.compile(r"\[([^\]]*)\]\(([^)]*)\)")
_REFLINK = re.compile(r"\[([^\]]+)\]\[[^\]]*\]")
_AUTO = re.compile(r"<(https?://[^>\s]+)>")
_CODE_SPAN = re.compile(r"`([^`]*)`")
_EMPH = re.compile(r"(\*\*\*|___|\*\*|__|\*|_|~~)(?=\S)(.+?)(?<=\S)\1")


def _inline(s: str, links: list) -> str:
    s = _IMG.sub(lambda m: m.group(1), s)

    def link(m):
        links.append(m.group(2))
        return m.group(1)

    s = _LINK.sub(link, s)
    s = _REFLINK.sub(lambda m: m.group(1), s)
    s = _AUTO.sub(lambda m: m.group(1), s)
    s = _CODE_SPAN.sub(lambda m: m.group(1), s)
    for _ in range(4):  # nested emphasis resolves in a few passes
        s2 = _EMPH.sub(lambda m: m.group(2), s)
        if s2 == s:
            break
        s = s2
    return s


def markdown_extract(data: bytes, max_bytes: int = 32 << 20) -> dict:
    if len(data) > max_bytes:
        raise MarkdownError(f"markdown over size gate ({len(data)} bytes)")
    text = data.decode("utf-8", errors="replace")
    lines = text.split("\n")
    prose: list[str] = []
    headings: list[str] = []
    code_blocks: list[dict] = []
    links: list = []
    i = 0
    fence: str | None = None
    fence_lang = ""
    fence_body: list[str] = []
    while i < len(lines):
        line = lines[i].rstrip("\r")
        if fence is not None:
            if line.strip().startswith(fence):
                code_blocks.append({"lang": fence_lang or None,
                                    "code": "\n".join(fence_body)})
                fence = None
                fence_body = []
            else:
                fence_body.append(line)
            i += 1
            continue
        m = _FENCE.match(line.strip())
        if m:
            fence = m.group(1)[:3]
            fence_lang = m.group(2)
            i += 1
            continue
        if _HR.match(line) or _REFDEF.match(line):
            i += 1
            continue
        m = _ATX.match(line)
        if m:
            h = _inline(m.group(2), links)
            headings.append(h)
            prose.append(h)
            i += 1
            continue
        # setext heading: text line followed by === / ---
        if (line.strip() and i + 1 < len(lines)
                and _SETEXT.match(lines[i + 1].strip())
                and not _BULLET.match(line)):
            h = _inline(line.strip(), links)
            headings.append(h)
            prose.append(h)
            i += 2
            continue
        s = _QUOTE.sub("", line)
        s = _BULLET.sub(lambda m: m.group(1), s)
        if "|" in s and s.strip().startswith("|"):
            if re.fullmatch(r"[|\s:-]+", s.strip()):
                i += 1
                continue  # table separator row
            cells = [c.strip() for c in s.strip().strip("|").split("|")]
            s = "\t".join(cells)
        prose.append(_inline(s, links))
        i += 1
    if fence is not None:  # unterminated fence: keep the code anyway
        code_blocks.append({"lang": fence_lang or None,
                            "code": "\n".join(fence_body)})
    out_text = re.sub(r"\n{3,}", "\n\n", "\n".join(prose)).strip()
    return {"text": out_text, "headings": headings,
            "code_blocks": code_blocks, "n_links": len(links)}


MARKDOWN_SCHEMA = ("doc_id long, decoded_ok boolean, text string, "
                   "n_headings int, n_links int, n_code_blocks int, "
                   "code_langs string, code string")


def markdown_docs_extract(df, id_col: str = "doc_id",
                          asset_col: str = "asset"):
    """Arrow-batched markdown → one row per document: stripped prose,
    heading/link/code-block counts, the code blocks concatenated with
    their language tags (for the code-mixture side)."""
    def run(_id, payload):
        try:
            out = markdown_extract(bytes(payload))
            yield {
                "doc_id": _id, "decoded_ok": True,
                "text": out["text"],
                "n_headings": len(out["headings"]),
                "n_links": out["n_links"],
                "n_code_blocks": len(out["code_blocks"]),
                "code_langs": ",".join(
                    b["lang"] or "" for b in out["code_blocks"]),
                "code": "\n\n".join(
                    b["code"] for b in out["code_blocks"]),
            }
        except MarkdownError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, MARKDOWN_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
