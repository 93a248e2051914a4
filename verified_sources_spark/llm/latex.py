"""LaTeX source ingestion — the arXiv-dump share of a text corpus.

Paper corpora (arXiv bulk source, journal dumps, thesis archives) ship
as .tex, and the prose inside is some of the densest technical text a
training set gets — but raw LaTeX is ~half markup: comments, preambles,
math environments, float scaffolding, \\cite keys.  Ingesting it
verbatim poisons dedup shingles and quality scores with
``\\begin{figure}[htbp]`` noise; dropping the files loses the corpus.

``latex_extract`` is a from-scratch single-pass walker (no TeX engine
exists in this environment, and none is needed for TEXT recovery —
this is markup stripping with TeX's lexical rules, not typesetting):

- comments: unescaped ``%`` to end of line (``\\%`` is a literal)
- preamble: everything before ``\\begin{document}`` is dropped except
  ``\\title{...}`` (kept as the title); no document env = whole file
  is body (real snippets ship headerless)
- display/inline math (``$...$``, ``$$...$$``, ``\\[...\\]``,
  ``\\(...\\)``, equation/align/gather/math envs): dropped whole —
  formulas are not prose, and half-stripped math is worse than none
- dropped environments: figure/table scaffolding (captions KEPT —
  captions are prose), tabular, tikzpicture, verbatim/lstlisting
  (code, not prose), thebibliography
- sectioning (``\\section``/``\\subsection``/etc.) and ``\\caption``
  emit their argument as prose lines; formatting wrappers
  (``\\emph``, ``\\textbf``, ...) keep their argument inline;
  ``\\item`` becomes a line break; every OTHER command is dropped
  with its star/option forms (``\\cite{...}`` → nothing, the honest
  default: a command we don't know is markup, not prose)
- escapes ``\\% \\& \\_ \\$ \\# \\{ \\}`` → literals; ``~`` → space;
  ``\\\\`` → line break; ``{...}`` groups recurse transparently

Reference analogue: the unstructured-data file routing
(sources/unstructured_data/helpers.py:30-63) — .tex is a filetype a
real document drop contains.
"""

from __future__ import annotations

import re

from verified_sources_spark.boundary import map_rows

__all__ = [
    "LatexError", "latex_text", "latex_extract", "encode_latex",
    "latex_extract_op", "LATEX_EXTRACT_SCHEMA",
]


class LatexError(ValueError):
    """Named refusal: not a LaTeX payload we can decode honestly."""


# environments whose CONTENT is dropped (captions are rescued first
# for float envs via the \caption command inside them)
_DROP_ENVS = {
    "equation", "align", "gather", "math", "displaymath", "eqnarray",
    "multline", "tabular", "tikzpicture", "verbatim", "lstlisting",
    "thebibliography", "filecontents",
}
# float wrappers: scaffolding dropped, but the walker RECURSES so
# \caption inside still emits
_FLOAT_ENVS = {"figure", "table", "wrapfigure", "subfigure"}

_SECTIONING = {"part", "chapter", "section", "subsection",
               "subsubsection", "paragraph", "subparagraph"}
_KEEP_INLINE = {"emph", "textbf", "textit", "texttt", "textsc",
                "textrm", "textsf", "underline", "mbox", "text",
                "textnormal", "uppercase", "lowercase"}
_ESCAPES = {"%": "%", "&": "&", "_": "_", "$": "$", "#": "#",
            "{": "{", "}": "}", " ": " ", ",": " ", ";": " "}

_CMD = re.compile(r"\\([a-zA-Z]+)\*?|\\(.)", re.S)


def _skip_group(src: str, pos: int) -> tuple[str, int]:
    """Read one balanced {...} group starting at pos (src[pos]=='{');
    returns (content, position after the closing brace)."""
    depth = 0
    start = pos + 1
    i = pos
    while i < len(src):
        c = src[i]
        if c == "\\" and i + 1 < len(src):
            i += 2
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return src[start:i], i + 1
        i += 1
    raise LatexError("unbalanced braces in LaTeX source")


def _skip_opt(src: str, pos: int) -> int:
    """Skip one [...] optional argument if present."""
    if pos < len(src) and src[pos] == "[":
        j = src.find("]", pos)
        if j >= 0:
            return j + 1
    return pos


def _walk(src: str, out: list[str], headings: list[str]) -> None:
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "%":
            j = src.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "~":
            out.append(" ")
            i += 1
            continue
        if c == "$":
            # inline or display math: drop to the closing delimiter
            dd = src.startswith("$$", i)
            close = src.find("$$" if dd else "$", i + (2 if dd else 1))
            if close < 0:
                raise LatexError("unterminated math ($) in LaTeX source")
            i = close + (2 if dd else 1)
            out.append(" ")
            continue
        if c == "{":
            content, i = _skip_group(src, i)
            _walk(content, out, headings)
            continue
        if c == "}":
            raise LatexError("unbalanced braces in LaTeX source")
        if c != "\\":
            out.append(c)
            i += 1
            continue
        m = _CMD.match(src, i)
        if not m:
            i += 1
            continue
        if m.group(2) is not None:  # \<single char>
            ch = m.group(2)
            if ch == "\\":
                out.append("\n")
            elif ch == "[":
                close = src.find("\\]", m.end())
                if close < 0:
                    raise LatexError("unterminated \\[ display math")
                i = close + 2
                out.append(" ")
                continue
            elif ch == "(":
                close = src.find("\\)", m.end())
                if close < 0:
                    raise LatexError("unterminated \\( inline math")
                i = close + 2
                out.append(" ")
                continue
            else:
                out.append(_ESCAPES.get(ch, ""))
            i = m.end()
            continue
        name = m.group(1)
        i = m.end()
        if name == "begin":
            env, i = _skip_group(src, i)
            env_name = env.strip().rstrip("*")
            end_tag = f"\\end{{{env}}}"
            close = src.find(end_tag, i)
            if close < 0:
                raise LatexError(f"unclosed environment {env!r}")
            body = src[i:close]
            i = close + len(end_tag)
            if env_name in _DROP_ENVS:
                out.append(" ")
            elif env_name in _FLOAT_ENVS:
                # scaffolding dropped; captions inside are prose
                for cm in re.finditer(r"\\caption\s*(?=\{)", body):
                    cap, _ = _skip_group(body, cm.end())
                    sub: list[str] = []
                    _walk(cap, sub, headings)
                    out.append("\n" + "".join(sub).strip() + "\n")
            else:  # abstract/itemize/center/quote/...: recurse
                _walk(body, out, headings)
            continue
        if name == "end":
            _, i = _skip_group(src, i)
            continue
        if name in ("verb",):  # \verb|code| — delimiter pair, kept
            if i < n:
                delim = src[i]
                close = src.find(delim, i + 1)
                if close < 0:
                    raise LatexError("unterminated \\verb")
                out.append(src[i + 1:close])
                i = close + 1
            continue
        if name == "item":
            i = _skip_opt(src, i)
            out.append("\n")
            continue
        if name in _SECTIONING or name == "caption":
            i = _skip_opt(src, i)
            if i < n and src[i] == "{":
                arg, i = _skip_group(src, i)
                sub = []
                _walk(arg, sub, headings)
                h = "".join(sub).strip()
                if name in _SECTIONING:
                    headings.append(h)
                out.append("\n" + h + "\n")
            continue
        if name in _KEEP_INLINE:
            i = _skip_opt(src, i)
            if i < n and src[i] == "{":
                arg, i = _skip_group(src, i)
                _walk(arg, sub := [], headings)
                out.append("".join(sub))
            continue
        if name == "footnote":
            # footnote text is prose; emit inline in parentheses-free
            # form after the anchor, matching the docx/odt posture of
            # keeping note text
            if i < n and src[i] == "{":
                arg, i = _skip_group(src, i)
                _walk(arg, sub := [], headings)
                out.append(" " + "".join(sub).strip())
            continue
        # any other command: swallow its optional + ONE braced arg
        # pair conservatively when glued to it, emit nothing
        i = _skip_opt(src, i)
        if i < n and src[i] == "{":
            _, i = _skip_group(src, i)
        continue


def latex_text(src: str) -> dict:
    """``{title, text, headings}`` for one LaTeX source string."""
    if "\\documentclass" not in src and "\\begin{document}" not in src \
            and "\\section" not in src:
        raise LatexError("no LaTeX structure markers — not a .tex source")
    title = None
    tm = re.search(r"\\title\s*(?=\{)", src)
    if tm:
        targ, _ = _skip_group(src, tm.end())
        sub: list[str] = []
        _walk(targ, sub, [])
        title = "".join(sub).strip() or None
    bm = re.search(r"\\begin\{document\}", src)
    body = src[bm.end():] if bm else src
    em = body.find("\\end{document}")
    if em >= 0:
        body = body[:em]
    out: list[str] = []
    headings: list[str] = []
    _walk(body, out, headings)
    if tm and bm and "\\maketitle" in src and title:
        out.insert(0, title + "\n")
    text = "".join(out)
    # canonicalize whitespace: TeX treats blank lines as paragraph
    # breaks and everything else as soft space
    paras = [re.sub(r"\s+", " ", p).strip()
             for p in re.split(r"\n\s*\n|\n", text)]
    text = "\n".join(p for p in paras if p)
    return {"title": title, "text": text, "headings": headings}


def encode_latex(title: str, sections: list[tuple[str, str]],
                 with_math: bool = True,
                 with_figure: bool = True) -> bytes:
    """Realistic paper-shaped .tex writer (independent of the reader):
    preamble with packages and comments, title/maketitle, per-section
    prose, optional equation env + commented lines + a figure with a
    caption."""
    parts = [
        "% fixture paper\n",
        "\\documentclass[11pt]{article}\n",
        "\\usepackage{amsmath} % math\n",
        f"\\title{{{title}}}\n",
        "\\author{A.~Author \\and B.~Author}\n",
        "\\begin{document}\n\\maketitle\n",
    ]
    for i, (head, prose) in enumerate(sections):
        parts.append(f"\\section{{{head}}}\n")
        parts.append(prose + "\n")
        if with_math and i == 0:
            parts.append("\\begin{equation}\n  e = m c^2"
                         " % famous\n\\end{equation}\n")
        if with_figure and i == 0:
            parts.append(
                "\\begin{figure}[htbp]\n\\centering\n"
                "\\rule{1cm}{1cm}\n"
                "\\caption{A caption worth keeping}\n"
                "\\end{figure}\n")
    parts.append("\\end{document}\n")
    return "".join(parts).encode()


LATEX_EXTRACT_SCHEMA = (
    "doc_id long, decoded_ok boolean, title string, n_headings int, "
    "headings string, text string"
)


def latex_extract_op(df, id_col: str = "doc_id",
                     asset_col: str = "asset"):
    """Arrow-batched .tex → text: one row per source, payloads never
    shuffle, non-LaTeX/corrupt payloads isolate as
    ``decoded_ok=false``."""
    def run(_id, payload):
        try:
            src = bytes(payload).decode("utf-8", "replace")
            out = latex_text(src)
            yield {
                "doc_id": _id, "decoded_ok": True,
                "title": out["title"],
                "n_headings": len(out["headings"]),
                "headings": ";".join(out["headings"]) or None,
                "text": out["text"]}
        except LatexError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, LATEX_EXTRACT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def latex_extract(data: bytes) -> dict:
    """Bytes front door used by tests: decode UTF-8 and parse."""
    return latex_text(data.decode("utf-8", errors="replace"))
