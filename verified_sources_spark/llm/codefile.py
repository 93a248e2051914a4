"""Source-code file signals — the BigCode/StarCoder-style filter
inputs for a code corpus.

Code corpora are curated on cheap per-file signals before anything
expensive runs: language (shebang + extension-free content heuristics,
since blobs from archives/crawls arrive nameless), line-shape stats
(max/mean line length — minified JS and generated files have
kilometer lines), alphanumeric fraction (binary spillover and art),
comment ratio (near-zero comments correlates with generated code;
near-one is license boilerplate), license-header detection and
autogenerated-marker detection.  All published-recipe heuristics
(the BigQuery/BigCode cleaning steps), all deterministic, all
computable in one pass per file.

``code_signals`` is the Arrow-batched operator: one row per blob with
the signal vector; downstream curation composes the thresholds (the
same posture as llm/quality_model for prose).
"""

from __future__ import annotations

import re

from verified_sources_spark.boundary import map_rows

__all__ = ["detect_language", "code_file_signals", "code_signals",
           "CODE_SIGNALS_SCHEMA"]

_SHEBANGS = [
    ("python", re.compile(r"^#!.*\bpython[0-9.]*\b")),
    ("shell", re.compile(r"^#!.*\b(?:ba|z|da|k)?sh\b")),
    ("perl", re.compile(r"^#!.*\bperl\b")),
    ("ruby", re.compile(r"^#!.*\bruby\b")),
    ("node", re.compile(r"^#!.*\bnode\b")),
]

# content markers: (language, regex, weight) — counted over the file,
# highest score wins, ties break by list order (deterministic)
_MARKERS = [
    ("python", re.compile(
        r"(?m)^\s*(?:def |class \w+[(:]|import \w|from \w+ import )"), 2),
    ("python", re.compile(r"(?m)^\s*#[^!]"), 1),
    ("javascript", re.compile(
        r"(?m)\b(?:const|let)\s+\w+\s*=|=>\s*[{(]|function\s*\w*\s*\("), 2),
    ("javascript", re.compile(r"(?m)^\s*//"), 1),
    ("java", re.compile(
        r"(?m)\b(?:public|private|protected)\s+(?:static\s+)?\w+[<\w\[\]]*\s+\w+\s*\("), 3),
    ("java", re.compile(r"(?m)^\s*package\s+[\w.]+;"), 3),
    ("c", re.compile(r"(?m)^\s*#include\s*[<\"]"), 3),
    ("go", re.compile(r"(?m)^func \w+\(|^package \w+$"), 3),
    ("rust", re.compile(r"(?m)^\s*(?:pub\s+)?fn \w+|let mut \w+"), 3),
    ("sql", re.compile(
        r"(?im)^\s*(?:SELECT\s.+\sFROM|CREATE TABLE|INSERT INTO)\b"), 3),
    ("html", re.compile(r"(?i)<html|<!doctype html"), 3),
]

_LICENSE = re.compile(
    r"(?i)\b(?:licensed under|apache license|mit license|gnu general "
    r"public license|bsd [23]-clause|mozilla public license|"
    r"spdx-license-identifier)\b")
_GENERATED = re.compile(
    r"(?i)\b(?:do not edit|auto-?generated|generated by|@generated|"
    r"this file was automatically generated)\b")

_COMMENT_LINE = re.compile(r"^\s*(?:#|//|--|;|\*|/\*|\")")


def detect_language(text: str) -> str | None:
    """Shebang first (authoritative), else the highest-scoring content
    marker; None when nothing scores (plain text / unknown)."""
    first = text.split("\n", 1)[0]
    if first.startswith("#!"):
        for lang, rx in _SHEBANGS:
            if rx.match(first):
                return lang
    scores: dict[str, int] = {}
    order: dict[str, int] = {}
    sample = text[:65536]
    for i, (lang, rx, w) in enumerate(_MARKERS):
        n = len(rx.findall(sample))
        if n:
            scores[lang] = scores.get(lang, 0) + n * w
            order.setdefault(lang, i)
    if not scores:
        return None
    best = max(scores.items(), key=lambda kv: (kv[1], -order[kv[0]]))
    return best[0]


def code_file_signals(text: str) -> dict:
    """The per-file signal vector (all deterministic)."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines = lines[:-1]
    n_lines = len(lines)
    lens = [len(ln) for ln in lines] or [0]
    n_comment = sum(1 for ln in lines if _COMMENT_LINE.match(ln))
    n_alnum = sum(ch.isalnum() for ch in text)
    head = "\n".join(lines[:30])
    return {
        "language": detect_language(text),
        "n_lines": n_lines,
        "max_line_len": max(lens),
        "mean_line_len": round(sum(lens) / max(1, n_lines), 2),
        "comment_ratio": round(n_comment / max(1, n_lines), 4),
        "alnum_fraction": round(n_alnum / max(1, len(text)), 4),
        "has_license": bool(_LICENSE.search(head)),
        "is_generated": bool(_GENERATED.search(head)),
    }


CODE_SIGNALS_SCHEMA = (
    "doc_id long, language string, n_lines int, max_line_len int, "
    "mean_line_len double, comment_ratio double, "
    "alnum_fraction double, has_license boolean, is_generated boolean"
)


def code_signals(df, id_col: str = "doc_id", text_col: str = "text"):
    """Arrow-batched signal extraction: one row per file blob.  Null
    text yields a null-signal row (inventory preserved)."""
    def run(_id, s):
        if s is None:
            yield {"doc_id": _id}
            return
        yield {"doc_id": _id, **code_file_signals(str(s))}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(text_col)),
        run, CODE_SIGNALS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
