"""Subtitle parsing: SRT and WebVTT — the text half of video corpora.

Video training data almost always travels with subtitle files (YouTube
captions are VTT, archives ship SRT); the aligned (start, end, text)
cues are the supervision signal for speech/caption models and a text
channel for dedup/decontamination.  Both formats are line-oriented and
fully stdlib-parseable:

- SRT: blank-line-separated cues — index line, ``HH:MM:SS,mmm -->
  HH:MM:SS,mmm`` timing (comma decimals), text lines.
- WebVTT: a ``WEBVTT`` header, optional NOTE/STYLE/REGION blocks,
  cues with optional identifiers, ``HH:MM:SS.mmm --> HH:MM:SS.mmm``
  timings (dot decimals, hours optional) plus ignored position
  settings; basic inline markup (<i>, <b>, <c.class>, <00:00:01.000>
  timestamps) is stripped.

``parse_subtitles`` sniffs the format and returns normalized cues;
malformed timings raise ``SubtitleError`` with the line quoted.
``subtitle_cues`` is the Spark operator: one row per cue.
"""

from __future__ import annotations

import re

from verified_sources_spark.boundary import map_rows

__all__ = ["SubtitleError", "sniff_subtitle_format", "parse_subtitles",
           "subtitle_cues", "encode_srt", "encode_vtt", "encode_ass",
           "encode_ttml"]


class SubtitleError(ValueError):
    pass


_SRT_TIME = re.compile(
    r"(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*"
    r"(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})"
)
_VTT_TIME = re.compile(
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})\.(\d{3})\s*-->\s*"
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})\.(\d{3})"
)
_VTT_MARKUP = re.compile(r"<[^>]*>")


def sniff_subtitle_format(text: str) -> str | None:
    """'vtt' / 'srt' / 'ass' / 'ttml' / None — by header or first
    timing line."""
    head = text.lstrip("﻿\r\n ")
    if head.startswith("WEBVTT"):
        return "vtt"
    if head.lower().startswith("[script info]"):
        return "ass"
    low = head[:256].lower()
    if low.startswith("<tt") or (low.startswith("<?xml")
                                 and "<tt" in low):
        return "ttml"
    for line in head.splitlines()[:5]:
        if _SRT_TIME.search(line):
            return "srt"
    return None


def _ms(h, m, s, ms) -> int:
    return ((int(h or 0) * 60 + int(m)) * 60 + int(s)) * 1000 + int(ms)


def parse_subtitles(text: str) -> list[dict]:
    """Normalized cues: [{idx, start_ms, end_ms, text}] in file order.
    SRT indices come from the file; VTT cues are numbered 1..n (their
    optional identifiers are carried through as ``cue_id``)."""
    fmt = sniff_subtitle_format(text)
    if fmt is None:
        raise SubtitleError(
            "unrecognized subtitle payload (not SRT/WebVTT/ASS/TTML)")
    text = text.lstrip("﻿")
    if fmt == "ass":
        return _parse_ass(text)
    if fmt == "ttml":
        return _parse_ttml(text)
    cues: list[dict] = []
    if fmt == "srt":
        # strip newlines ONLY: a trailing space on the last cue's last
        # line is cue text and must survive
        blocks = re.split(r"\r?\n[ \t]*\r?\n", text.strip("\r\n"))
        for block in blocks:
            lines = [ln for ln in block.splitlines() if ln.strip() != ""]
            if not lines:
                continue
            ti = 0
            idx = None
            if re.fullmatch(r"\d+", lines[0].strip()):
                idx = int(lines[0])
                ti = 1
            if ti >= len(lines):
                raise SubtitleError(f"SRT cue without timing: {block[:40]!r}")
            m = _SRT_TIME.search(lines[ti])
            if not m:
                raise SubtitleError(f"bad SRT timing line {lines[ti]!r}")
            g = m.groups()
            cues.append({
                "idx": idx if idx is not None else len(cues) + 1,
                "cue_id": None,
                "start_ms": _ms(g[0], g[1], g[2], g[3]),
                "end_ms": _ms(g[4], g[5], g[6], g[7]),
                "text": "\n".join(lines[ti + 1 :]),
            })
        return cues
    # WebVTT
    body = re.split(r"\r?\n", text)
    i = 0
    # skip the header line + any header metadata until a blank line
    while i < len(body) and body[i].strip() != "":
        i += 1
    n = len(body)
    while i < n:
        while i < n and body[i].strip() == "":
            i += 1
        if i >= n:
            break
        first = body[i].strip()
        if first.startswith(("NOTE", "STYLE", "REGION")):
            while i < n and body[i].strip() != "":
                i += 1
            continue
        cue_id = None
        if "-->" not in body[i]:
            cue_id = first
            i += 1
            if i >= n:
                raise SubtitleError(f"VTT identifier without cue: {first!r}")
        m = _VTT_TIME.search(body[i])
        if not m:
            raise SubtitleError(f"bad VTT timing line {body[i]!r}")
        g = m.groups()
        i += 1
        lines = []
        while i < n and body[i].strip() != "":
            lines.append(_VTT_MARKUP.sub("", body[i]))
            i += 1
        cues.append({
            "idx": len(cues) + 1,
            "cue_id": cue_id,
            "start_ms": _ms(g[0], g[1], g[2], g[3]),
            "end_ms": _ms(g[4], g[5], g[6], g[7]),
            "text": "\n".join(lines),
        })
    return cues


_ASS_TIME = re.compile(r"(\d+):(\d{2}):(\d{2})\.(\d{2})")
_ASS_OVERRIDE = re.compile(r"\{[^}]*\}")


def _ass_ms(tok: str) -> int:
    m = _ASS_TIME.fullmatch(tok.strip())
    if not m:
        raise SubtitleError(f"bad ASS timestamp {tok!r}")
    h, mi, s, cs = (int(g) for g in m.groups())
    return ((h * 60 + mi) * 60 + s) * 1000 + cs * 10


def _parse_ass(text: str) -> list[dict]:
    """Advanced SubStation Alpha (.ass/.ssa, the fansub standard):
    [Events] section, field order declared by its Format: line,
    Dialogue: lines with centisecond H:MM:SS.cc times; {\\...} style
    overrides strip, \\N / \\n break lines, \\h is a hard space."""
    in_events = False
    fields: list[str] | None = None
    cues: list[dict] = []
    for raw in text.splitlines():
        line = raw.strip()
        if line.startswith("["):
            in_events = line.lower() == "[events]"
            continue
        if not in_events or not line or line.startswith(";"):
            continue
        key, _, rest = line.partition(":")
        key = key.strip().lower()
        if key == "format":
            fields = [f.strip().lower() for f in rest.split(",")]
        elif key == "dialogue":
            if fields is None or "text" not in fields or \
                    "start" not in fields or "end" not in fields:
                raise SubtitleError(
                    "ASS Dialogue before a usable Format: line")
            # Text is the LAST field and may contain commas
            parts = rest.split(",", len(fields) - 1)
            if len(parts) < len(fields):
                raise SubtitleError(f"short ASS Dialogue line {line!r}")
            rec = dict(zip(fields, parts))
            t = _ASS_OVERRIDE.sub("", rec["text"])
            t = (t.replace("\\N", "\n").replace("\\n", "\n")
                 .replace("\\h", " ")).strip()
            cues.append({
                "idx": len(cues) + 1, "cue_id": None,
                "start_ms": _ass_ms(rec["start"]),
                "end_ms": _ass_ms(rec["end"]),
                "text": t})
    if not cues:
        raise SubtitleError("ASS file with no Dialogue events")
    return cues


def _ttml_ms(tok: str) -> int:
    tok = tok.strip()
    if tok.endswith("ms"):
        return int(round(float(tok[:-2])))
    if tok.endswith("s") and ":" not in tok:
        return int(round(float(tok[:-1]) * 1000))
    m = re.fullmatch(r"(\d+):(\d{2}):(\d{2})(?:\.(\d{1,3}))?", tok)
    if not m:
        raise SubtitleError(f"bad TTML time {tok!r}")
    h, mi, s = int(m.group(1)), int(m.group(2)), int(m.group(3))
    frac = (m.group(4) or "").ljust(3, "0")
    return ((h * 60 + mi) * 60 + s) * 1000 + int(frac or 0)


def _parse_ttml(text: str) -> list[dict]:
    """TTML (broadcast/streaming captions): <p begin end> inside
    <body>, clock or offset ('1.5s'/'1500ms') times, <br/> as line
    breaks, inline spans flattened."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except (ET.ParseError, LookupError, ValueError) as e:
        raise SubtitleError(f"bad TTML XML: {e}") from None
    if root.tag.rsplit("}", 1)[-1] != "tt":
        raise SubtitleError("XML root is not <tt> — not TTML")

    def flat(el) -> str:
        parts = [el.text or ""]
        for ch in el:
            if ch.tag.rsplit("}", 1)[-1] == "br":
                parts.append("\n")
            else:
                parts.append(flat(ch))
            parts.append(ch.tail or "")
        return "".join(parts)

    cues: list[dict] = []
    for p in root.iter():
        if p.tag.rsplit("}", 1)[-1] != "p":
            continue
        begin, end = p.get("begin"), p.get("end")
        if begin is None or end is None:
            continue
        # TTML cue ids live on the namespaced xml:id attribute (our
        # own encode_ttml writes xml:id); bare id is a lenient extra
        cue_id = p.get("id")
        if cue_id is None:
            cue_id = p.get(
                "{http://www.w3.org/XML/1998/namespace}id")
        cues.append({
            "idx": len(cues) + 1, "cue_id": cue_id,
            "start_ms": _ttml_ms(begin), "end_ms": _ttml_ms(end),
            "text": flat(p).strip()})
    if not cues:
        raise SubtitleError("TTML with no timed <p> cues")
    return cues


SUBTITLE_SCHEMA = ("doc_id long, decoded_ok boolean, format string, "
                   "idx int, start_ms long, end_ms long, text string")


def subtitle_cues(df, id_col: str = "doc_id", text_col: str = "payload"):
    """Arrow-batched subtitle explosion: one row per cue (the aligned
    text channel for caption/ASR corpora); malformed files isolate as
    ``decoded_ok=false`` rows."""
    def run(_id, payload):
        try:
            s = payload if isinstance(payload, str) else bytes(
                payload).decode("utf-8", errors="replace")
            fmt = sniff_subtitle_format(s)
            for cue in parse_subtitles(s):
                yield {"doc_id": _id, "decoded_ok": True,
                       "format": fmt, "idx": cue["idx"],
                       "start_ms": cue["start_ms"],
                       "end_ms": cue["end_ms"], "text": cue["text"]}
        except SubtitleError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(text_col)),
        run, SUBTITLE_SCHEMA
    )
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


# --------------------------------------------------------------- fixtures
def _fmt_ts(ms: int, sep: str) -> str:
    h, rem = divmod(ms, 3600_000)
    m, rem = divmod(rem, 60_000)
    s, milli = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{milli:03d}"


def encode_srt(cues: list[tuple[int, int, str]]) -> str:
    out = []
    for i, (start, end, text) in enumerate(cues, 1):
        out.append(f"{i}\n{_fmt_ts(start, ',')} --> {_fmt_ts(end, ',')}\n"
                   f"{text}\n")
    return "\n".join(out)


def encode_vtt(cues: list[tuple[int, int, str]], notes: bool = False) -> str:
    out = ["WEBVTT\n"]
    if notes:
        out.append("NOTE generated fixture\n")
    for i, (start, end, text) in enumerate(cues, 1):
        out.append(f"cue-{i}\n{_fmt_ts(start, '.')} --> {_fmt_ts(end, '.')}\n"
                   f"{text}\n")
    return "\n".join(out)


def encode_ass(cues: list[tuple[int, int, str]]) -> str:
    """Realistic .ass writer: Script Info + V4+ Styles + Events with
    the standard 10-field Format, style overrides and \\N breaks."""
    def ts(ms: int) -> str:
        h, rem = divmod(ms, 3600_000)
        m, rem = divmod(rem, 60_000)
        s, milli = divmod(rem, 1000)
        return f"{h}:{m:02d}:{s:02d}.{milli // 10:02d}"

    out = ["[Script Info]", "Title: fixture", "ScriptType: v4.00+",
           "", "[V4+ Styles]",
           "Format: Name, Fontname, Fontsize",
           "Style: Default,Arial,20", "", "[Events]",
           "Format: Layer, Start, End, Style, Name, MarginL, "
           "MarginR, MarginV, Effect, Text"]
    for start, end, text in cues:
        t = text.replace("\n", "\\N")
        out.append(f"Dialogue: 0,{ts(start)},{ts(end)},Default,,0,0,0,,"
                   f"{{\\i1}}{t}{{\\i0}}")
    return "\n".join(out) + "\n"


def encode_ttml(cues: list[tuple[int, int, str]]) -> str:
    """Realistic TTML writer: namespaced <tt>, clock-format times,
    <br/> for embedded newlines."""
    from xml.sax.saxutils import escape

    def ts(ms: int) -> str:
        h, rem = divmod(ms, 3600_000)
        m, rem = divmod(rem, 60_000)
        s, milli = divmod(rem, 1000)
        return f"{h:02d}:{m:02d}:{s:02d}.{milli:03d}"

    body = []
    for i, (start, end, text) in enumerate(cues):
        t = "<br/>".join(escape(ln) for ln in text.split("\n"))
        body.append(f'<p xml:id="c{i + 1}" begin="{ts(start)}" '
                    f'end="{ts(end)}">{t}</p>')
    return ('<?xml version="1.0" encoding="UTF-8"?>'
            '<tt xmlns="http://www.w3.org/ns/ttml" '
            'xmlns:xml="http://www.w3.org/XML/1998/namespace">'
            "<body><div>" + "".join(body) + "</div></body></tt>")
