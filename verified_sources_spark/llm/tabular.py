"""Delimited-text (CSV/TSV) ingestion for BLOB-borne tables.

``spark.read.csv`` owns file-path CSV; this front door exists for the
tables that arrive as BYTES from inside something else — email
attachments, archive members, crawl bodies — where the engine's other
extractors hand around payloads, not paths.  Real-world delimited text
is messier than split(','): quoted cells with embedded delimiters,
quotes and NEWLINES (RFC 4180), four delimiter conventions
(comma/semicolon/tab/pipe), and ragged tails.  Flattening it through
the plain-text path poisons dedup with quote noise; refusing it drops
genuinely valuable aligned data.

``sniff_delimited`` is deliberately STRICT (this also guards the
docrouter dispatch): a payload only routes as delimited when one
candidate delimiter yields the same column count (>= 2) on every
parsed record of the sample — prose with incidental commas fails that
test.  ``delimited_rows`` parses with stdlib ``csv`` under the sniffed
dialect and emits one row per record, cells tab-joined (the same
rendering the xlsx/ods sheet units use, so sheet-borne and blob-borne
tables land in ONE text shape).

Reference analogue: the filesystem source's CSV reader path
(sources/filesystem — read_csv over fsspec); this is the same table
surface when the "file" is a binary cell.
"""

from __future__ import annotations

import csv
import io

from verified_sources_spark.boundary import map_rows

__all__ = [
    "TabularError", "sniff_delimited", "parse_delimited",
    "delimited_rows", "encode_delimited", "DELIMITED_ROWS_SCHEMA",
]

_DELIMS = [",", ";", "\t", "|"]


class TabularError(ValueError):
    """Named refusal: not a delimited-text payload we can parse
    honestly."""


def sniff_delimited(text: str, sample_records: int = 20) -> str | None:
    """The delimiter, or None if no candidate yields a CONSISTENT
    >= 2-column table over the sample — the strictness that keeps
    prose from misrouting here."""
    best = None
    for d in _DELIMS:
        try:
            rows = []
            for row in csv.reader(io.StringIO(text), delimiter=d):
                if row:
                    rows.append(row)
                if len(rows) >= sample_records:
                    break
        except csv.Error:
            continue
        if len(rows) < 2:
            continue
        ncols = len(rows[0])
        if ncols >= 2 and all(len(r) == ncols for r in rows):
            # prefer the delimiter that explains MORE columns (a
            # semicolon file full of commas inside cells sniffs both
            # ways; the real delimiter splits every record equally
            # wider)
            if best is None or ncols > best[1]:
                best = (d, ncols)
    return best[0] if best else None


def parse_delimited(data: bytes, max_bytes: int = 64 << 20) -> dict:
    """``{delimiter, n_rows, n_cols, header, rows}`` — rows as lists
    of cells, the header row separated off when every header cell is
    non-numeric and non-empty (the pandas heuristic, deterministic)."""
    if len(data) > max_bytes:
        raise TabularError(f"delimited payload over size gate "
                           f"({len(data)} bytes)")
    # NOT UTF-8-only: legacy exports (Excel cp1252, GB18030 ERP dumps,
    # Shift_JIS ledgers) are the single most common non-UTF-8 shape in
    # document drops; the bare-charset probe (llm/text_fix) decodes
    # them — BOMs included, utf-8-sig beats everything — and binary
    # still refuses by name
    from verified_sources_spark.llm.text_fix import decode_bare_text

    decoded = decode_bare_text(data)
    if decoded is None or not decoded[2]:
        raise TabularError(
            "not decodable text — refusing by name") from None
    text, charset = decoded[0], decoded[1]
    d = sniff_delimited(text)
    if d is None:
        raise TabularError(
            "no consistent delimiter — not a delimited table")
    rows = [r for r in csv.reader(io.StringIO(text), delimiter=d) if r]
    ncols = len(rows[0])
    if any(len(r) != ncols for r in rows):
        raise TabularError("ragged rows — not a consistent table")

    def _numeric(s: str) -> bool:
        try:
            float(s)
            return True
        except ValueError:
            return False

    header = None
    if rows and all(c.strip() and not _numeric(c) for c in rows[0]):
        header, rows = rows[0], rows[1:]
    return {"delimiter": d, "n_rows": len(rows), "n_cols": ncols,
            "header": header, "rows": rows, "charset": charset}


def encode_delimited(rows: list[list[str]], delimiter: str = ",",
                     header: list[str] | None = None,
                     crlf: bool = False) -> bytes:
    """RFC 4180 writer via stdlib csv (QUOTE_MINIMAL — embedded
    delimiters/quotes/newlines get quoted exactly like Excel writes
    them)."""
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delimiter,
                   lineterminator="\r\n" if crlf else "\n")
    if header:
        w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


DELIMITED_ROWS_SCHEMA = (
    "doc_id long, decoded_ok boolean, delimiter string, row_idx int, "
    "n_rows int, n_cols int, header string, line string"
)


def delimited_rows(df, id_col: str = "doc_id",
                   asset_col: str = "asset"):
    """Arrow-batched delimited-text explosion: one output row per
    RECORD, cells tab-joined (embedded newlines survive inside the
    cell), header carried on every row for downstream routing.
    Payloads never shuffle; non-tables isolate as
    ``decoded_ok=false``."""
    def run(_id, payload):
        try:
            out = parse_delimited(bytes(payload))
            hdr = ("\t".join(out["header"])
                   if out["header"] else None)
            for i, r in enumerate(out["rows"]):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "delimiter": out["delimiter"],
                    "row_idx": i, "n_rows": out["n_rows"],
                    "n_cols": out["n_cols"], "header": hdr,
                    "line": "\t".join(r)}
            if not out["rows"]:
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "delimiter": out["delimiter"],
                    "n_rows": 0,
                    "n_cols": out["n_cols"], "header": hdr}
        except TabularError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, DELIMITED_ROWS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
