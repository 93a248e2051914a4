"""Jupyter notebook (.ipynb) extraction — stdlib json.

Notebooks are a major share of any GitHub-derived code corpus, and
naive text ingestion of the raw JSON drowns the signal in base64
output blobs and metadata.  This module extracts what a training
pipeline wants:

- ``notebook_cells``: one dict per cell in order — {cell_idx,
  cell_type, source, n_outputs, has_image_output}.  ``source`` joins
  the line-array form (the on-disk convention) or passes a plain
  string through; outputs are COUNTED and probed for image mime types
  but their payloads are never inlined into text (that is the
  base64-noise failure mode).  nbformat 4 (cells at top level) and
  nbformat 3 (worksheets[].cells, ``input`` instead of ``source``)
  both parse; anything else refuses with the version named.
- ``encode_notebook``: real fixture writer for both nbformat
  generations.

Reference analogue: sources/filesystem + unstructured_data route
local files into text; a notebook is the code-corpus case where
"the text" must be chosen, not just decoded.
"""

from __future__ import annotations

import json

from verified_sources_spark.boundary import map_rows

__all__ = ["NotebookError", "notebook_cells", "encode_notebook"]


class NotebookError(ValueError):
    """Named refusal: not a notebook this extractor can serve."""


def _source_text(v) -> str:
    if isinstance(v, str):
        return v
    if isinstance(v, list):
        return "".join(x for x in v if isinstance(x, str))
    return ""


def notebook_cells(data: bytes, max_bytes: int = 64 << 20) -> list[dict]:
    if len(data) > max_bytes:
        raise NotebookError(f"notebook over size gate ({len(data)} bytes)")
    try:
        nb = json.loads(data)
    except (ValueError, UnicodeDecodeError) as e:
        raise NotebookError(f"not JSON: {e}") from None
    if not isinstance(nb, dict):
        raise NotebookError("notebook JSON is not an object")
    major = nb.get("nbformat")
    if major == 4:
        cells = nb.get("cells")
        src_key = "source"
    elif major == 3:
        ws = nb.get("worksheets")
        if not isinstance(ws, list) or not ws:
            raise NotebookError("nbformat 3 without worksheets")
        cells = ws[0].get("cells")
        src_key = None  # v3: code cells use 'input', text cells 'source'
    elif major is None:
        raise NotebookError("JSON without nbformat — not a notebook")
    else:
        raise NotebookError(
            f"nbformat {major} — refusing by name (3/4 only)")
    if not isinstance(cells, list):
        raise NotebookError("notebook without a cells array")
    out: list[dict] = []
    for i, cell in enumerate(cells):
        if not isinstance(cell, dict):
            raise NotebookError(f"cell {i} is not an object")
        ctype = cell.get("cell_type", "")
        if src_key:
            src = _source_text(cell.get("source"))
        else:
            src = _source_text(cell.get(
                "input" if ctype == "code" else "source"))
        outputs = cell.get("outputs") or []
        has_img = False
        for o in outputs:
            if not isinstance(o, dict):
                continue
            datad = o.get("data") or {}
            keys = set(datad) | set(o)
            if any(str(k).startswith("image/") or k == "png"
                   for k in keys):
                has_img = True
        out.append({
            "cell_idx": i,
            "cell_type": ctype,
            "source": src,
            "n_outputs": len(outputs) if ctype == "code" else None,
            "has_image_output": has_img if ctype == "code" else None,
        })
    return out


def encode_notebook(cells: list[tuple[str, str]], nbformat: int = 4,
                    outputs_for: dict[int, int] | None = None,
                    image_output_for: set[int] | None = None) -> bytes:
    """Real fixture: ``cells`` is (cell_type, source) in order; line
    arrays used for multi-line sources (the on-disk convention).
    ``outputs_for`` maps cell index -> stream-output count;
    ``image_output_for`` marks cells that also carry a base64 PNG
    output (which extraction must count but never inline)."""
    outputs_for = outputs_for or {}
    image_output_for = image_output_for or set()

    def src(s: str):
        return s.splitlines(keepends=True) if "\n" in s else s

    def outs(i: int):
        o = [{"output_type": "stream", "name": "stdout",
              "text": [f"out {k}\n"]}
             for k in range(outputs_for.get(i, 0))]
        if i in image_output_for:
            o.append({"output_type": "display_data",
                      "data": {"image/png": "aWdub3JlZA==",
                               "text/plain": ["<Figure>"]}})
        return o

    if nbformat == 4:
        nb = {"nbformat": 4, "nbformat_minor": 5,
              "metadata": {"kernelspec": {"name": "python3"}},
              "cells": []}
        for i, (ctype, source) in enumerate(cells):
            cell = {"cell_type": ctype, "metadata": {},
                    "source": src(source)}
            if ctype == "code":
                cell["execution_count"] = None
                cell["outputs"] = outs(i)
            nb["cells"].append(cell)
    elif nbformat == 3:
        cs = []
        for i, (ctype, source) in enumerate(cells):
            if ctype == "code":
                cs.append({"cell_type": "code", "language": "python",
                           "input": src(source), "outputs": outs(i),
                           "collapsed": False})
            else:
                cs.append({"cell_type": ctype, "source": src(source),
                           "metadata": {}})
        nb = {"nbformat": 3, "nbformat_minor": 0, "metadata": {},
              "worksheets": [{"cells": cs}]}
    else:
        raise NotebookError(f"fixture nbformat {nbformat} unsupported")
    return json.dumps(nb).encode()


NOTEBOOK_CELLS_SCHEMA = ("doc_id long, decoded_ok boolean, "
                         "cell_idx int, cell_type string, source string, "
                         "n_outputs int, has_image_output boolean")


def notebook_extract(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched notebook → per-cell rows; payloads never shuffle,
    corrupt notebooks isolate as one ``decoded_ok=false`` row."""
    def run(_id, payload):
        try:
            for c in notebook_cells(bytes(payload)):
                yield {"doc_id": _id, "decoded_ok": True, **c}
        except NotebookError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, NOTEBOOK_CELLS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
