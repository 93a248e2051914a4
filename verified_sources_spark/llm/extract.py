"""Unstructured → structured LLM extraction surface (SURVEY.md §2.1 #32).

Models the reference's unstructured_data source (reference:
sources/unstructured_data/__init__.py:19-56, helpers.py:30-104): a file's
text runs through per-field queries against an LLM, producing one typed
row per document, merged on a content hash so re-processing is idempotent.

The LLM call itself is STUBBED (the container ships no model/client):
``deterministic_fake_llm`` answers by regex/keyword lookup so tests are
reproducible.  A real deployment injects an ``answer_fn`` with the same
signature; the Spark-side contract — one ``boundary.map_rows`` stage,
fixed output schema, content-hash merge key, batch-shaped API calls — is
what this module implements and tests."""

from __future__ import annotations

import re
from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from verified_sources_spark.boundary import map_rows

AnswerFn = Callable[[str, str], str | None]  # (document_text, query) -> answer


def deterministic_fake_llm(text: str, query: str) -> str | None:
    """STUB: 'answers' a field query by pattern heuristics — deterministic
    stand-in for an LLM Q&A call (NOT a model)."""
    m = re.search(r"\b(\w+):\s*([^\n;]+)", text)
    if "first word" in query:
        toks = re.findall(r"[A-Za-z0-9]+", text)
        return toks[0].lower() if toks else None
    if "length" in query:
        return str(len(text))
    if m and m.group(1).lower() in query:
        return m.group(2).strip()
    return None


def deterministic_fake_embedding(text: str, dim: int = 16) -> list[float]:
    """STUB: content-similar embedding without a model — each lowercased
    token md5-hashes to a bucket and a ±1 sign, token vectors sum, the
    result L2-normalizes.  Deterministic across processes (md5, no RNG
    state), and SIMILAR BY CONSTRUCTION: texts sharing most tokens land
    at high cosine, disjoint texts near 0 — exactly the geometry the
    semantic-dedup/ANN surface needs for end-to-end tests.  The live
    path swaps this for a real /v1/embeddings endpoint
    (llm/endpoint.EmbeddingsClient); both produce the same
    (id, array<float>) shape."""
    import hashlib
    import math

    acc = [0.0] * dim
    for tok in re.findall(r"[a-z0-9]+", text.lower()):
        h = hashlib.md5(tok.encode()).digest()
        bucket = int.from_bytes(h[:4], "big") % dim
        sign = 1.0 if h[4] & 1 else -1.0
        acc[bucket] += sign
    norm = math.sqrt(sum(x * x for x in acc))
    if norm == 0.0:
        acc[0] = 1.0  # empty text: a fixed unit vector, never NaN
        return acc
    return [x / norm for x in acc]


def extract_fields(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[str, str],
    answer_fn: AnswerFn = deterministic_fake_llm,
) -> DataFrame:
    """One row per document: (id, content_hash, <field per query>).

    ``map_rows`` keeps documents in place (narrow transform — no shuffle of
    the text payload); ``answer_fn`` runs once per (document, field).  The
    ``content_hash`` column is the merge key for idempotent re-runs
    (reference __init__.py:53 ``metadata__data_hash``)."""
    fields = list(queries)
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content_hash", T.StringType()),
            *[T.StructField(f, T.StringType()) for f in fields],
        ]
    )

    def run(_id, text):
        import hashlib

        text = text or ""
        row = {
            id_col: _id,
            "content_hash": hashlib.md5(text.encode()).hexdigest(),
        }
        for fname in fields:
            row[fname] = answer_fn(text, queries[fname])
        yield row

    return map_rows(df.select(id_col, text_col), run, out_schema)


def filter_empty_extractions(extracted: DataFrame, fields: list[str]) -> DataFrame:
    """Drop rows where every extracted field is NULL (nothing found)."""
    cond = None
    for f_ in fields:
        c = F.col(f_).isNotNull()
        cond = c if cond is None else (cond | c)
    return extracted.filter(cond) if cond is not None else extracted
