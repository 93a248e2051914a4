"""HTTP completion client for the LLM extraction surface (§2.1 #32).

The reference's unstructured_data source answers per-field queries with a
hosted model (reference: sources/unstructured_data/helpers.py:30-104 —
llama-index query engine over the document).  This module is the
engine's pluggable transport for that call: an OpenAI-style
``POST /v1/completions`` client (stdlib urllib, executor-safe, nothing
to install) with the same retry/rate-limit discipline as the REST
connector stack — bounded exponential backoff on 5xx, ``Retry-After``
honored on 429, Bearer auth per request.

``extract_fields_via_endpoint`` is the Spark entry point: the same
content-hash contract as ``extract.extract_fields``, but in one
``boundary.map_batches`` stage where each Arrow batch issues ONE
batched HTTP call covering every (document × field) prompt — the batch
shape a real serving endpoint wants, and the reason the Arrow batch
boundary is the model-call boundary.  Tests drive it against an in-process fake server on a real
socket (tests/test_llm_endpoint.py), like every other wire client here.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from collections.abc import Callable

from verified_sources_spark.boundary import map_batches
from verified_sources_spark.sources.rest import RestClient, Transport, TransportError

PROMPT_TEMPLATE = (
    "Answer the question using only the context.\n"
    "Context:\n{text}\n\nQuestion: {query}\nAnswer:"
)


class LlmEndpointError(TransportError):
    """Non-retriable endpoint failure (4xx other than 429, retries
    exhausted, or a malformed response body).  Subclasses
    ``rest.TransportError`` so ``RestClient._request`` — the ONE
    retry/backoff/Retry-After policy in the engine — drives the retry
    loop; this module holds no second copy of that policy."""

    def __init__(self, status: int, message: str = "", retry_after: float | None = None):
        super().__init__(status, message, retry_after=retry_after)


class _CompletionsTransport(Transport):
    """POST-JSON transport over stdlib urllib (executor-safe, nothing to
    install): ``request(url, params)`` POSTs *params* as the JSON body.
    Non-2xx raises :class:`LlmEndpointError` carrying ``Retry-After``,
    which ``RestClient``'s retry loop consumes unchanged."""

    def __init__(self, api_key: str | None, timeout: float):
        self.api_key = api_key
        self.timeout = timeout

    def request(self, url: str, params: dict) -> tuple[dict, dict]:
        headers = {"Content-Type": "application/json"}
        if self.api_key is not None:
            headers["Authorization"] = f"Bearer {self.api_key}"
        req = urllib.request.Request(
            url, data=json.dumps(params).encode(), headers=headers, method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return json.loads(resp.read().decode()), dict(resp.headers)
        except urllib.error.HTTPError as e:
            ra = e.headers.get("Retry-After")
            retry_after = None
            if ra is not None:
                try:
                    retry_after = float(ra)
                except ValueError:
                    retry_after = None
            raise LlmEndpointError(
                e.code, e.read().decode(errors="replace")[:500], retry_after=retry_after
            ) from None


class LlmEndpointClient:
    """OpenAI-style completions client.

    One ``complete_batch(prompts)`` call POSTs
    ``{"model": ..., "prompt": [...]}`` and maps ``choices[i].text``
    back by the ``index`` field (the protocol's contract: choices may
    arrive out of order).  Retry policy matches ``rest.RestClient``:
    429 and 5xx retry up to ``max_retries`` with ``Retry-After``
    (when sent) or exponential backoff; other 4xx raise immediately.

    Construction is cheap and the config is plain strings/floats, so
    each task builds one at its first batch from the stage's closure —
    no driver-side connection is ever pickled."""

    def __init__(
        self,
        base_url: str,
        api_key: str | None = None,
        model: str = "extractor-v1",
        max_tokens: int = 64,
        timeout: float = 30.0,
        max_retries: int = 3,
        backoff_base: float = 0.01,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.url = base_url.rstrip("/") + "/v1/completions"
        self.model = model
        self.max_tokens = max_tokens
        self._rest = RestClient(
            _CompletionsTransport(api_key, timeout),
            max_retries=max_retries,
            backoff_base=backoff_base,
            sleep=sleep,
        )

    def _post(self, body: dict) -> dict:
        # RestClient._request owns retry/backoff/Retry-After (tested in
        # test_http_transport.py); the transport raises LlmEndpointError,
        # a TransportError, so callers see this module's exception type
        return self._rest._request(self.url, body)[0]

    def complete_batch(self, prompts: list[str]) -> list[str | None]:
        """One POST for the whole batch; answers positionally aligned
        with ``prompts``.  A choice whose text is empty/whitespace maps
        to None (field not found), matching the fake-LLM contract."""
        if not prompts:
            return []
        body = self._post(
            {
                "model": self.model,
                "prompt": prompts,
                "max_tokens": self.max_tokens,
                "temperature": 0,
            }
        )
        try:
            choices = body["choices"]
            out: list[str | None] = [None] * len(prompts)
            for ch in choices:
                text = ch.get("text")
                if text is not None and text.strip():
                    out[int(ch["index"])] = text.strip()
            return out
        except (KeyError, TypeError, ValueError, IndexError) as e:
            raise LlmEndpointError(200, f"malformed completion body: {e}") from None

    def complete(self, prompt: str) -> str | None:
        return self.complete_batch([prompt])[0]


class EmbeddingsClient:
    """OpenAI-style ``POST /v1/embeddings`` batch client — the missing
    half of the endpoint seam: completions answer per-field questions
    (above), embeddings turn raw text into the ``array<float>`` vectors
    the semantic-dedup/ANN surface consumes, closing raw-text → vector →
    SemDeDup end-to-end (reference analogue: the hosted-model service
    call in sources/unstructured_data/helpers.py:30-63 — same posture,
    different verb).

    One ``embed_batch(texts)`` call POSTs ``{"model": ..., "input":
    [...]}`` and maps ``data[i].embedding`` back by the ``index`` field
    (the protocol's contract: entries may arrive out of order).  Retry
    policy is the ONE shared ``rest.RestClient`` loop: 429/5xx retry
    with Retry-After/backoff, other 4xx raise immediately.  Cheap to
    construct — each task builds one at its first batch."""

    def __init__(
        self,
        base_url: str,
        api_key: str | None = None,
        model: str = "embedder-v1",
        timeout: float = 30.0,
        max_retries: int = 3,
        backoff_base: float = 0.01,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.url = base_url.rstrip("/") + "/v1/embeddings"
        self.model = model
        self._rest = RestClient(
            _CompletionsTransport(api_key, timeout),
            max_retries=max_retries,
            backoff_base=backoff_base,
            sleep=sleep,
        )

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        """One POST for the whole batch; vectors positionally aligned
        with ``texts``.  A missing/short ``data`` list or ragged vector
        widths are protocol violations and raise — a silent None here
        would poison every downstream cosine."""
        if not texts:
            return []
        body = self._rest._request(
            self.url,
            {"model": self.model, "input": texts, "encoding_format": "float"},
        )[0]
        try:
            out: list[list[float] | None] = [None] * len(texts)
            for entry in body["data"]:
                out[int(entry["index"])] = [float(x) for x in entry["embedding"]]
        except (KeyError, TypeError, ValueError, IndexError) as e:
            raise LlmEndpointError(200, f"malformed embeddings body: {e}") from None
        if any(v is None for v in out):
            raise LlmEndpointError(
                200, f"embeddings body covered {sum(v is not None for v in out)}"
                     f"/{len(texts)} inputs"
            )
        widths = {len(v) for v in out}
        if len(widths) > 1:
            raise LlmEndpointError(200, f"ragged embedding widths {sorted(widths)}")
        return out

    def embed(self, text: str) -> list[float]:
        return self.embed_batch([text])[0]


def embed_texts(
    df,
    id_col: str,
    text_col: str,
    base_url: str,
    api_key: str | None = None,
    model: str = "embedder-v1",
    max_retries: int = 3,
    backoff_base: float = 0.01,
):
    """(id, embedding array<float>) via a live embeddings endpoint: each
    Arrow batch issues ONE batched HTTP call (the Arrow batch boundary
    is the model-call boundary, same as the completions path), so a
    10k-doc partition is ~10 calls, not 10k.  Output plugs directly
    into ``corpus.semantic_dedup`` / ``similarity.ivf_topk`` /
    ``similarity.cosine_topk`` — raw text in, ANN surface out.

    Endpoint config travels as plain strings; each task constructs its
    own client.  Transient throttles retry inside the task; a protocol
    violation fails the task loudly."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    client = None

    def embed(batch):
        # one embeddings request per batch, not per row
        nonlocal client
        if client is None:
            client = EmbeddingsClient(
                base_url,
                api_key=api_key,
                model=model,
                max_retries=max_retries,
                backoff_base=backoff_base,
            )
        texts = [(t or "") for t in batch.column(text_col).to_pylist()]
        return {id_col: batch.column(id_col), "embedding": client.embed_batch(texts)}

    return map_batches(df.select(id_col, text_col), embed, out_schema)


def extract_fields_via_endpoint(
    df,
    id_col: str,
    text_col: str,
    queries: dict[str, str],
    base_url: str,
    api_key: str | None = None,
    model: str = "extractor-v1",
    max_retries: int = 3,
    backoff_base: float = 0.01,
):
    """``extract.extract_fields`` with the answer source swapped for a
    live completion endpoint: same output schema (id, content_hash, one
    string column per field), same idempotent content-hash merge key —
    but each Arrow batch makes ONE batched HTTP call carrying every
    (document × field) prompt, so a 10k-doc partition with 3 fields is
    ~10 calls (batch-size prompts each), not 30k.

    The endpoint config travels to executors as plain strings; each task
    constructs its own client.  Retries/429 handling happen inside the
    task against the endpoint — a transient throttle never fails the
    Spark job, a poisoned document does (loudly)."""
    import hashlib

    import pyspark.sql.types as T

    fields = list(queries)
    field_queries = [queries[f] for f in fields]
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content_hash", T.StringType()),
            *[T.StructField(f, T.StringType()) for f in fields],
        ]
    )

    client = None

    def complete(batch):
        # one completion request per batch, not per row
        nonlocal client
        if client is None:
            client = LlmEndpointClient(
                base_url,
                api_key=api_key,
                model=model,
                max_retries=max_retries,
                backoff_base=backoff_base,
            )
        texts = [(t or "") for t in batch.column(text_col).to_pylist()]
        prompts = [
            PROMPT_TEMPLATE.format(text=t, query=q)
            for t in texts
            for q in field_queries
        ]
        answers = client.complete_batch(prompts)
        nf = len(fields)
        return {
            id_col: batch.column(id_col),
            "content_hash": [hashlib.md5(t.encode()).hexdigest() for t in texts],
            # answers run document-major: field j of doc i is i * nf + j
            **{f: answers[j::nf] for j, f in enumerate(fields)},
        }

    return map_batches(df.select(id_col, text_col), complete, out_schema)
