"""Chat-transcript ingestion — the instruction-tuning half of corpus
prep.

Instruction/RLHF datasets ship as JSONL of conversations in a handful
of near-identical dialects: OpenAI chat (``{"messages": [{"role":
"user", "content": ...}]}``), ShareGPT (``{"conversations": [{"from":
"human", "value": ...}]}``), and bare ``{"prompt": ..., "response"/
"completion": ...}`` pairs.  Training prep needs them EXPLODED into
per-turn rows with normalized roles (dedup runs on turn text;
role-alternation and empty-turn checks are standard quality gates)
— and it needs malformed records isolated, not crashed on, because
every large instruction dump contains a few.

``parse_conversation`` normalizes one record: dialect by key sniff,
roles mapped onto {system, user, assistant} (ShareGPT's human/gpt,
OpenAI's names verbatim, prompt/response pairs as user+assistant),
multimodal OpenAI content arrays flattened to their text parts.
``chat_turns`` is the Arrow-batched operator over (id, json-line)
rows — composable behind ``shard_lines`` so ``.jsonl.zst`` shards
flow straight in.  Alternation violations are FLAGGED per turn, not
dropped (curation decides; silent drops skew pair counts).
"""

from __future__ import annotations

import json

from verified_sources_spark.boundary import map_rows

__all__ = [
    "ChatError", "parse_conversation", "chat_turns",
    "CHAT_TURNS_SCHEMA",
]


class ChatError(ValueError):
    """Named refusal: not a chat record we can decode honestly."""


_SHAREGPT_ROLES = {"human": "user", "user": "user", "gpt": "assistant",
                   "assistant": "assistant", "system": "system",
                   "bing": "assistant", "chatgpt": "assistant"}


def _content_text(content) -> str:
    """OpenAI content is a string OR a list of typed parts; keep the
    text parts, drop image/audio parts (their surfaces live
    elsewhere)."""
    if isinstance(content, str):
        return content
    if isinstance(content, list):
        frags = []
        for part in content:
            if isinstance(part, dict) and part.get("type") == "text":
                frags.append(str(part.get("text", "")))
        return "".join(frags)
    if content is None:
        return ""
    raise ChatError(f"unsupported content type {type(content).__name__}")


def parse_conversation(record: str | dict) -> list[dict]:
    """One JSON record → ordered turns ``[{role, text}]`` with roles
    normalized to system/user/assistant.  ``tool`` turns are DROPPED
    here (tool outputs are not training prose), so they never reach
    the output and never count toward ``n_turns``."""
    if isinstance(record, str):
        try:
            obj = json.loads(record)
        except json.JSONDecodeError as e:
            raise ChatError(f"not JSON: {e}") from None
    else:
        obj = record
    if not isinstance(obj, dict):
        raise ChatError("chat record is not a JSON object")
    if "messages" in obj:
        msgs = obj["messages"]
        if not isinstance(msgs, list):
            raise ChatError("'messages' is not a list")
        out = []
        for m in msgs:
            if not isinstance(m, dict):
                raise ChatError(
                    f"message entry is {type(m).__name__}, not object")
            role = str(m.get("role", "")).lower()
            if role not in ("system", "user", "assistant", "tool"):
                raise ChatError(f"unknown role {role!r}")
            if role == "tool":
                continue  # tool outputs are not training prose
            out.append({"role": role,
                        "text": _content_text(m.get("content"))})
        return out
    if "conversations" in obj:
        msgs = obj["conversations"]
        if not isinstance(msgs, list):
            raise ChatError("'conversations' is not a list")
        out = []
        for m in msgs:
            if not isinstance(m, dict):
                raise ChatError(
                    f"conversation entry is {type(m).__name__}, "
                    "not object")
            src = str(m.get("from", "")).lower()
            role = _SHAREGPT_ROLES.get(src)
            if role is None:
                raise ChatError(f"unknown ShareGPT role {src!r}")
            out.append({"role": role, "text": str(m.get("value", ""))})
        return out
    if "prompt" in obj and ("response" in obj or "completion" in obj):
        resp = obj.get("response", obj.get("completion"))
        turns = []
        if obj.get("system"):
            turns.append({"role": "system",
                          "text": str(obj["system"])})
        turns.append({"role": "user", "text": str(obj["prompt"])})
        turns.append({"role": "assistant", "text": str(resp)})
        return turns
    raise ChatError(
        "no messages/conversations/prompt keys — not a chat record")


CHAT_TURNS_SCHEMA = (
    "doc_id long, decoded_ok boolean, turn_idx int, n_turns int, "
    "role string, alternation_ok boolean, text string"
)


def chat_turns(df, id_col: str = "doc_id", line_col: str = "line"):
    """Arrow-batched conversation explosion: one row per turn with
    the normalized role and a per-conversation alternation flag —
    only a LEADING system turn is exempt; the rest must be strictly
    user/assistant alternating starting with user, so a system
    message injected mid-conversation (a known poisoning/formatting
    wart in instruction dumps) flags ``alternation_ok=false``.  Tool
    turns are dropped at parse time and do NOT count toward
    ``n_turns`` (tool outputs are not training prose).  Malformed
    records isolate as ``decoded_ok=false`` rows."""
    def run(_id, line):
        try:
            turns = parse_conversation(str(line))
            if not turns:
                raise ChatError("empty conversation")
            # only a LEADING system turn is exempt from the
            # pairing gate; a mid-dialog system turn lands in
            # `body` and fails the user/assistant check below
            body = (turns[1:] if turns[0]["role"] == "system"
                    else turns)
            ok_alt = bool(body) and all(
                t["role"] == ("user" if i % 2 == 0
                              else "assistant")
                for i, t in enumerate(body))
            for i, t in enumerate(turns):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "turn_idx": i, "n_turns": len(turns),
                    "role": t["role"],
                    "alternation_ok": ok_alt,
                    "text": t["text"]}
        except ChatError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(line_col)),
        run, CHAT_TURNS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
