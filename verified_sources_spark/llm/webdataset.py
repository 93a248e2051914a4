"""WebDataset shards — the tar-of-samples training format (the other
half of the export story next to llm/tfrecord).

The format (webdataset/webdataset, fully public) is plain POSIX tar
discipline: files named ``{key}.{ext}``; consecutive members sharing
a key form ONE training sample (``000001.txt`` + ``000001.json`` +
``000001.jpg`` …).  The key is everything before the FIRST dot of the
basename, so multi-suffix extensions (``.seg.png``) stay with their
sample.  Loaders stream tars sequentially, which is why sample
members must be adjacent — the writer here emits them that way and
the reader groups by adjacency, flagging a key that REAPPEARS later
(a shuffled/corrupted shard real loaders would mis-group) as a named
refusal.

``wds_samples`` explodes shard blobs into one row per sample (the
``.txt`` member decoded as the sample text, ``.json`` carried
verbatim, every other extension inventoried by name+size — media
payloads are NOT decoded here; the image/audio doors own those).
``wds_shards`` packs a (id, text) frame into md5-bucketed shards
(same content-addressed layout contract as tfrecord_shards, so the
two export formats shard identically).  Tar mechanics ride
llm/archives (stdlib tarfile), the same no-hand-rolling posture as
the zip walk.
"""

from __future__ import annotations

from verified_sources_spark.boundary import map_groups, map_rows

__all__ = [
    "WdsError", "iter_wds_samples", "encode_wds",
    "wds_samples", "wds_shards", "wds_multimodal_shards",
    "WDS_SAMPLES_SCHEMA",
]


class WdsError(ValueError):
    """Named refusal: not a well-formed WebDataset shard."""


def _key_ext(name: str) -> tuple[str, str]:
    base = name.rsplit("/", 1)[-1]
    if "." not in base or base.startswith("."):
        raise WdsError(
            f"member {name!r} has no key.ext shape — not a "
            "WebDataset shard")
    key, ext = base.split(".", 1)
    if not key:
        raise WdsError(f"member {name!r} has an empty sample key")
    return key, ext


def iter_wds_samples(data: bytes, max_member_bytes: int = 256 << 20):
    """Yield ``(key, {ext: bytes})`` per sample, grouping ADJACENT
    members by key (the streaming-loader contract).  A key that
    reappears after its group closed refuses by name."""
    from verified_sources_spark.llm.archives import (
        ArchiveError, iter_members, sniff_archive_format,
    )

    fmt = sniff_archive_format(data)
    if fmt not in ("tar", "tgz", "txz", "tbz2", "tzst"):
        raise WdsError(
            f"not a tar shard (sniffed {fmt or 'no archive magic'})")
    seen: set[str] = set()
    cur_key: str | None = None
    cur: dict[str, bytes] = {}
    try:
        members = list(iter_members(
            data, max_member_bytes=max_member_bytes))
    except ArchiveError as e:
        raise WdsError(f"corrupt shard: {e}") from None
    for name, payload in members:
        key, ext = _key_ext(name)
        if key != cur_key:
            if cur_key is not None:
                yield cur_key, cur
            if key in seen:
                raise WdsError(
                    f"sample key {key!r} reappears non-adjacently — "
                    "a streaming loader would mis-group this shard")
            seen.add(key)
            cur_key, cur = key, {}
        if ext in cur:
            raise WdsError(
                f"sample {key!r} carries duplicate extension {ext!r}")
        cur[ext] = payload
    if cur_key is not None:
        yield cur_key, cur


def encode_wds(samples: list[tuple[str, dict]]) -> bytes:
    """[(key, {ext: bytes})] → tar shard with sample members adjacent
    in the given order."""
    from verified_sources_spark.llm.archives import encode_tar

    members: dict[str, bytes] = {}
    for key, exts in samples:
        for ext, payload in exts.items():
            members[f"{key}.{ext}"] = payload
    return encode_tar(members)


WDS_SAMPLES_SCHEMA = (
    "doc_id long, decoded_ok boolean, sample_idx int, n_samples int, "
    "key string, exts string, text string, json string, "
    "n_asset_bytes long"
)


def wds_samples(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched WebDataset explosion: one row per sample — the
    ``.txt`` member decoded as text (bare-charset probe, so legacy
    exports decode), ``.json`` verbatim, other members inventoried as
    ``exts`` + total byte count (media stays undecoded — the typed
    doors own pixels/samples).  Corrupt shards isolate as
    ``decoded_ok=false`` rows."""
    def run(_id, payload):
        from verified_sources_spark.llm.text_fix import decode_bare_text

        _id = int(_id)
        try:
            samples = list(iter_wds_samples(bytes(payload)))
            if not samples:
                raise WdsError("shard with no samples")
            for i, (key, exts) in enumerate(samples):
                text = None
                if "txt" in exts:
                    if not exts["txt"]:
                        text = ""  # empty member is empty text
                    else:
                        dec = decode_bare_text(exts["txt"])
                        text = dec[0] if dec else None
                js = exts.get("json")
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "sample_idx": i, "n_samples": len(samples),
                    "key": key,
                    "exts": ";".join(sorted(exts)),
                    "text": text,
                    "json": (js.decode("utf-8", "replace")
                             if js is not None else None),
                    "n_asset_bytes": sum(
                        len(v) for v in exts.values())}
        except WdsError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, WDS_SAMPLES_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


def wds_shards(df, id_col: str = "doc_id", text_col: str = "text",
               n_shards: int = 64):
    """EXPORT side: pack a (id, text) frame into WebDataset tar
    shards — md5-bucketed like tfrecord_shards (one content-addressed
    layout contract across both export formats), samples ordered by
    id within a shard, each sample = ``{id:012d}.txt`` +
    ``{id:012d}.json`` (the id as metadata, the WebDataset
    convention)."""
    import json as _json

    from pyspark.sql import functions as F

    from verified_sources_spark.llm.text_prep import hash_sample_bucket

    def pack(key, table):
        table = table.sort_by(id_col)
        samples = [(f"{i:012d}",
                    {"txt": (t or "").encode(),
                     "json": _json.dumps({"id": i}).encode()})
                   for i, t in zip(table.column(id_col).to_pylist(),
                                   table.column(text_col).to_pylist())]
        return {"shard_id": [key[0]], "n_samples": [len(samples)],
                "asset": [encode_wds(samples)]}

    keyed = df.select(
        F.col(id_col), F.col(text_col),
        (hash_sample_bucket(id_col, salt="shard")
         % F.lit(n_shards)).alias("_shard"))
    return map_groups(keyed, ["_shard"], pack,
                      "shard_id long, n_samples int, asset binary")


def wds_multimodal_shards(df, id_col: str = "doc_id",
                          image_col: str = "png",
                          seg_col: str = "seg",
                          caption_col: str = "caption",
                          n_shards: int = 16):
    """Multimodal WDS export: real shards pack image+mask+caption+
    metadata per sample key — ``{id:012d}.png`` + ``.seg.png`` (the
    multi-suffix extension the key contract must keep with its
    sample) + ``.txt`` + ``.json``.  Same md5-bucket layout contract
    as :func:`wds_shards` / tfrecord_shards, samples id-ordered,
    members adjacent.  The one necessary shuffle moves the sample
    bytes to their shard bucket — inherent to any export (the bytes
    must land in their output file); nothing is shuffled twice."""
    import json as _json

    from pyspark.sql import functions as F

    from verified_sources_spark.llm.text_prep import hash_sample_bucket

    def pack(key, table):
        table = table.sort_by(id_col)
        samples = []
        for i, img, seg, cap in zip(*(table.column(c).to_pylist() for c in (
                id_col, image_col, seg_col, caption_col))):
            if img is None or seg is None:
                # refuse by name: a silent drop loses a sample, a
                # bytes(None) TypeError kills the whole export stage
                raise WdsError(
                    f"sample {i} carries a null media column")
            samples.append((f"{i:012d}", {
                "png": img, "seg.png": seg,
                "txt": (cap or "").encode(),
                "json": _json.dumps({"id": i}).encode()}))
        return {"shard_id": [key[0]], "n_samples": [len(samples)],
                "asset": [encode_wds(samples)]}

    keyed = df.select(
        F.col(id_col), F.col(image_col), F.col(seg_col),
        F.col(caption_col),
        (hash_sample_bucket(id_col, salt="shard")
         % F.lit(n_shards)).alias("_shard"))
    return map_groups(keyed, ["_shard"], pack,
                      "shard_id long, n_samples int, asset binary")
