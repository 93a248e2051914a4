"""Scale soaks: registry entries and operators at volume and under skew.

    python tools/soak.py                          # list the scenarios
    python tools/soak.py [--n N] scenario ...     # run them

A scenario is named for what it stresses.  Most drive graded registry
entries UNMODIFIED over a synthetic ``documents`` spine (written as
parquet, built from Column expressions — no driver-side data): the
entries mint their own assets from ``doc_id``, so a scenario is just
``entry × spine shape × n``.  A custom mint remains only where the
registry cannot produce the shape: one page copied into most of a
crawl, one mail with thousands of attachments, one zip with thousands
of members, one PDF with hundreds of JBIG2 regions, a media ledger
grown over many batches, table-format deletes and compaction, a pair
graph too big to label on the driver, and operator-level skew (a
celebrity link target, one hot host, one hot span in every document).

Each measured step prints one line: label, seconds, output rows and
input rows per second per core.  ``--n`` sets the input size (documents,
rows, members or regions, as the scenario's listing says); without it
each scenario uses its own default.  Results are recorded in SCALE.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from typing import Callable, NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers inherit this environment when the JVM starts: they
# then import this checkout too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402


def timed(spark, label: str, fn: Callable, n_in: int):
    """Run ``fn`` (returning a row count) and print one result line."""
    t0 = time.time()
    rows = fn()
    dt = time.time() - t0
    cores = spark.sparkContext.defaultParallelism
    print(f"  {label}: {dt:.1f}s, {rows} rows, "
          f"{n_in / dt / cores:.0f} docs/s/core", flush=True)
    return rows


# ------------------------------------------------------------- spines


def _ids(spark, n: int):
    return spark.range(n).withColumnRenamed("id", "doc_id")


def _residue_skew(stride: int, hot: Callable, cold: Callable):
    """``hot(n)`` ids ≡ 0 (mod stride), ``cold(n)`` ids in each other
    residue — every registry entry keys its genre/host/page on a
    doc_id residue, so this over-represents exactly one of them."""
    def build(spark, n):
        others = F.array(*[F.col("id") * stride + F.lit(r)
                           for r in range(1, stride)])
        return (spark.range(hot(n)).select(
                    (F.col("id") * stride).alias("doc_id"))
                .unionAll(spark.range(cold(n)).select(
                    F.explode(others).alias("doc_id"))))
    return build


def _lang_terms(hot_lang: bool = False, head: str | None = None):
    """(doc_id, lang, 40-term text): 20% "en" (90% when ``hot_lang``);
    with ``head`` every other token is that one word (a Zipf head)."""
    def build(spark, n):
        doc = F.col("doc_id")
        lang = F.when(doc % 10 < (9 if hot_lang else 2), F.lit("en")) \
            .otherwise(F.concat(F.lit("l"), (doc % 7).cast("string")))
        terms = [F.lit(head) if head and i % 2 == 0 else
                 F.concat(F.lit("w"), ((doc * 13 + i) % 4999).cast("string"))
                 for i in range(40)]
        return (_ids(spark, n).withColumn("lang", lang)
                .withColumn("text", F.concat_ws(" ", *terms)))
    return build


def _dsir_rings(concentrated: bool):
    """Ring vocabularies give unambiguous planted ground truth: every
    ring-A document (the target spine %50==0 plus the 10% corpus plant
    %10==1) shares the same 97 bigram types whatever its start offset,
    ring-B documents share a disjoint 997-type ring — so selection
    fidelity is exact precision/recall against the plant.
    ``concentrated``: half of every doc's tokens are one word."""
    def build(spark, n):
        doc = F.col("doc_id")
        is_a = (doc % 50 == 0) | (doc % 10 == 1)
        terms = [F.lit("hotword") if concentrated and i % 2 == 0 else
                 F.when(is_a, F.concat(F.lit("a"),
                                       ((doc + i) % 97).cast("string")))
                 .otherwise(F.concat(F.lit("b"),
                                     ((doc + i) % 997).cast("string")))
                 for i in range(40)]
        return _ids(spark, n).withColumn("text", F.concat_ws(" ", *terms))
    return build


SPINES = {
    "uniform": _ids,
    # genre 0 (doc_id % 6 == 0) ~50x over-represented
    "genre_skew": _residue_skew(6, lambda n: 50 * max(1, n // 55),
                                lambda n: max(1, n // 55)),
    # one shared crawl page (doc_id % 5 == 0) on half of all hosts
    "shared_page_skew": _residue_skew(5, lambda n: n // 2,
                                      lambda n: (n - n // 2) // 4),
    "texted": lambda spark, n: spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("soak body text for doc "), F.col("id")).alias("text")),
    "lang_terms": _lang_terms(),
    "one_hot_lang": _lang_terms(hot_lang=True),
    "zipf_head": _lang_terms(head="the"),
    "dsir_rings": _dsir_rings(False),
    "dsir_concentrated": _dsir_rings(True),
}


def spine_dir(root: str, shape: str, n: int) -> str:
    return os.path.join(root, f"{shape}_{n}")


def write_spine(spark, root: str, shape: str, n: int) -> tuple[str, int]:
    """Write (once) the ``shape`` spine of size ``n`` as a ``documents``
    table under ``root``; returns its sf_dir and document count."""
    path = spine_dir(root, shape, n)
    table = f"{path}/documents.parquet"
    if not os.path.exists(table):
        SPINES[shape](spark, n).write.mode("overwrite").parquet(table)
    return path, spark.read.parquet(table).count()


def minted(spark, n: int, mint: Callable, schema="doc_id long, asset binary",
           start: int = 0):
    """ids ``start..n`` spread over every core, each mapped to one row
    by ``mint(doc_id) -> dict``."""
    cols = [c.split()[0] for c in schema.split(", ")]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame([mint(int(d)) for d in pdf["id"]],
                               columns=cols)

    return (spark.range(start, n)
            .repartition(spark.sparkContext.defaultParallelism)
            .mapInPandas(run, schema))


# ---------------------------------------------------- scenario types


class Scenario(NamedTuple):
    run: Callable      # (spark, n, root) -> None
    n: int             # default input size
    about: str


def entries(shape: str, *names: str, n: int = 10_000) -> Scenario:
    """Registry entries, unmodified, over one spine shape."""
    def run(spark, n, root):
        from verified_sources_spark.plans.queries import QUERIES

        path, docs = write_spine(spark, root, shape, n)
        for name in names:
            timed(spark, f"{name} [{shape}] n={docs}",
                  lambda: QUERIES[name](spark, path).count(), docs)
    return Scenario(run, n, f"{', '.join(names)} over the {shape} spine")


# ----------------------------------------------------- custom scenarios


def dsir_selection(shape: str) -> Scenario:
    """dsir_importance_docs plus its precision/recall on the plant."""
    def run(spark, n, root):
        from verified_sources_spark.plans.queries import QUERIES

        path, docs = write_spine(spark, root, shape, n)
        built = []

        def score():   # construction runs the featurization jobs: time it
            built.append(QUERIES["dsir_importance_docs"](spark, path))
            return built[0].count()

        rows = timed(spark, f"dsir_importance_docs [{shape}] n={docs}",
                     score, docs)
        df = built[0]
        sel = df.filter("selected")
        n_sel = sel.count()
        tp = sel.filter("doc_id % 10 = 1").count()
        n_pos = rows and df.filter("doc_id % 10 = 1").count()
        print(f"    {n_sel} selected, precision "
              f"{tp / n_sel if n_sel else float('nan'):.4f}, recall "
              f"{tp / n_pos if n_pos else float('nan'):.4f}", flush=True)
    return Scenario(run, 100_000,
                    f"dsir_importance_docs over the {shape} spine, with "
                    "precision/recall against the planted ring")


def crawl_hot_page(spark, n, root):
    from verified_sources_spark.llm.exact_dedup import exact_dedup_groups
    from verified_sources_spark.llm.warc import warc_extract

    hot = n - n // 6

    def mint(did):
        from verified_sources_spark.llm.warc import (
            encode_record, encode_warc, http_response_block,
        )

        text = "the hot duplicated page" if did < hot else f"unique page {did}"
        body = f"<html><body><p>{text}</p></body></html>".encode()
        rec = encode_record(uri=f"http://e/{did}",
                            block=http_response_block(body))
        return {"doc_id": did, "asset": encode_warc([rec])}

    pages = (warc_extract(minted(spark, n, mint)).filter("decoded_ok")
             .select("doc_id", "text"))
    groups = exact_dedup_groups(pages, "doc_id", "text")
    timed(spark, f"exact_dedup_groups, one page in {hot} of {n} WARCs",
          groups.count, n)
    top = groups.orderBy(F.desc("n_copies")).first()
    assert top["n_copies"] == hot, top


def archive_fat_zip(spark, n, root):
    from verified_sources_spark.llm.archives import (
        encode_zip, iter_members_recursive,
    )

    big = encode_zip({f"f{i:05d}.txt": b"x%d" % i for i in range(n)})
    outer = encode_zip({"big.zip": big,
                        "inner.zip": encode_zip({"pad.txt": b"p"})})

    def explode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"n_members": [
                sum(1 for a in pdf["asset"]
                    for _ in iter_members_recursive(bytes(a)))]})

    df = spark.createDataFrame(
        [(i, bytearray(outer)) for i in range(64)],
        "doc_id long, asset binary",
    ).repartition(spark.sparkContext.defaultParallelism)
    total = timed(
        spark, f"iter_members_recursive, {n}-member zip x 64 rows",
        lambda: df.mapInPandas(explode, "n_members long")
        .agg(F.sum("n_members")).first()[0], 64)
    assert total == 64 * (n + 1), total   # + the nested pad member


def scan_hot_dhash_bucket(spark, n, root):
    import numpy as np

    from verified_sources_spark.llm.image_dedup import tiff_pages
    from verified_sources_spark.llm.jbig2 import encode_jbig2_mmr
    from verified_sources_spark.llm.pdf_codec import encode_pdf, pdf_images
    from verified_sources_spark.llm.tiff_codec import encode_multipage_bilevel

    w, h = 32, 24
    bits = (np.random.default_rng(1).integers(0, 256, size=(h, w)) < 128
            ).astype(np.uint8)
    pdf_page = encode_pdf([["p"]], image={
        "width": w, "height": h, "bpc": 1, "colorspace": "DeviceGray",
        "pdf_filter": "JBIG2Decode",
        "data": encode_jbig2_mmr([bits[y].tobytes() for y in range(h)])})
    tif_page = encode_multipage_bilevel([(w, h, bits.tobytes())],
                                        compression="g4")
    assets = minted(
        spark, n,
        lambda did: {"doc_id": did, "asset": pdf_page if did % 2 else tif_page,
                     "is_pdf": did % 2},
        "doc_id long, asset binary, is_pdf int")
    hashes = (pdf_images(assets.filter("is_pdf = 1")).select("doc_id", "dhash")
              .unionByName(tiff_pages(assets.filter("is_pdf = 0"))
                           .select("doc_id", "dhash"))
              .filter(F.col("dhash").isNotNull()))
    top = timed(spark, f"one page as {n} PDF/TIFF scans, hottest dhash bucket",
                lambda: hashes.groupBy("dhash").count()
                .orderBy(F.desc("count")).first()["count"], n)
    assert top == n, top


def mail_many_attachments(spark, n, root):
    from verified_sources_spark.llm.email_ingest import email_attachment_texts

    def mint(did):
        from verified_sources_spark.llm.email_ingest import encode_eml

        atts = [(f"n{k}.txt", "text/plain", f"note {k} body text".encode())
                for k in range(n)]
        return {"doc_id": did,
                "asset": encode_eml("fat", "b\n", attachments=atts)}

    timed(spark, f"email_attachment_texts, one mail with {n} attachments",
          lambda: email_attachment_texts(minted(spark, 1, mint)).count(), n)


def pdf_many_jbig2_regions(spark, n, root):
    from verified_sources_spark.llm.pdf_codec import pdf_images

    def mint(did):
        from verified_sources_spark.llm.jbig2 import encode_jbig2_arith
        from verified_sources_spark.llm.pdf_codec import encode_pdf

        w, h = 96, 64
        base = [bytes(1 if (y % 5 == 0 and x % 3 == 0) else 0
                      for x in range(w)) for y in range(h)]
        blob = encode_jbig2_arith(
            regions=[(0, k * h, base, 0) for k in range(n)],
            page_size=(w, n * h), tpgdon=True)
        return {"doc_id": did, "asset": encode_pdf([["x"]], image={
            "width": w, "height": n * h, "bpc": 1,
            "colorspace": "DeviceGray", "pdf_filter": "JBIG2Decode",
            "data": blob})}

    timed(spark, f"pdf_images, one PDF with {n} stacked JBIG2 regions",
          lambda: pdf_images(minted(spark, 1, mint))
          .filter("decoded_ok").count(), n)


def media_ledger_growth(spark, n, root):
    from verified_sources_spark.operators.table_format import ManifestTable
    from verified_sources_spark.streaming.media_ingest import MediaIngest

    batch, n_batches = max(1, n // 6), 6

    def mint(did):
        import numpy as np

        from verified_sources_spark.llm.jpeg_codec import encode as jpg
        from verified_sources_spark.llm.mp3_codec import encode_stub as mp3
        from verified_sources_spark.llm.mp4_codec import encode_stub as mp4
        from verified_sources_spark.llm.png_codec import encode as png

        r = did % 25
        if r == 7:      # exact-only MP4, unique bytes per id
            return {"doc_id": did, "asset": mp4(
                width=64, height=48, n_frames=10 + did % 20, fps=10.0)}
        if r == 8:      # exact-only MP3
            return {"doc_id": did, "asset": mp3(
                n_frames=10 + did % 20,
                sample_rate=[32000, 44100, 48000][did % 3])}
        # every 10th image near-dups a batch-0 asset (always standing)
        rng = np.random.default_rng(
            did % batch if did % 10 == 0 and did >= batch else did)
        coarse = rng.integers(0, 256, size=(6, 8))
        h, w = 24, 32
        gray = coarse[(np.arange(h) * 6) // h][:, (np.arange(w) * 8) // w]
        rgb = np.stack([gray] * 3, axis=2).copy()
        rgb[did % h, did % w] = [255, 0, 0]
        px = rgb.astype(np.uint8).tobytes()
        return {"doc_id": did, "asset": png(w, h, px, "RGB") if did % 2 == 0
                else jpg(w, h, px, quality=90)}

    ing = MediaIngest(ManifestTable(spark, os.path.join(root, "media")),
                      ManifestTable(spark, os.path.join(root, "media_fps")))
    costs = []
    for b in range(n_batches):
        lo, hi = b * batch, (b + 1) * batch

        def apply():
            ing.apply_batch(minted(spark, hi, mint, start=lo), b)
            return batch

        t0 = time.time()
        timed(spark, f"MediaIngest.apply_batch {b} (+{batch}, standing ~{lo})",
              apply, batch)
        costs.append(time.time() - t0)
    print(f"    accepted {ing.docs_table.read().count()} of "
          f"{batch * n_batches}; last batch {costs[-1]:.2f}s vs batch 1 "
          f"{costs[1]:.2f}s -> {'flat' if costs[-1] < 2 * costs[1] else 'NOT flat'}",
          flush=True)


def table_delete_export(spark, n, root):
    from verified_sources_spark.operators.iceberg_interop import (
        export_manifest_as_iceberg, read_iceberg_table,
    )
    from verified_sources_spark.operators.table_format import ManifestTable

    t = ManifestTable(spark, os.path.join(root, "ice"))
    t.append(spark.range(n).selectExpr(
        "id", "id % 1000 as k", "cast(id * 1.5 as double) as v"
    ).repartition(spark.sparkContext.defaultParallelism))
    live = n - (n + 3) // 4       # ids ≡ 0 (mod 4) are deleted

    def delete():
        t.delete_where("id % 4 = 0")
        return live

    def export():
        export_manifest_as_iceberg(t)
        return live

    timed(spark, "delete_where 25% (deletion vectors)", delete, n)
    timed(spark, "export_manifest_as_iceberg with the position deletes",
          export, n)
    rows = timed(spark, "read_iceberg_table",
                 lambda: read_iceberg_table(spark, t.path).count(), n)
    assert rows == live, rows


def table_stats_many_files(spark, n, root):
    from verified_sources_spark.operators.table_format import ManifestTable

    t = ManifestTable(spark, os.path.join(root, "stats"))
    # round-robin fills every file only when each range partition holds
    # at least one row per file: an empty file has no stats to serve
    files = max(1, min(600, n // spark.sparkContext.defaultParallelism))
    t.append(spark.range(n).selectExpr("id", "cast(id as double) v")
             .repartition(files))
    n_files = len(t._manifest(t.latest_version())["files"])
    got = {}

    def stats():
        got.update(t.stats_aggregate(
            {"n": ("count", "*"), "lo": ("min", "id"), "hi": ("max", "v")}))
        return got["n"]

    timed(spark, f"stats_aggregate over {n_files} files (driver only)",
          stats, n)
    assert got == {"n": n, "lo": 0, "hi": float(n - 1)}, got


def table_zorder_compact(spark, n, root):
    from verified_sources_spark.operators.table_format import ManifestTable

    t = ManifestTable(spark, os.path.join(root, "zorder"))
    t.append(spark.range(n).selectExpr(
        "id", "cast(hash(id, 1) % 100000 as long) as x",
        "cast(hash(id, 2) % 100000 as long) as y",
    ).repartition(spark.sparkContext.defaultParallelism))
    def compact():
        t.compact(target_file_bytes=2_000_000, cluster_by=["x", "y"],
                  layout="zorder")
        return t.read().count()

    timed(spark, "compact zorder on (x, y)", compact, n)
    nf = len(t._manifest(t.latest_version())["files"])
    tx = len(t.candidate_entries([("x", ">", 0), ("x", "<", 5000)], None))
    ty = len(t.candidate_entries([("y", ">", 0), ("y", "<", 5000)], None))
    print(f"    zorder skipping: {tx}/{nf} files for an x slice, "
          f"{ty}/{nf} for a y slice", flush=True)


def _spill_mib(spark):
    """(memory, disk) MiB spilled by completed stages, from the UI REST
    API; None when the session runs without a UI."""
    import json
    import urllib.request

    sc = spark.sparkContext
    if not sc.uiWebUrl:
        return None
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
           "/stages?status=complete")
    with urllib.request.urlopen(url) as r:
        stages = json.loads(r.read())
    return (sum(s.get("memoryBytesSpilled", 0) for s in stages) / 2**20,
            sum(s.get("diskBytesSpilled", 0) for s in stages) / 2**20)


def hot_span_window_vs_groupjoin(spark, n, root):
    """The window-flag dedup shapes (text_prep._span_occurrences,
    line_dedup.line_dedup) flag duplicates with aggregates over an
    UNBOUNDED window partitioned by the unit hash: a window partition
    buffers every occurrence row of a hot key in one reducer, where a
    groupBy gets map-side partial aggregation.  One 8-token span shared
    by every document, window form against groupBy + join-back."""
    from pyspark.sql import Window

    from verified_sources_spark.cut import cut
    from verified_sources_spark.functions.text import shingles

    hot = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = cut(spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(hot + " tail"), F.col("id").cast("string"),
                 F.lit(" omega"), F.col("id").cast("string")).alias("text"),
    ), eager=True)  # fixture cost out of the timed region
    occ = docs.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.transform(shingles("text", 8), lambda s: F.md5(s)))
        .alias("spos", "_h"))

    def window_form():
        w = Window.partitionBy("_h")
        return occ.withColumn("_dup", F.min("_id").over(w) != F.max("_id").over(w))

    def groupjoin_form():
        sp = cut(occ)
        return sp.join(sp.groupBy("_h").agg(
            (F.min("_id") != F.max("_id")).alias("_dup")), "_h")

    def digest(df):
        return tuple(df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(
            F.col("_id").cast("string"), F.col("spos").cast("string"),
            F.col("_h"), F.col("_dup").cast("string")
        ).cast("decimal(38,0)"))).first())

    assert digest(window_form()) == digest(groupjoin_form())
    for rep in range(4):
        for name, form in (("window", window_form),
                           ("groupjoin", groupjoin_form)):
            def write():
                form().write.format("noop").mode("overwrite").save()
                return n

            s0 = _spill_mib(spark)
            timed(spark, f"rep{rep} {name} form, one span in {n} docs",
                  write, n)
            s1 = _spill_mib(spark)
            if s0 is not None:
                print(f"    spill memory {s1[0] - s0[0]:.1f} MiB, "
                      f"disk {s1[1] - s0[1]:.1f} MiB", flush=True)


def _spread_ids(spark, n):
    return _ids(spark, n).repartition(spark.sparkContext.defaultParallelism)


def link_rank_celebrity_dst(spark, n, root):
    from verified_sources_spark.llm.linkgraph import link_rank

    ids = _spread_ids(spark, n)
    for tag, third in (("uniform", (F.col("doc_id") + 1) % n),
                       ("half the edges to node 0", F.lit(0))):
        edges = ids.select(F.col("doc_id").alias("src"),
                           F.explode(F.array((F.col("doc_id") * 7) % n,
                                             (F.col("doc_id") * 13) % n,
                                             third)).alias("dst"))
        timed(spark, f"link_rank [{tag}] n={n}",
              lambda: link_rank(edges, "src", "dst", iterations=2).count(), n)


def budget_many_groups(spark, n, root):
    from verified_sources_spark.llm.corpus import budget_apportionment

    ids = _spread_ids(spark, n)
    for g in (7, 10_000):
        w = ids.select((F.col("doc_id") % g).cast("string").alias("grp"),
                       (F.col("doc_id") % 997 + 1).alias("w"))
        timed(spark, f"budget_apportionment [G={g}] n={n}",
              lambda: budget_apportionment(w, "grp", "w", 10**12).count(), n)


def fetch_one_hot_host(spark, n, root):
    from verified_sources_spark.llm.crawlgov import fetch_schedule

    ids = _spread_ids(spark, n)
    doc = F.col("doc_id")
    for tag, host_id in (("uniform", doc % 1000),
                         ("one host owns half", F.when(doc % 2 == 0, 0)
                          .otherwise(doc % 1000))):
        frontier = ids.select(
            F.concat(F.lit("h"), host_id.cast("string"),
                     F.lit(".example")).alias("host"),
            F.concat(F.lit("https://x/p/"), doc.cast("string")).alias("url"),
            F.when(doc % 3 == 0, 500).otherwise(1000).cast("long")
            .alias("crawl_delay_ms"))
        timed(spark, f"fetch_schedule [{tag}] n={n}",
              lambda: fetch_schedule(frontier).count(), n)


def chain_star_edges(spark, n: int, size: int = 20):
    """(id_a, id_b) edges over nodes 0..n-1 in components of ``size``
    consecutive ids: even components are chains, odd ones stars whose hub
    is their LARGEST id (not the minimum a label must reach).  Returns
    the edges, their count and the number of components."""
    node = F.col("id")
    comp = F.floor(node / size)
    hub = F.least((comp + 1) * size, F.lit(n)) - 1
    chain = comp % 2 == 0
    edges = (spark.range(n)
             .where(F.when(chain, node > comp * size).otherwise(node != hub))
             .select(F.when(chain, node - 1).otherwise(node).alias("id_a"),
                     F.when(chain, node).otherwise(hub).alias("id_b")))
    n_comps = n // size + (1 if n % size >= 2 else 0)
    return edges, n - (n + size - 1) // size, n_comps  # size-1 edges a component


def components_chain_star(spark, n, root):
    from verified_sources_spark import sizing
    from verified_sources_spark.llm.neardup import connected_components

    edges, n_edges, n_comps = chain_star_edges(spark, n)
    cap = sizing.LOCAL_GRAPH_MAX_EDGES
    where = "Spark loop" if n_edges > cap else "driver"
    comps = timed(spark, f"connected_components [{where}], {n_edges} chain+star "
                  f"edges over {n} nodes",
                  lambda: connected_components(edges)
                  .select("component").distinct().count(), n)
    assert comps == n_comps, (comps, n_comps)
    # both branches on a subset small enough for the driver: same labels
    sub = edges.where(F.col("id_b") < min(n, 2_000))
    labels = []
    try:
        for forced in (0, n):
            sizing.LOCAL_GRAPH_MAX_EDGES = forced
            labels.append(sorted(map(tuple, connected_components(sub).collect())))
    finally:
        sizing.LOCAL_GRAPH_MAX_EDGES = cap
    assert labels[0] == labels[1], "driver and Spark-loop components differ"
    print(f"    driver and Spark loop agree on {len(labels[0])} nodes", flush=True)


SELECTION_OPS = ("blocklist_filter_docs", "vocab_estimate_docs",
                 "length_quantiles_docs", "selection_pipeline_docs",
                 "blocklist_idn_docs", "pmi_collocations_docs",
                 "corpus_overlap_docs")

SCENARIOS: dict[str, Scenario] = {
    # composed chains at volume and under the skew each one exists for
    "curation_uniform": entries("uniform", "curation_pipeline_docs",
                                n=100_000),
    "curation_genre_skew": entries("genre_skew", "curation_pipeline_docs",
                                   n=100_000),
    "crawl_corpus_uniform": entries("uniform", "crawl_corpus_docs",
                                    n=100_000),
    "crawl_shared_page_skew": entries("shared_page_skew", "crawl_corpus_docs",
                                      n=100_000),
    "crawl_frontier_volume": entries(
        "texted", "frontier_build_docs", "frontier_audit_docs",
        "warc_extract_docs", n=100_000),
    "crawl_text_volume": entries("texted", "wet_text_docs",
                                 "wat_metadata_docs", n=100_000),
    "dsir_uniform": dsir_selection("dsir_rings"),
    "dsir_concentrated": dsir_selection("dsir_concentrated"),
    "selection_ops_uniform": entries("lang_terms", *SELECTION_OPS,
                                     n=100_000),
    "selection_ops_one_hot_lang": entries("one_hot_lang", *SELECTION_OPS,
                                          n=100_000),
    "collocation_zipf_head": entries("zipf_head", *SELECTION_OPS[4:],
                                     n=100_000),
    # front doors: per-core decode rate (text-embedding mints read the
    # texted spine)
    "image_decode_volume": entries(
        "uniform", "jpeg_decode_probe_docs", "image_formats_probe_docs",
        "media_ingest_dedup_docs"),
    "av_decode_volume": entries(
        "uniform", "audio_decode_probe_docs", "flac_roundtrip_docs",
        "video_decode_probe_docs", "video_scene_pairs_docs"),
    "scan_decode_volume": entries(
        "uniform", "pdf_image_matches_docs", "scan_dedup_pipeline_docs",
        n=100_000),
    "document_extract_volume": entries(
        "texted", "pdf_extract_docs", "office_extract_docs",
        "email_attachment_pipeline_docs", "archive_members_docs",
        "shard_lines_docs", "exif_inventory_docs"),
    "markup_extract_volume": entries(
        "texted", "feed_entries_docs", "notebook_cells_docs",
        "markdown_extract_docs", "mhtml_extract_docs", "latex_extract_docs",
        "delimited_rows_docs", "wiki_pages_docs", "jats_units_docs",
        "se_posts_docs", "chat_turns_docs", "code_signals_docs",
        "fix_text_docs"),
    "calendar_volume": entries(
        "texted", "ics_events_docs", "ics_tzid_events_docs",
        "vcf_cards_docs", n=100_000),
    "export_volume": entries(
        "texted", "tfrecord_export_docs", "wds_export_docs",
        "wds_multimodal_docs", n=100_000),
    # shapes the registry cannot produce
    "crawl_hot_page": Scenario(
        crawl_hot_page, 120_000,
        "WARC exact dedup with one page copied into 5/6 of n docs"),
    "archive_fat_zip": Scenario(
        archive_fat_zip, 10_000,
        "64 rows each exploding one nested zip of n members"),
    "scan_hot_dhash_bucket": Scenario(
        scan_hot_dhash_bucket, 20_000,
        "one bilevel page as n PDF (JBIG2) / TIFF (G4) scans"),
    "mail_many_attachments": Scenario(
        mail_many_attachments, 5_000, "one mail carrying n attachments"),
    "pdf_many_jbig2_regions": Scenario(
        pdf_many_jbig2_regions, 500,
        "one PDF whose JBIG2 page stacks n MQ-arithmetic regions"),
    "media_ledger_growth": Scenario(
        media_ledger_growth, 120_000,
        "n mixed PNG/JPEG/MP4/MP3 assets into a media ledger in 6 batches"),
    "table_delete_export": Scenario(
        table_delete_export, 400_000,
        "n-row table, 25% deleted by vector, exported as Iceberg v2"),
    "table_stats_many_files": Scenario(
        table_stats_many_files, 500_000,
        "stats_aggregate over n rows in 600 files (fewer for small n)"),
    "table_zorder_compact": Scenario(
        table_zorder_compact, 2_000_000, "z-order compaction of n rows"),
    "hot_span_window_vs_groupjoin": Scenario(
        hot_span_window_vs_groupjoin, 1_000_000,
        "one 8-token span in all n docs: window vs groupBy+join flags"),
    "link_rank_celebrity_dst": Scenario(
        link_rank_celebrity_dst, 100_000,
        "link_rank over 3n edges, uniform then half into one node"),
    "budget_many_groups": Scenario(
        budget_many_groups, 100_000,
        "budget_apportionment of n weights into 7 and 10k groups"),
    "components_chain_star": Scenario(
        components_chain_star, 1_200_000,
        "connected_components of 20-node chain/star components over n "
        "nodes, past the driver-labelling bound"),
    "fetch_one_hot_host": Scenario(
        fetch_one_hot_host, 100_000,
        "fetch_schedule of n URLs, uniform then one host owning half"),
}


def run(spark, name: str, n: int | None, root: str) -> None:
    """Run one scenario on ``spark``; spines and tables go under ``root``."""
    s = SCENARIOS[name]
    n = n or s.n
    print(f"{name} n={n}", flush=True)
    s.run(spark, n, root)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, help="input size (default: per scenario)")
    ap.add_argument("scenario", nargs="*", help="scenario names; none lists them")
    args = ap.parse_args(argv)
    if not args.scenario:
        for name, s in SCENARIOS.items():
            print(f"{name:30s} n={s.n:<9d} {s.about}")
        return
    unknown = sorted(set(args.scenario) - set(SCENARIOS))
    if unknown:
        ap.error(f"unknown scenario(s): {', '.join(unknown)}")

    from verified_sources_spark.session import get_spark

    spark = get_spark("soak", extra_conf={
        "spark.ui.enabled": "true",   # spill metrics for hot_span_window_vs_groupjoin
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="soak_")
    try:
        for name in args.scenario:
            run(spark, name, args.n, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
