"""Regenerate PLANS.md: formatted physical plans for the headline queries.

    python tools/dump_plans.py
    python tools/dump_plans.py --out plans/r16 --tag before [entries ...]

The dump is the plan-audit artifact: broadcast placement, pushed filters,
pruned read schemas, exchange structure — reviewable without running
Spark. Regenerate after any planner-relevant change; the plan-quality
invariants are ALSO asserted in tests/test_plan_quality.py (this file is
for human review, the tests are the gate).

With ``--out DIR`` it instead writes each entry's plan at sf0.1 to
``DIR/<entry>_<tag>.txt`` (default entries: the bench headline), so a
change's before/after plans can be diffed file by file.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers inherit this environment when the JVM starts: they
# then import this checkout too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from bench import HEADLINE  # noqa: E402
from verified_sources_spark.plans.queries import QUERIES  # noqa: E402
from verified_sources_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

AUDIT_NOTES = {
    "q1_pricing_summary": "filter pushed to scan; partial agg before the single shuffle",
    "q3_shipping_priority": "customer broadcast; one shuffle on the groupBy key; TakeOrdered top-10",
    "q5_local_supplier_volume": "supplier/nation/region broadcast; lineitem never re-shuffles for dims",
    "rollup_revenue": "broadcast dims; ROLLUP = one Expand + one shuffle",
    "as_of_latest_order": "union + last-ignorenulls window: ONE sort-shuffle, zero joins",
    "lsh_candidate_pairs_docs": "banded signatures; ONE band-key shuffle reused by both salted agg levels; TWO branches read the persisted level-1 cut (bucket pairs + sub-star); hot buckets star-capped, no giant collect",
    "cosine_topk_embeddings": (
        "BroadcastNestedLoopJoin is BY DESIGN: exact dense top-k scores every "
        "corpus row against the (tiny, broadcast) query side — the build side "
        "is Q rows, never the corpus; the ANN entries are the sparse path"
    ),
    "cdc_apply_changes": "keyed merge: one hash shuffle shared by dedup window + anti join",
}


# corpus-pillar plans appended as their own audit section
CORPUS_AUDIT = {
    "domain_cap_docs": "two Window nodes: salted (domain, hash%64) stage bounds any mega-domain, then final rank over ≤cap×64 survivors; no SinglePartition",
    "mixture_sample_docs": "per-domain rate table is BroadcastHashJoin'd back; keep decision is a per-row hash compare",
    "pack_manifest_docs": "bucketed prefix scan: per-bucket windows + literal offsets — NO SinglePartition exchange for a global running sum",
    "incremental_dedup_docs": "semi/anti joins on hash-sized keys only; the standing corpus is never self-paired",
    "quality_filter_docs": "two exploded aggregations (lines, bigrams) + per-row flags; no quadratic per-row array scans",
    "curated_corpus_docs": "the fused curation chain: quality verdicts gate via semi join, normalized-dedup keep via semi join, salted two-stage cap — one job, no cartesians",
}


def formatted_plan(spark, name: str, sf_dir: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def dump_entries(spark, out_dir: str, tag: str, names) -> None:
    sf_dir = os.path.join(os.path.dirname(SF), "sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    for name in names or HEADLINE:
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(formatted_plan(spark, name, sf_dir))
        print("dumped", name)


def write_plans_md(spark) -> None:
    out = ["# PLANS — formatted physical plans for the headline queries",
           "",
           f"Generated by tools/dump_plans.py at sf0.01. Invariants asserted in",
           "tests/test_plan_quality.py; notes call out what to look for.",
           ""]

    def dump(name: str, note: str) -> None:
        out.append(f"## {name}")
        if note:
            out.append(f"\n_{note}_\n")
        out.append("```")
        out.append(formatted_plan(spark, name, SF).rstrip())
        out.append("```\n")

    for name in HEADLINE:
        dump(name, AUDIT_NOTES.get(name, ""))
    out.append("# Corpus-pillar plans (llm/corpus.py)\n")
    for name, note in CORPUS_AUDIT.items():
        dump(name, note)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE) + len(CORPUS_AUDIT)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="directory for per-entry plan files")
    ap.add_argument("--tag", default="before", help="file suffix, e.g. before|after")
    ap.add_argument("entries", nargs="*", help="with --out: entries to dump")
    args = ap.parse_args()
    if args.entries and not args.out:
        ap.error("entries need --out")
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        dump_entries(spark, args.out, args.tag, args.entries)
    else:
        write_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
