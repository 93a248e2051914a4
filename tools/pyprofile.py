"""Top Python functions of each Python stage of one registry entry.

    python tools/pyprofile.py ENTRY --sf DIR [--top N]

Runs ENTRY once (built, then written to the ``noop`` sink) under Spark's
own UDF profiler, ``spark.sql.pyspark.udf.profiler=perf``, and prints
for each Python stage the ``N`` functions with the most internal time.
A stage is named by its plan node (``boundary`` names, e.g.
``cross_source_dedup_docs.mint+warc_extract.run`` or a grouped
``_cluster_pairs_gemm.one_cluster``); a stage that ran
while the entry was being built (a cut, a size probe) has no node in
the final plan and prints as ``UDF<id>``.  The profiler sees only time
inside the UDF, not the Python runner's start-up per task.
``SPARK_GRAFT_CPUS`` sets the session's core count, as for every tool.
"""

from __future__ import annotations

import argparse
import os
import pstats
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Python workers inherit this environment when the JVM starts: they
# then import this checkout too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from verified_sources_spark.plans.queries import QUERIES  # noqa: E402
from verified_sources_spark.session import get_spark  # noqa: E402


def stage_names(plan: str) -> dict[int, str]:
    """PythonUDF result id -> stage name, from a plan's text
    (``MapInPandas name(args)#id``, ``MapInArrow name(args)#id`` or
    ``FlatMapGroupsInArrow [keys], name(args)#id``)."""
    return {int(i): n for n, i in re.findall(
        r"(?:MapIn(?:Pandas|Arrow)|FlatMapGroupsIn(?:Pandas|Arrow) \[[^\]]*\],) (\S+?)\(.*?\)#(\d+)", plan)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("entry", choices=sorted(QUERIES), metavar="ENTRY")
    ap.add_argument("--sf", required=True, help="testdata directory (one scale factor's tables)")
    ap.add_argument("--top", type=int, default=15, help="functions per stage")
    args = ap.parse_args()

    spark = get_spark("pyprofile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        df = QUERIES[args.entry](spark, args.sf)
        names = stage_names(df._jdf.queryExecution().optimizedPlan().toString())
        df.write.format("noop").mode("overwrite").save()
        with tempfile.TemporaryDirectory() as out:
            spark.profile.dump(out, type="perf")
            dumps = {int(m.group(1)): os.path.join(out, f)
                     for f in os.listdir(out) if (m := re.match(r"udf_(\d+)_perf", f))}
            if not dumps:
                print(f"{args.entry}: no Python stage ran")
            for uid in sorted(dumps):
                stats = pstats.Stats(dumps[uid])
                print("=" * 72)
                print(f"{names.get(uid, f'UDF<{uid}>')}: {stats.total_tt:.3f} s profiled")
                print("=" * 72)
                stats.sort_stats("tottime", "cumulative").print_stats(args.top)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
