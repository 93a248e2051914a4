"""Profile the Spark job timeline of QUERIES entries (guide §1.1/§1.5).

Runs each named entry once (noop-sink full evaluation, guide §1.4) inside
one warm session and prints the per-job timeline from the local UI REST
API: job id, submission gap since the previous job ended (driver-side
serialization), duration, and description.  The gaps expose sequential
driver actions (checkpoint barriers, broadcast builds, commit protocol
steps) that guide §2.6 thread-pool overlap could back-fill.

Usage: python tools/profile_jobs.py <query> [<query> ...] [--sf DIR] [--reps N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from verified_sources_spark.plans.queries import QUERIES  # noqa: E402
from verified_sources_spark.session import get_spark  # noqa: E402


def _jobs(ui: str, app_id: str) -> list[dict]:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded") as r:
        return json.loads(r.read())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    reps = 1
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--sf":
            sf_dir = argv[i + 1]
            args.remove(argv[i + 1])
        if a == "--reps":
            reps = int(argv[i + 1])
            args.remove(argv[i + 1])

    spark = get_spark("profile-jobs", extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId

    for name in args:
        fn = QUERIES[name]
        for rep in range(reps):
            before_ids = {j["jobId"] for j in _jobs(ui, app_id)}
            sc.setJobDescription(f"{name}#rep{rep}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t_build = time.time() - t0
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            sc.setJobDescription(None)
            time.sleep(0.3)
            jobs = [j for j in _jobs(ui, app_id) if j["jobId"] not in before_ids]
            jobs.sort(key=lambda j: j["jobId"])

            def ts(s):
                return time.mktime(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + float(
                    "0." + s[20:23] if len(s) > 20 else 0
                )

            print(f"\n=== {name} rep{rep}: wall {wall:.3f}s (plan build {t_build:.3f}s), "
                  f"{len(jobs)} jobs ===")
            prev_end = None
            busy = 0.0
            for j in jobs:
                sub = ts(j["submissionTime"])
                end = ts(j["completionTime"])
                gap = (sub - prev_end) if prev_end is not None else 0.0
                busy += end - sub
                desc = (j.get("description") or j["name"])[:90]
                print(f"  job {j['jobId']:>4}  gap {gap:+.3f}s  dur {end-sub:.3f}s  "
                      f"stages {len(j['stageIds'])}  tasks {j['numTasks']:>4}  {desc}")
                prev_end = max(prev_end, end) if prev_end is not None else end
            print(f"  sum(job durations) {busy:.3f}s vs wall {wall:.3f}s "
                  f"(driver-only/gap time {wall-busy:.3f}s)")


if __name__ == "__main__":
    main()
