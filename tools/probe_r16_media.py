"""Phase-level timing of media_ingest_dedup_docs (guide §1.1): wrap the
TwoTableIngest/MediaIngest internals with wall-clock probes to attribute
the driver-only gaps the job timeline shows.

Usage: python tools/probe_r16_media.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from verified_sources_spark.plans.queries import QUERIES  # noqa: E402
from verified_sources_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def timed(label, fn):
    def wrap(*a, **kw):
        t0 = time.time()
        out = fn(*a, **kw)
        print(f"    [{label}] {time.time()-t0:.3f}s", flush=True)
        return out

    return wrap


def main():
    spark = get_spark("probe-media")
    spark.sparkContext.setLogLevel("ERROR")

    import verified_sources_spark.streaming.corpus_ingest as ci
    import verified_sources_spark.streaming.media_ingest as mi
    from verified_sources_spark.operators.table_format import ManifestTable

    ManifestTable.append = timed("manifest.append", ManifestTable.append)
    ManifestTable.last_batch_id = timed("manifest.last_batch_id", ManifestTable.last_batch_id)
    ManifestTable.read = timed("manifest.read", ManifestTable.read)
    ci.TwoTableIngest._input_token = timed("input_token", ci.TwoTableIngest._input_token)
    mi.MediaIngest.accepted = timed("accepted(build)", mi.MediaIngest.accepted)
    mi.MediaIngest._fingerprints = timed("fingerprints(build)", mi.MediaIngest._fingerprints)

    orig_apply = ci.TwoTableIngest.apply_batch

    def apply_with_ckpt_probe(self, batch_df, batch_id):
        print(f"  -- apply_batch {batch_id}", flush=True)
        t0 = time.time()
        out = orig_apply(self, batch_df, batch_id)
        print(f"  -- apply_batch {batch_id} total {time.time()-t0:.3f}s", flush=True)
        return out

    ci.TwoTableIngest.apply_batch = apply_with_ckpt_probe

    # also time the eager localCheckpoint inside apply_batch via DataFrame
    from pyspark.sql import DataFrame

    orig_lc = DataFrame.localCheckpoint

    def lc(self, eager=True):
        t0 = time.time()
        out = orig_lc(self, eager=eager)
        print(f"    [localCheckpoint eager={eager}] {time.time()-t0:.3f}s", flush=True)
        return out

    DataFrame.localCheckpoint = lc

    for rep in range(2):
        t0 = time.time()
        df = QUERIES["media_ingest_dedup_docs"](spark, SF)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        print(f"rep{rep}: fn() {t1-t0:.3f}s, eval {time.time()-t1:.3f}s, "
              f"wall {time.time()-t0:.3f}s", flush=True)


if __name__ == "__main__":
    main()
