"""Plan cuts: the one place the engine materializes an intermediate.

Every multi-consumer intermediate in this engine is shared by CUTTING the
plan — ``localCheckpoint`` — because ``persist()`` under any lambda-bearing
plan (higher-order functions, UDFs) registers a cache entry that
CacheManager's canonicalized lookup can never match: the entry is created
but never filled or read, and every consumer silently recomputes the whole
upstream chain (measured r15; ``tests/test_plan_quality.py`` gates the
class).  ``localCheckpoint`` shares by RDD identity, which canonicalization
cannot defeat.

Resilience trade-off (stated per the r15 verdict): ``localCheckpoint``
TRUNCATES lineage and stores blocks on executors only, so a block lost
with its executor is unrecoverable — the job FAILS with a missing-block
SparkException rather than recomputing.  On a single-process `local[n]`
master this is moot (executor death == driver death).  On a cluster it is
usually still the right default: rerunning an occasionally-failed job
beats paying 2x the dominant compute on EVERY run.  Fault-sensitive
cluster runs can flip the mechanism without touching call sites:

- ``SPARK_GRAFT_CUT_MODE=local`` (default) — ``df.localCheckpoint(eager)``.
- ``SPARK_GRAFT_CUT_MODE=reliable`` — ``df.checkpoint(eager)`` to the
  durable checkpoint directory, surviving executor loss.  The directory
  must be set, either by the application via ``sc.setCheckpointDir`` or
  through ``SPARK_GRAFT_CHECKPOINT_DIR``; a reliable cut with no
  directory raises immediately with instructions rather than failing
  deep inside Spark.  A directory the application already set wins, with
  a warning when ``SPARK_GRAFT_CHECKPOINT_DIR`` names a different one.
  Cost: each cut's rows are written to (and re-read from) durable
  storage, and plain ``checkpoint`` recomputes the cut's RDD once more
  than ``localCheckpoint`` does unless it is also cached — that is the
  price of durability, pay it only when reruns are dearer.
  Reliable checkpoint files are NOT deleted when their RDD is garbage
  collected unless the application sets
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.  Loops that
  cut once per iteration — connected components on graphs too big to
  label on the driver (llm/neardup.py), BPE merge training (llm/bpe.py)
  — otherwise grow the checkpoint directory without bound; set it on the
  session (or in ``spark-defaults.conf``) for any long-lived
  reliable-mode driver.

A caller that needs a count or an extreme of the rows it cuts reads it
from the cut's own job with :func:`observed_cut` instead of running a
second action over the result.

Unknown mode values fall back to ``local`` (a typo must not change
query semantics or crash query construction).
"""

from __future__ import annotations

import os
import warnings

from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame

_VALID_MODES = ("local", "reliable")


def _mode() -> str:
    m = os.environ.get("SPARK_GRAFT_CUT_MODE", "local").strip().lower()
    return m if m in _VALID_MODES else "local"


def _dir_key(path: str) -> str:
    """``path`` comparable with Spark's qualified ``file:`` form."""
    path = path[5:] if path.startswith("file:") else path
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` as a shared, lineage-cut intermediate.

    ``eager=False`` defers execution to the first action (letting
    independent cuts be submitted concurrently from driver threads);
    ``eager=True`` materializes now.  See the module docstring for the
    mechanism and the cluster-resilience knob.
    """
    if _mode() == "reliable":
        sc = df.sparkSession.sparkContext
        ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        current = sc._jsc.sc().getCheckpointDir()
        if current.isEmpty():
            if not ckdir:
                raise RuntimeError(
                    "SPARK_GRAFT_CUT_MODE=reliable needs a durable checkpoint "
                    "directory: call sc.setCheckpointDir(...) or set "
                    "SPARK_GRAFT_CHECKPOINT_DIR"
                )
            sc.setCheckpointDir(ckdir)
        elif ckdir and _dir_key(current.get().rsplit("/", 1)[0]) != _dir_key(ckdir):
            # setCheckpointDir(d) checkpoints into a fresh d/<uuid>
            warnings.warn(
                f"SPARK_GRAFT_CHECKPOINT_DIR={ckdir} is ignored: the session "
                f"already checkpoints to {current.get()}",
                RuntimeWarning,
                stacklevel=2,
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def observed_cut(df: DataFrame, name: str, *metrics: Column) -> tuple[DataFrame, tuple]:
    """Eager :func:`cut` of ``df`` plus the values of the aggregate
    ``metrics`` over its rows, computed on the cut's own job by a named
    ``DataFrame.observe`` — no second action over the result.

    The values are read from the observed frame's query execution, not
    through ``pyspark.sql.Observation``: an Observation creates the
    session's ObservationManager, which is not serializable, and from
    then on every task closure that captures the session (an ML model
    keeps it in its training summary) fails with
    NotSerializableException.  ``name`` must be unique within the plan
    being cut; a cut truncates lineage, so a loop may reuse one name.
    """
    observed = df.observe(name, *metrics)
    out = cut(observed, eager=True)
    jrow = observed._jdf.queryExecution().observedMetrics().get(name).get()
    utils = df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return out, tuple(CPickleSerializer().loads(utils.toPyRow(jrow)))
