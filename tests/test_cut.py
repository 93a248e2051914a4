"""The central plan-cut helper (verified_sources_spark.cut).

Every multi-consumer intermediate in the engine goes through ``cut``;
these tests pin the mode knob: local (default) truncates lineage via
localCheckpoint, reliable writes durable checkpoint files, a missing
checkpoint dir fails fast with instructions, and a bogus mode value
degrades to the default instead of changing semantics.
"""

from __future__ import annotations

import warnings

import pytest

from verified_sources_spark.cut import cut


@pytest.fixture
def df(spark):
    return spark.range(0, 100).selectExpr("id", "id * 2 AS v")


def _rows(d):
    return sorted(tuple(r) for r in d.collect())


def test_default_mode_is_local_checkpoint(spark, df, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CUT_MODE", raising=False)
    out = cut(df, eager=True)
    assert _rows(out) == _rows(df)
    # lineage is cut: the materialized plan is a scan of existing RDD
    # blocks, not the original range
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_bogus_mode_falls_back_to_local(spark, df, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CUT_MODE", "no-such-mode")
    out = cut(df, eager=True)
    assert _rows(out) == _rows(df)


@pytest.fixture
def no_checkpoint_dir(spark):
    """Clear the shared session's checkpoint directory for the test and
    put back whatever was set before, including nothing."""
    sc = spark.sparkContext._jsc.sc()
    before = sc.checkpointDir()
    set_dir = getattr(sc, "checkpointDir_$eq")  # SparkContext's private var
    set_dir(spark.sparkContext._jvm.scala.Option.empty())
    yield
    set_dir(before)


def _files(d):
    return [p for p in d.rglob("*") if p.is_file()]


def test_reliable_mode_requires_checkpoint_dir(spark, df, monkeypatch, no_checkpoint_dir):
    monkeypatch.setenv("SPARK_GRAFT_CUT_MODE", "reliable")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        cut(df)


def test_reliable_mode_writes_durable_checkpoint(
    spark, df, monkeypatch, tmp_path, no_checkpoint_dir
):
    monkeypatch.setenv("SPARK_GRAFT_CUT_MODE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    out = cut(df, eager=True)
    assert _rows(out) == _rows(df)
    assert _files(tmp_path / "ck"), "reliable cut must write checkpoint files to the durable dir"


def test_reliable_mode_keeps_the_session_dir(
    spark, df, monkeypatch, tmp_path, no_checkpoint_dir
):
    """A directory the session already has wins; the env var naming another
    one is reported, not silently ignored."""
    monkeypatch.setenv("SPARK_GRAFT_CUT_MODE", "reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "set"))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "set"))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cut(df, eager=True)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "env"))
    with pytest.warns(RuntimeWarning, match="is ignored"):
        out = cut(df, eager=True)
    assert _rows(out) == _rows(df)
    assert _files(tmp_path / "set")
    assert not (tmp_path / "env").exists()
