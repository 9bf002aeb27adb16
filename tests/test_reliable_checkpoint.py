"""r15: reliable_checkpoint — the checkpoint-dir-aware lineage cut.

The iterative operators truncate lineage with localCheckpoint, whose
blocks live in executor-local storage: one executor loss mid-job on a
real cluster loses the data. When the deployment configures
``setCheckpointDir`` (standard iterative-job hygiene), the helper must
switch to the RELIABLE checkpoint; with no dir configured it must stay
byte-for-byte the r14 localCheckpoint (same plan, no files written).
"""

from __future__ import annotations

import os
import tempfile

from datar_polars_spark.plans.cache import reliable_checkpoint


def _scala_none(sc):
    return sc._jvm.scala.Option.empty()


def test_local_mode_without_checkpoint_dir(spark):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(10).withColumnRenamed("id", "x")
    out = reliable_checkpoint(df, eager=True)
    assert out.count() == 10
    # localCheckpoint path: still no checkpoint dir configured
    assert sc.getCheckpointDir() is None


def test_reliable_when_dir_configured(spark):
    sc = spark.sparkContext
    ckdir = tempfile.mkdtemp(prefix="datar_ck_")
    sc.setCheckpointDir(ckdir)
    try:
        df = spark.range(7).withColumnRenamed("id", "x")
        out = reliable_checkpoint(df, eager=True)
        assert sorted(r["x"] for r in out.collect()) == list(range(7))
        # reliable: checkpoint files land under the configured dir
        # (df.checkpoint writes rdd-N block files beneath a uuid dir)
        written = [
            os.path.join(root, name)
            for root, _d, files in os.walk(ckdir)
            for name in files
        ]
        assert written, "reliable checkpoint wrote no files"
    finally:
        # restore the unconfigured state so the rest of the session
        # keeps the (cheaper) localCheckpoint behaviour; the Scala
        # setter's mangled name needs getattr
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(_scala_none(sc))
        assert sc.getCheckpointDir() is None


class _FakeContext:
    """Stands in for a SparkContext with a checkpoint dir, so the
    warning path runs without configuring one on the shared session."""

    def __init__(self, clean):
        self.conf = {}
        if clean is not None:
            self.conf["spark.cleaner.referenceTracking.cleanCheckpoints"] = clean

    def getCheckpointDir(self):
        return "file:/ckpt"

    def getConf(self):
        return self.conf


class _FakeFrame:
    def __init__(self, sc):
        self.sparkSession = type("S", (), {"sparkContext": sc})()

    def checkpoint(self, eager):
        return ("checkpoint", eager)

    def localCheckpoint(self, eager):
        return ("localCheckpoint", eager)


def test_warns_once_per_context_when_checkpoints_are_not_cleaned(caplog):
    import logging

    caplog.set_level(logging.WARNING, logger="datar_polars_spark.plans.cache")

    def warnings():
        return [r for r in caplog.records if "cleanCheckpoints" in r.getMessage()]

    sc = _FakeContext(clean=None)
    assert reliable_checkpoint(_FakeFrame(sc), eager=False) == ("checkpoint", False)
    reliable_checkpoint(_FakeFrame(sc))
    assert len(warnings()) == 1
    assert "file:/ckpt" in warnings()[0].getMessage()
    # a second context warns again; one that cleans its checkpoints never
    reliable_checkpoint(_FakeFrame(_FakeContext(clean="false")))
    assert len(warnings()) == 2
    reliable_checkpoint(_FakeFrame(_FakeContext(clean="true")))
    assert len(warnings()) == 2
