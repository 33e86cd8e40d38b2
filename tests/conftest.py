from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.session import get_spark

    spark = get_spark(app_name="skoltexter-tests")
    # PySpark's first call-site capture imports IPython when it is
    # installed, and its jedi import calls sys.setrecursionlimit.
    # Inside a Hypothesis test that change raises a HypothesisWarning,
    # which pytest.ini makes an error; one capturing call here pays
    # the import before any test runs.
    F.col("x")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture()
def reliable_mode(spark, tmp_path):
    """Returns ``enable()``, which switches every pin in the session to
    the reliable checkpoint (a fresh checkpoint dir plus
    ``spark.skoltexter.reliableCheckpoint=true``) and returns that dir.
    Call it after computing the local-mode baseline. The setting is
    unset on teardown, so no later test runs in reliable mode."""
    from skoltexter_by_ai_spark.operators.pinning import RELIABLE_CHECKPOINT_CONF

    ckpt = str(tmp_path / "ckpt")

    def enable() -> str:
        spark.sparkContext.setCheckpointDir(ckpt)
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        return ckpt

    yield enable
    spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
