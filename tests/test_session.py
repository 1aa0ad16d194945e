"""Session warm-up contract.

The warm-up moves one-time engine init (first shuffle, Python worker
pool, parquet reader/writer, Python DataSource machinery, MLlib) to
session construction so it stops landing on whichever registry query runs
first. Every step is required: an error in any of them propagates out of
``get_spark``, and the ``spark.nlnc.warmed`` marker is set only after the
last step. These tests pin both halves — a warmed session carries the
marker and the registered source, and a failing step raises instead of
silently truncating the warm-up (which once went unnoticed for a round
when ``@F.pandas_udf`` could not resolve its ``pd.Series`` annotations).
"""

from __future__ import annotations

import tempfile

import pytest

from nlnieuwscrawler_spark.session import _warm_up

MARKER = "spark.nlnc.warmed"


def test_warm_up_ran_to_completion(spark):
    # the marker is set only on the LAST line of the warm-up body: it
    # proves every warm step before it executed without raising
    assert spark.conf.get(MARKER, None) == "1"


def test_warm_up_registered_python_datasource(spark):
    # the dummy Python source both warms the plan-time worker machinery
    # and stays registered; reading it is sub-second on a warmed session
    df = spark.read.format("nlnc_warm_src").load()
    assert df.count() == 1
    assert df.columns == ["i"]


def test_warm_up_step_failure_raises_and_leaves_marker_unset(spark, monkeypatch):
    def no_temp_dir(*args, **kwargs):
        raise OSError("no temp dir")

    monkeypatch.setattr(tempfile, "mkdtemp", no_temp_dir)
    spark.conf.set(MARKER, "0")
    try:
        with pytest.raises(OSError, match="no temp dir"):
            _warm_up(spark)
        assert spark.conf.get(MARKER, None) == "0"
    finally:
        spark.conf.set(MARKER, "1")
