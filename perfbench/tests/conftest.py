"""Tests of the benchmark's own helpers: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def spark_with_log(tmp_path_factory):
    """A small session writing an uncompressed event log; stopped at the
    end of the module (the log is complete only after the stop)."""
    from rasterio_spark.plans.session import get_session

    events = str(tmp_path_factory.mktemp("events"))
    spark = get_session(
        app_name="perfbench-tests",
        cores=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": events,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield spark, events
    spark.stop()
