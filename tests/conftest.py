import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from realtimechurnpredictiondataengineering_spark.session import get_spark

    # One session serves the whole suite (350+ tests, 7000+ stages), and
    # Spark's default 1g driver heap accumulates listener/UI state until
    # a mid-suite OOM (round 12 hit it at ~60% of the run).  The session
    # sizes its own heap from RAM (``session._local_driver_memory``); a
    # fixed pin sized for a 128 GiB box starves a small one, where the
    # same process also hosts the DuckDB oracle.
    spark = get_spark(
        app_name="realtimechurnprediction-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the engine caps plan strings for UI events (session.ENGINE_CONF);
    # the plan-invariant gates grep full explain output, so uncap here
    spark.conf.set("spark.sql.maxPlanStringLength", str(1 << 30))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
