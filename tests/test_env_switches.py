"""Env-switch ratchet: the package reads only deployment settings
from the environment. Behaviour is chosen by auto-decisions and
overridden per call (e.g. ``collapse_exact=True/False``), never by a
process-wide ``SPARK_GRAFT_*`` switch. ``get_spark`` derives what the
master already says and leaves Spark's own defaults alone."""

from __future__ import annotations

import pathlib
import re

import pos_api_pipeline_spark

ALLOWED = {"SPARK_GRAFT_CPUS"}


def test_env_switches_are_deployment_settings_only():
    root = pathlib.Path(pos_api_pipeline_spark.__file__).parent
    names = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text())
    }
    assert names == ALLOWED


def test_session_derives_shuffle_partition_count_from_the_master(spark):
    # The suite's session is local[4] and passes no shuffle setting;
    # Spark's own default would read 200.
    assert spark.sparkContext.defaultParallelism == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_session_relies_on_spark_defaults_for_aqe_and_result_size(spark):
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
    ):
        assert spark.conf.get(key) == "true", key
    assert not spark.sparkContext.getConf().contains("spark.driver.maxResultSize")


def test_session_skips_per_call_call_site_capture(spark):
    # PySpark otherwise records the Python file and line of every
    # Column and DataFrame call for error contexts, at about four Py4J
    # round trips a call.
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
