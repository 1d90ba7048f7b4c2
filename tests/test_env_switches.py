"""Env-switch ratchet: the package reads only deployment settings
from the environment. Behaviour is chosen by auto-decisions and
overridden per call (e.g. ``collapse_exact=True/False``), never by a
process-wide ``SPARK_GRAFT_*`` switch."""

from __future__ import annotations

import pathlib
import re

import pos_api_pipeline_spark

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_MAX_RESULT_SIZE"}


def test_env_switches_are_deployment_settings_only():
    root = pathlib.Path(pos_api_pipeline_spark.__file__).parent
    names = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text())
    }
    assert names == ALLOWED
