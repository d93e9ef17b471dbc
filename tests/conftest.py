from __future__ import annotations

import pytest

from etl_based_real_time_air_quality_monitoring_system_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
