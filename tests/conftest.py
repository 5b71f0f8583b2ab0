from __future__ import annotations

import pytest

from real_time_streaming_system_with_apache_kafka_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("rtss_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE
