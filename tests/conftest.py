from __future__ import annotations

import pytest

from bigdatafinalproject_hockey_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The session default heap (16g) lets one JVM that runs the whole
    # suite grow past a 15 GB host; the suite's sf0.01 data fits in 6g.
    s = get_session(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
