from __future__ import annotations

import pytest

from crypto_msg_parser_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def no_stream_left_active(request):
    """A test that uses Spark leaves no streaming query running: a drain
    that returns while its query still runs has read a partial sink."""
    yield
    if "spark" in request.fixturenames:
        active = [q.name for q in request.getfixturevalue("spark").streams.active]
        assert not active, f"streaming queries left active: {active}"
