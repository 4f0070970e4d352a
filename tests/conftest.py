from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from openelevationservice_spark.plans.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="oes-tests", cpus=8,
                      extra={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture
def no_broadcast(spark):
    """``spark.sql.autoBroadcastJoinThreshold`` at -1, so Spark's planner
    (AQE included) plans no broadcast join: the index joins take the
    regime of an index past the threshold.  The previous value is
    restored afterwards, because the session is shared."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture
def index_join(request):
    """Join regime of a test parametrized indirectly over
    ``["broadcast", "shuffle"]``: the session's threshold, or
    :func:`no_broadcast`."""
    if request.param == "shuffle":
        request.getfixturevalue("no_broadcast")
    return request.param
