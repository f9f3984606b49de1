from __future__ import annotations

import pytest

from diffdataflowmlpipelines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(request):
    """The library leaves spark.sql.shuffle.partitions as it found it;
    the only writers are tests that set it themselves (to bind a
    stateful query's state layout, or through get_spark). Restore it
    after every test so one test's setting cannot leak into the next."""
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")
    saved = s.conf.get("spark.sql.shuffle.partitions")
    yield
    s.conf.set("spark.sql.shuffle.partitions", saved)
