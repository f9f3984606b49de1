from __future__ import annotations

import time
from contextlib import contextmanager

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


@pytest.fixture
def job_group(spark):
    """``with job_group(name) as jobs:`` runs the block in Spark job group
    ``name``; after the block, ``jobs()`` lists the ids of the Spark jobs
    it started. The status store sees job events in order, so ``jobs()``
    first runs a reference job in a group of its own and waits until the
    store has seen it: by then every job of the block has arrived too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    @contextmanager
    def group(name: str):
        saved = {k: sc.getLocalProperty(k) for k in props}
        sc.setJobGroup(name, name)
        try:
            yield lambda: settled(name)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def settled(name: str) -> list[int]:
        ref = f"{name}.ref"
        with group(ref):
            sc.parallelize([0], 1).count()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(ref) and time.time() < deadline:
            time.sleep(0.1)
        assert tracker.getJobIdsForGroup(ref)
        return tracker.getJobIdsForGroup(name)

    return group
