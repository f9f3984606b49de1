"""get_spark reads its environment on every call."""

from __future__ import annotations

import os

from diffdataflowmlpipelines_spark.session import get_spark


def test_get_spark_reads_cpu_count_per_call(spark, monkeypatch):
    """``SPARK_GRAFT_CPUS`` set after the package was imported still sizes
    the shuffle partitions, as it does ``master``."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert get_spark().conf.get("spark.sql.shuffle.partitions") == "3"


def test_get_spark_defaults_to_the_usable_cpus(spark, monkeypatch):
    """With ``SPARK_GRAFT_CPUS`` unset, the shuffle partitions follow the
    CPUs this process may run on (what ``nproc`` reports)."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    want = str(len(os.sched_getaffinity(0)))
    assert get_spark().conf.get("spark.sql.shuffle.partitions") == want
