"""get_spark reads its environment on every call."""

from __future__ import annotations

from diffdataflowmlpipelines_spark.session import get_spark


def test_get_spark_reads_cpu_count_per_call(spark, monkeypatch):
    """``SPARK_GRAFT_CPUS`` set after the package was imported still sizes
    the shuffle partitions, as it does ``master``."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert get_spark().conf.get("spark.sql.shuffle.partitions") == "3"
