"""Benchmark of the diffdataflowmlpipelines_spark engine (see README.md)."""
