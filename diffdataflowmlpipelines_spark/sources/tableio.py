"""Table I/O — batch/stream read and exactly-once write of named parquet
tables under one root (SURVEY.md §7.1 sink row). The exactly-once write
is the atomic-rename ``ExactlyOnceParquetSink``.
"""

from __future__ import annotations

from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink


class ParquetTableIO:
    """Directory-per-table parquet implementation."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, table: str) -> str:
        return f"{self.root}/{table}.parquet"

    def read(self, spark, table):
        return spark.read.parquet(self.path(table))

    def read_stream(self, spark, table, schema, max_files_per_trigger: int = 1):
        # same location as read(): batch and stream reads of one table
        # name must see the same files (this watched f"{root}/{table}"
        # while read() used path() — review r4d)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(self.path(table))
        )

    def exactly_once_sink(self, table: str, key_cols: list[str]) -> ExactlyOnceParquetSink:
        return ExactlyOnceParquetSink(f"{self.root}/{table}__sink", key_cols)
