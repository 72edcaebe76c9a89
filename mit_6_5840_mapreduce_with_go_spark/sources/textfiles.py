"""Whole-file text connector via the Python Data Source API.

The reference engine's input contract is one map TASK per input FILE —
the coordinator enqueues each ``pg-*.txt`` file as one map task and the
worker reads the entire file into a single record (reference:
src/mr/coordinator.go:202-207 task granularity; src/main/mrsequential.go
file loop). This module re-expresses that contract as a first-class
Spark V2 data source: ``spark.read.format("wholetext").load(glob)``
yields one ROW per file, and — the part a plain DataFrame union cannot
express — one INPUT PARTITION per file, so Spark schedules exactly one
task per file, preserving the reference's parallelism unit and failure
granularity (a task retry re-reads exactly one file).

Scale notes: whole-file records are the right shape only for corpora of
many medium files (the reference's 8-book corpus, crawl shards, …).
Files must be visible to executors (shared FS / object store on a real
cluster — same requirement the reference's workers have). Giant single
files should instead go through splittable ``spark.read.text``.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .pysources import expand_glob, register_data_source


class WholeTextDataSource(DataSource):
    """``format("wholetext")``: one row AND one input partition per file.

    Options: ``path`` — a local/shared-FS glob (also settable via
    ``.load(path)``).
    """

    @classmethod
    def name(cls) -> str:
        return "wholetext"

    def schema(self) -> str:
        return "file string, content string"

    def reader(self, schema) -> "WholeTextReader":
        return WholeTextReader(self.options)


class WholeTextReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("wholetext source requires a path glob")
        self._path = path

    def partitions(self) -> list[InputPartition]:
        # One partition per file == the reference's map-task granularity.
        # Glob expansion happens once on the driver; only the file PATH is
        # shipped to executors, never the content.
        return [InputPartition(p) for p in expand_glob(self._path)]

    def read(self, partition: InputPartition):
        yield read_whole_file(partition.value)


def read_whole_file(path: str) -> tuple[str, str]:
    """One file as a ``(basename, text)`` record; bytes that are not
    UTF-8 decode to U+FFFD."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        return os.path.basename(path), fh.read()


def read_whole_text_source(spark, path_glob: str):
    """Register (once per session) and read the wholetext source."""
    register_data_source(spark, WholeTextDataSource)
    return spark.read.format("wholetext").load(path_glob)
