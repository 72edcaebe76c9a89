"""TFRecord file connector via the Python Data Source API.

``spark.read.format("tfrecordfile").load(glob)`` yields one ROW per
record (``file, rec_index, example`` — the raw tf.Example bytes) and
one INPUT PARTITION per shard file, the same task granularity as the
``wholetext`` and ``warcfile`` sources (one retry re-reads one shard;
the framing is sequential, so a shard is the natural split unit).
Both masked CRC32Cs are verified per record during the partition read
(operators/tfrecord.py), executor-side — a torn shard fails ITS task,
not the job.

Scale notes: training corpora ship as many ~100 MB-1 GB shards, so
one-partition-per-file is the right unit; files must be visible to
executors (shared FS / object store).  Feature decoding stays a
downstream Arrow-batched stage — the source hands over verified
record bytes, nothing more, so non-Example TFRecord payloads ride the
same connector.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .pysources import expand_glob, register_data_source


class TFRecordDataSource(DataSource):
    """``format("tfrecordfile")``: one row per record, one input
    partition per shard file."""

    @classmethod
    def name(cls) -> str:
        return "tfrecordfile"

    def schema(self) -> str:
        return "file string, rec_index long, example binary"

    def reader(self, schema) -> "TFRecordReader":
        return TFRecordReader(self.options)


class TFRecordReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("tfrecordfile source requires a path glob")
        self._path = path

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(p) for p in expand_glob(self._path)]

    def read(self, partition: InputPartition):
        from ..operators.tfrecord import decode_tfrecord_frames

        p = partition.value
        with open(p, "rb") as fh:
            payload = fh.read()
        base = os.path.basename(p)
        for idx, rec in enumerate(decode_tfrecord_frames(payload)):
            yield (base, idx, rec)


def read_tfrecord_source(spark, path_glob: str):
    """Register (once per session) and read the tfrecordfile source."""
    register_data_source(spark, TFRecordDataSource)
    return spark.read.format("tfrecordfile").load(path_glob)
