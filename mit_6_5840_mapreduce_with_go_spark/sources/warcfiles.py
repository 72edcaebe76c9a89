"""WARC file connector via the Python Data Source API.

``mm_decode_warc_stats`` (operators/multimodal10.py) proves the WARC
*walk*; a Common-Crawl-shaped ingest reads WARC **files**.  This module
is the file leg: ``spark.read.format("warcfile").load(glob)`` yields one
ROW per WARC record and one INPUT PARTITION per ``.warc.gz`` shard — the
same task granularity as the ``wholetext`` source (textfiles.py), which
itself mirrors the reference's one-map-task-per-file contract
(reference: src/mr/coordinator.go:202-207).  A task retry re-reads
exactly one shard; record parsing happens executor-side inside the
partition read, so shard bytes never touch the driver.

Record schema: ``file, rec_index, warc_type, record_id, date, uri,
content`` — ``content`` is the raw record body (binary), left for
downstream JVM-side or Arrow-batched stages to interpret.

Shard layout matches CC-MAIN: a shard is a concatenated gzip stream,
one member per WARC record, walked with the full RFC 1952 + ISO 28500
verification stack from operators/multimodal9+10 (O(N) across members).
Plain uncompressed ``.warc`` shards are also accepted.

Scale notes: one partition per shard is the right unit for crawl
corpora (CC-MAIN shards are ~1 GB and records must be walked
sequentially per stream — the gzip-member boundaries are only
discoverable by walking).  Files must be visible to executors (shared
FS / object store on a real cluster).  At 100 TB this source is the
first stage of the ingest DAG; everything after it is ordinary
DataFrame code, so filter/project pushdown and AQE apply from the
second stage on.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .pysources import expand_glob, register_data_source


class WarcDataSource(DataSource):
    """``format("warcfile")``: one row per WARC record, one input
    partition per shard file.

    Options: ``path`` — a local/shared-FS glob (also settable via
    ``.load(path)``).
    """

    @classmethod
    def name(cls) -> str:
        return "warcfile"

    def schema(self) -> str:
        return (
            "file string, rec_index long, warc_type string, "
            "record_id string, date string, uri string, "
            "refers_to string, content binary"
        )

    def reader(self, schema) -> "WarcReader":
        return WarcReader(self.options)


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("warcfile source requires a path glob")
        self._path = path

    def partitions(self) -> list[InputPartition]:
        # Glob expansion once on the driver; only paths ship to executors.
        return [InputPartition(p) for p in expand_glob(self._path)]

    def read(self, partition: InputPartition):
        # Imported here (executor-side) to keep sources/ -> operators/
        # import order acyclic at package-init time.
        from ..operators.multimodal10 import decode_warc, decode_warc_gz

        p = partition.value
        with open(p, "rb") as fh:
            payload = fh.read()
        if p.endswith(".gz"):
            records = decode_warc_gz(payload)
        else:
            records = decode_warc(payload)
        base = os.path.basename(p)
        for idx, r in enumerate(records):
            yield (
                base,
                idx,
                r["type"],
                r["record_id"],
                r["date"],
                r["uri"],
                r["refers_to"],
                r["content"],
            )


def read_warc_source(spark, path_glob: str):
    """Register (once per session) and read the warcfile source."""
    register_data_source(spark, WarcDataSource)
    return spark.read.format("warcfile").load(path_glob)
