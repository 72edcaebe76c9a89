"""Helpers shared by the Python Data Source connectors (``wholetext``,
``tfrecordfile``, ``warcfile``, ``zstfile``) and by the MapReduce
engine's glob input."""

from __future__ import annotations

import glob as _glob


def expand_glob(path_glob: str) -> list[str]:
    """The files matching ``path_glob``, sorted; one per map task or
    input partition. Expanded once, on the driver."""
    files = sorted(_glob.glob(path_glob))
    if not files:
        raise FileNotFoundError(f"no files match {path_glob!r}")
    return files


def register_data_source(spark, source_cls) -> None:
    """Register ``source_cls`` with ``spark`` unless the session already
    has a data source of that name: Spark logs a warning on every
    re-registration."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(source_cls.name()):
        spark.dataSource.register(source_cls)
