"""Python worker daemon for sessions built by ``session.get_spark``.

Spark starts its Python workers with its own archives first on
``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
``spark-core`` jar (5,359 entries, no Python). Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 every ``zipimporter`` in ``sys.path_importer_cache``
answers by re-reading its archive's central directory: about 80 ms of
worker CPU per task, however small the task. (CPython 3.12 made the
re-read lazy.)

``spark.python.daemon.module`` names this module, so it runs in place of
``pyspark.daemon``. It takes Spark's archives off ``sys.path`` and out of
``sys.path_importer_cache``, then hands over to ``pyspark.daemon``, whose
forked workers inherit the shorter path. It does so only when an unpacked
pyspark of the archive's version and an unpacked py4j can be imported
without the archives; otherwise the path stays as Spark set it.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\b.*=\s*['"]([^'"]+)['"]""", re.MULTILINE)


def _is_spark_archive(entry: str) -> bool:
    """Whether a ``sys.path`` entry is one of the archives Spark puts on a
    Python worker's path."""
    name = os.path.basename(entry)
    return name.endswith(".jar") or name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip"))


def _unpacked_origin(module: str, path: list[str]) -> str | None:
    """The file ``module`` would be imported from with ``path`` as the
    search path, if that file lies outside any archive."""
    spec = PathFinder.find_spec(module, path)
    origin = spec.origin if spec is not None else None
    return origin if origin and os.path.isfile(origin) else None


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def strip_spark_archives(path: list[str] | None = None, cache: dict | None = None) -> bool:
    """Remove Spark's archives from ``path`` (default ``sys.path``) and
    from the importer ``cache`` (default ``sys.path_importer_cache``) when
    unpacked pyspark and py4j stand in for them; returns whether it did."""
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    archives = [p for p in path if _is_spark_archive(p)]
    if not archives:
        return False
    rest = [p for p in path if p not in archives]
    pyspark_init = _unpacked_origin("pyspark", rest)
    if pyspark_init is None or _unpacked_origin("py4j", rest) is None:
        return False
    try:
        with open(os.path.join(os.path.dirname(pyspark_init), "version.py"), encoding="utf-8") as fh:
            unpacked = _version(fh.read())
        shipped = set()
        for archive in archives:
            if os.path.basename(archive) == "pyspark.zip":
                with zipfile.ZipFile(archive) as zf:
                    shipped.add(_version(zf.read("pyspark/version.py").decode("utf-8")))
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    if unpacked is None or shipped - {unpacked}:
        return False
    path[:] = rest
    for key in list(cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del cache[key]
    return True


def main() -> None:
    strip_spark_archives()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
