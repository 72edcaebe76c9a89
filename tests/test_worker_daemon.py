"""Python workers of a ``get_spark`` session (session.py, worker_daemon.py):
they import the unpacked pyspark of the driver's version, keep no zip
importer, and find the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from mit_6_5840_mapreduce_with_go_spark.session import PACKAGE_ROOT, WORKER_DAEMON_MODULE
from mit_6_5840_mapreduce_with_go_spark.worker_daemon import strip_spark_archives


def test_get_spark_workers_import_unpacked_pyspark(spark):
    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON_MODULE

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, pyspark.__version__, zips

    [(path, version, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert os.path.isfile(path), f"worker pyspark comes from an archive: {path}"
    assert version == spark.version
    assert zips == []


def test_get_spark_runs_python_tasks_outside_the_repo(tmp_path):
    """A session started from another working directory, with PYTHONPATH
    unset, still runs Python tasks that import the package."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce
        from mit_6_5840_mapreduce_with_go_spark.mapreduce.apps import wc_map, wc_reduce
        from mit_6_5840_mapreduce_with_go_spark.session import get_spark

        spark = get_spark("outside-repo", cores=2, shuffle_partitions=2)
        print(run_mapreduce(spark, wc_map, wc_reduce, [("a", "x y x")], n_reduce=2))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "['x 2', 'y 1']"


def _fake_pyspark_zip(path, version: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    return str(path)


def test_strip_spark_archives_drops_archives_when_unpacked_pyspark_matches(tmp_path):
    import pyspark

    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    jar = str(tmp_path / "spark-core_2.13.jar")
    rest = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    path = [archive, jar] + rest
    cache = {archive: object(), archive + os.sep + "pyspark": object(), jar: object(), rest[0]: None}
    assert strip_spark_archives(path, cache)
    assert path == rest
    assert list(cache) == [rest[0]]


def test_strip_spark_archives_leaves_path_on_version_mismatch(tmp_path):
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", "0.0.1")
    path = [archive] + [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    before = list(path)
    cache = {archive: object()}
    assert not strip_spark_archives(path, cache)
    assert path == before and archive in cache


def test_strip_spark_archives_leaves_path_without_unpacked_pyspark(tmp_path):
    import pyspark

    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    path = [archive, str(tmp_path)]
    assert not strip_spark_archives(path, {})
    assert path == [archive, str(tmp_path)]
