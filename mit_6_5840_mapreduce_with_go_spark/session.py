"""SparkSession factory tuned for the driver environment.

Local mode is a single JVM (driver-only); on a real cluster the same
configs hold, with AQE doing runtime re-planning (partition coalescing,
skew-join splitting) — the knobs that matter at 100 TB are set here once
so every operator inherits them.

localCheckpoint policy (central note, ADVICE r13): iterative and
multi-consumer operators truncate lineage with ``localCheckpoint()``
on BOUNDED intermediates.  Checkpointed blocks are executor-local and
unreplicated, so on a multi-node cluster an executor loss (or dynamic
deallocation) makes every consumer unrecoverable — acceptable on this
single-JVM target, where the "executor" dying is the application dying
anyway.  A cluster deployment would set ``spark.checkpoint.dir`` to
reliable storage and swap these call sites to ``checkpoint()`` (same
plan-truncation effect, replicated blocks), or disable dynamic
allocation for the stage; the per-operator docstrings assume this note.

Python workers: ``get_spark`` starts them through ``worker_daemon``
(``spark.python.daemon.module``). Spark puts ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar first on every worker's path, and on
Python 3.11 each task's ``importlib.invalidate_caches()`` makes every
zip importer re-read its archive: about 80 ms of worker CPU per task,
even for a no-op. The daemon drops those archives, so workers import the
unpacked pyspark the driver uses; a no-op task then costs about 10 ms
(a 40-task no-op job on 4 cores: 1.0 s -> 0.56 s). It leaves the path
alone unless an unpacked pyspark of the archive's version and an
unpacked py4j are importable without them. The package root goes on the
workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so the
daemon and the package's pickled functions import from any working
directory. Sessions not built here (e.g. a vanilla
``SparkSession.builder`` one) keep Spark's default daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_DAEMON_MODULE = f"{__package__}.worker_daemon"


def get_spark(
    app_name: str = "mit_6_5840_mapreduce_with_go_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes (100 TB): AQE is on so the static ``shuffle.partitions``
    only seeds the initial shuffle; runtime coalescing and skew-join
    splitting adapt it per-stage. ``maxPartitionBytes`` keeps scan tasks
    ~128 MB so a 100 TB table yields ~800k well-sized tasks rather than
    a few giant ones. Arrow is on for every pandas_udf boundary.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    worker_pythonpath = os.pathsep.join(p for p in (PACKAGE_ROOT, os.environ.get("PYTHONPATH")) if p)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the parquet
        # reader rejects; read as long and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python Data Source filter pushdown (zstfile absorbs
        # content_len >= X into seek-table frame pruning); Spark errors
        # on any read of a pushFilters-implementing source while this
        # is off, and the sources/zstfiles.py helpers also set it at
        # runtime for vanilla (driver-created) sessions
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
