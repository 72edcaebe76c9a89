"""Crash-recovery parity (src/mrapps/crash.go + test-mr.sh:283-330): the
reference kills ~1/3 of workers mid-task and requires final output to
equal the no-fault golden run. Spark analog: deterministic task-failure
injection (first attempt of selected partitions raises), task retry
re-executes, output must equal the clean run.

Needs master local[8,4] (maxFailures=4), so this module manages its own
SparkSession lifecycle. Crash closures are defined inside the tests so
cloudpickle ships them by value (test modules aren't importable on
executors).
"""

from __future__ import annotations

import pytest
from pyspark import TaskContext
from pyspark.sql import SparkSession

from mit_6_5840_mapreduce_with_go_spark.mapreduce import (
    run_mapreduce,
    run_mapreduce_sequential,
)
from mit_6_5840_mapreduce_with_go_spark.mapreduce.apps import wc_map, wc_reduce

FILES = [(f"f{i}", ("alpha beta gamma delta " * (i + 1)).strip()) for i in range(9)]


@pytest.fixture(scope="module")
def retry_spark():
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = (
        SparkSession.builder.master("local[8,4]")
        .appName("fault_tolerance")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def test_output_unchanged_under_task_crashes(retry_spark):
    def crashing_wc_map(filename: str, contents: str):
        # ~1/3 of map tasks die on first attempt (crash.go:20-32 analog)
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and sum(map(ord, filename)) % 3 == 0:
            raise RuntimeError(f"injected crash in map({filename})")
        return wc_map(filename, contents)

    golden = run_mapreduce_sequential(wc_map, wc_reduce, FILES)
    got = run_mapreduce(retry_spark, crashing_wc_map, wc_reduce, FILES)
    assert got == golden


def test_reduce_crash_recovery(retry_spark):
    def crashing_reduce(key: str, values: list[str]) -> str:
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and sum(map(ord, key)) % 3 == 0:
            raise RuntimeError(f"injected crash in reduce({key})")
        return wc_reduce(key, values)

    golden = run_mapreduce_sequential(wc_map, wc_reduce, FILES)
    got = run_mapreduce(retry_spark, wc_map, crashing_reduce, FILES)
    assert got == golden


def test_gutenberg_wc_distributed_end_to_end_with_crashes(retry_spark, tmp_path):
    """The zero-driver-materialization parity path: the reference's real
    8-book corpus flows wholetext-source -> map -> FNV-partitioned
    groupByKey -> text sink entirely in executor tasks (the driver never
    holds a byte of book content), with ~1/3 of map tasks crashing on
    first attempt. Output line set must equal the sequential golden run
    (mrsequential.go semantics)."""
    import glob as _glob
    import os

    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir

    corpus = "/root/reference/src/main/pg-*.txt"
    files = sorted(_glob.glob(corpus))
    if not files:
        pytest.skip("reference Gutenberg corpus not present")

    def crashing_wc_map(filename: str, contents: str):
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and sum(map(ord, filename)) % 3 == 0:
            raise RuntimeError(f"injected crash in map({filename})")
        return wc_map(filename, contents)

    out_dir = str(tmp_path / "mr-out")
    run_mapreduce_to_dir(
        retry_spark, crashing_wc_map, wc_reduce, corpus, out_dir, n_reduce=10
    )
    got = []
    for part in sorted(os.listdir(out_dir)):
        if not part.startswith("part-"):
            continue
        with open(os.path.join(out_dir, part), encoding="utf-8") as fh:
            got.extend(line.rstrip("\n") for line in fh if line.strip())
    golden_inputs = []
    for p in files:
        with open(p, encoding="utf-8", errors="replace") as fh:
            golden_inputs.append((os.path.basename(p), fh.read()))
    golden = run_mapreduce_sequential(wc_map, wc_reduce, golden_inputs)
    assert sorted(got) == golden


def test_wholetext_glob_path_matches_iterable_path(retry_spark, tmp_path):
    """run_mapreduce_to_dir(glob) == run_mapreduce_to_dir(iterable) on
    the same files — the connector-fed path is a drop-in."""
    import os

    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    pairs = []
    for i in range(5):
        body = f"alpha beta gamma {'delta ' * (i + 1)}".strip()
        (data_dir / f"f{i}.txt").write_text(body, encoding="utf-8")
        pairs.append((f"f{i}.txt", body))

    def read_out(d):
        lines = []
        for part in sorted(os.listdir(d)):
            if part.startswith("part-"):
                with open(os.path.join(d, part), encoding="utf-8") as fh:
                    lines.extend(ln.rstrip("\n") for ln in fh if ln.strip())
        return sorted(lines)

    d1, d2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    run_mapreduce_to_dir(retry_spark, wc_map, wc_reduce, str(data_dir / "*.txt"), d1)
    run_mapreduce_to_dir(retry_spark, wc_map, wc_reduce, pairs, d2)
    assert read_out(d1) == read_out(d2) == run_mapreduce_sequential(wc_map, wc_reduce, pairs)


def _write_corpus(data_dir, n: int) -> None:
    data_dir.mkdir()
    for i in range(n):
        (data_dir / f"f{i}.txt").write_text(f"alpha beta {'gamma ' * (i + 1)}", encoding="utf-8")


def test_glob_path_runs_one_map_task_per_file(retry_spark, tmp_path):
    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir

    _write_corpus(tmp_path / "in", 5)
    sc = retry_spark.sparkContext
    group = "glob-one-map-task-per-file"
    sc.setJobGroup(group, "engine glob path")
    try:
        run_mapreduce_to_dir(
            retry_spark, wc_map, wc_reduce, str(tmp_path / "in" / "*.txt"), str(tmp_path / "out"), n_reduce=3
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    [job] = tracker.getJobIdsForGroup(group)
    tasks = sorted(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(job).stageIds)
    # one map task per file (5), one reduce task per bucket (3)
    assert tasks == [3, 5]


def test_glob_path_without_matches_raises(retry_spark, tmp_path):
    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir

    with pytest.raises(FileNotFoundError, match="no files match"):
        run_mapreduce_to_dir(retry_spark, wc_map, wc_reduce, str(tmp_path / "none-*.txt"), str(tmp_path / "out"))


def test_glob_path_decodes_invalid_utf8_like_wholetext(retry_spark, tmp_path):
    import os

    from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce_to_dir
    from mit_6_5840_mapreduce_with_go_spark.sources import read_whole_text_source

    data_dir = tmp_path / "in"
    data_dir.mkdir()
    (data_dir / "bad.txt").write_bytes(b"alpha \xff\xfe beta \xe9t\xe9 \xc3")
    (data_dir / "good.txt").write_bytes("café ok".encode("utf-8"))
    pattern = str(data_dir / "*.txt")

    def echo_map(filename: str, contents: str):
        return [(filename, ascii(contents))]

    def first_reduce(key: str, values: list[str]) -> str:
        return values[0]

    out_dir = str(tmp_path / "out")
    run_mapreduce_to_dir(retry_spark, echo_map, first_reduce, pattern, out_dir, n_reduce=2)
    got = []
    for part in sorted(os.listdir(out_dir)):
        if part.startswith("part-"):
            with open(os.path.join(out_dir, part), encoding="utf-8") as fh:
                got.extend(ln.rstrip("\n") for ln in fh if ln.strip())
    rows = read_whole_text_source(retry_spark, pattern).collect()
    assert any("\ufffd" in r["content"] for r in rows)
    assert sorted(got) == sorted(f"{r['file']} {ascii(r['content'])}" for r in rows)
