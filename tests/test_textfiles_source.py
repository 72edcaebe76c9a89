"""Tests for the wholetext Python Data Source (sources/textfiles.py):
per-file rows, per-file task granularity, and content parity with the
RDD wholeTextFiles baseline on the reference's real Gutenberg corpus."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.sources import read_whole_text_source

GLOB = "/root/reference/src/main/pg-*.txt"


def test_one_row_and_one_partition_per_file(spark):
    files = sorted(glob.glob(GLOB))
    assert len(files) == 8, "reference Gutenberg corpus not found"
    df = read_whole_text_source(spark, GLOB)
    assert df.count() == len(files)
    # one input partition per file = the reference's map-task granularity
    assert df.rdd.getNumPartitions() == len(files)


def test_content_matches_direct_read(spark):
    df = read_whole_text_source(spark, GLOB)
    got = {r["file"]: r["content"] for r in df.collect()}
    for p in sorted(glob.glob(GLOB)):
        with open(p, encoding="utf-8", errors="replace") as fh:
            assert got[os.path.basename(p)] == fh.read()


def test_missing_glob_fails_loudly(spark):
    df = read_whole_text_source(spark, "/root/repo/no-such-dir/*.txt")
    try:
        df.collect()
        raise AssertionError("expected read failure for empty glob")
    except Exception as exc:  # Py4J wraps the FileNotFoundError
        assert "no files match" in str(exc)


def test_wordcount_totals_match_python(spark):
    """Token totals through the source equal a pure-Python count on one
    book (independent of Spark's split/explode machinery)."""
    import re

    df = read_whole_text_source(spark, GLOB)
    one = df.filter(F.col("file") == "pg-being_ernest.txt")
    n_spark = (
        one.select(F.explode(F.split("content", r"[^\p{L}]+")).alias("w"))
        .filter(F.col("w") != "")
        .count()
    )
    # Python's unicode-letter split: non-letters = \W plus digits and
    # underscore (equivalent to Java's [^\p{L}] for this corpus)
    with open(
        "/root/reference/src/main/pg-being_ernest.txt", encoding="utf-8"
    ) as fh:
        n_py = len([w for w in re.split(r"[\W\d_]+", fh.read()) if w])
    assert n_spark == n_py


def test_source_registers_once_per_session(spark, tmp_path, monkeypatch):
    """Re-registering a Python data source makes Spark log a warning, so
    the readers register each source once per session."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    register = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration, "register", lambda self, cls: calls.append(cls.name()) or register(self, cls)
    )
    (tmp_path / "a.txt").write_text("alpha", encoding="utf-8")
    for _ in range(3):
        assert read_whole_text_source(spark, str(tmp_path / "*.txt")).count() == 1
    # none when an earlier test already registered it with this session
    assert calls in ([], ["wholetext"])
