"""Tests of the benchmark itself; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    DRIVER_ITERATIVE, EVIDENCE, JVM_SQL, ORACLE_MISMATCH, PYTHON_UDF, WORKLOADS, profile, select_timed,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

NAME_CHARS = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.-")


# --- record schema and metric names -----------------------------------


def test_benchmark_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert all(w["why"] == WORKLOADS[w["name"]].why for w in SPEC["workloads"])
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert len(n) <= 64 and n[0].isalnum() and set(n) <= NAME_CHARS
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_end_to_end_metrics_match_spec():
    got = run.end_to_end_metrics([[0.1, 0.2, 0.7], [0.1, 0.3, 0.8], [0.2, 0.2, 0.6]], 2048, 0, 14, 3.0)
    assert {k: u for k, (_, u) in got.items()} == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v, _ in got.values())
    assert got["wall_s"][0] == pytest.approx(1.0)
    assert got["query_p50_s"][0] == pytest.approx(0.2)
    # the tail is the median over passes of each pass's slowest query,
    # above the median query
    assert got["query_tail_s"][0] == pytest.approx(0.7)


def _fake_status(phase_jobs=(("build", 1), ("exec", 2))):
    jobs, stages = [], []
    for i, (phase, n_stages) in enumerate(phase_jobs):
        ids = list(range(10 * i, 10 * i + n_stages))
        jobs.append({"id": i, "phase": phase, "status": "SUCCEEDED", "start": 100.0 + i, "end": 100.5 + i, "stages": ids})
        for sid in ids:
            stages.append({
                "id": sid, "attempt": 0, "name": "s", "start": 100.0 + i, "end": 100.4 + i, "tasks": 4,
                "tasks_complete": 4, "tasks_failed": 0, "tasks_killed": 0, "run_s": 1.0, "cpu_s": 0.8,
                "gc_s": 0.1, "shuffle_read_b": 2 * tracing.MB, "shuffle_write_b": tracing.MB, "spill_b": 0,
                "input_b": tracing.MB, "input_rows": 10, "max_task_read_b": tracing.MB, "py_init_s": 0.0, "py_run_s": 0.5,
            })
    return {"jobs": jobs, "stages": stages}


def test_per_layer_metrics_match_spec():
    traced = [{"name": "q", "build_s": 0.2, "exec_s": 0.5, "wall_s": 0.7, "status": _fake_status(), "commit_s": 0.1}]
    metrics, problems, _ = run.summarize_layers(traced, [0.7], [0.7], 2.0, 4,
                                                {"session.start_s": 3.0, "registry.load_s": 0.1},
                                                {"old_gen_peak_mb": 300.0, "python_workers_mb": 0.0})
    assert {k: u for k, (_, u) in metrics.items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert problems == []
    assert metrics["operators.build_stages"][0] == 1 and metrics["exec.stages"][0] == 2
    assert metrics["tasks.parallel_eff"][0] == pytest.approx(2.0 / (0.5 * 4))
    assert metrics["mapreduce.speedup"][0] == pytest.approx(2.0 / 0.7)


def test_python_time_over_task_time_is_reported():
    status = _fake_status()
    status["stages"][0]["py_run_s"] = 5.0
    assert len(tracing.python_time_violations(status)) == 1


def test_reconcile_flags_a_traced_query_that_drifts():
    untraced = [{"name": "q", "wall_s": 1.0}]
    assert run.reconcile([{"name": "q", "build_s": 0.5, "exec_s": 0.55}], untraced) == []
    assert run.reconcile([{"name": "q", "build_s": 0.5, "exec_s": 1.5}], untraced)


def test_parse_timing():
    v = "total (min, med, max (stageId: taskId))\n4.9 s (990 ms, 1.3 s, 1.4 s (stage 3.0: task 2))"
    assert tracing.parse_timing(v) == (pytest.approx(4.9), 3)
    assert tracing.parse_timing("137 ms") == (pytest.approx(0.137), None)


# --- seeded inputs ----------------------------------------------------


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = datagen.build_corpus(3, 4, 2000)
    assert a == datagen.build_corpus(3, 4, 2000)
    assert a != datagen.build_corpus(4, 4, 2000)
    d1 = datagen.write_corpus(str(tmp_path / "c1"), a)
    d2 = datagen.write_corpus(str(tmp_path / "c2"), datagen.build_corpus(3, 4, 2000))
    for name in sorted(os.listdir(d1)):
        with open(os.path.join(d1, name), "rb") as f1, open(os.path.join(d2, name), "rb") as f2:
            assert f1.read() == f2.read()
    # the last file holds separators only: no letter survives tokenizing
    assert not any(ch.isalpha() for ch in a[-1][1])


def test_tables_are_a_function_of_the_seed():
    a, b, c = (datagen.build_tables(0.001, s) for s in (1, 1, 2))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_query_order_is_a_function_of_the_seed():
    w = WORKLOADS["jvm_sql"]

    def orders(seed):
        rng = w.order_rng(seed)
        return [rng.sample(w.timed, len(w.timed)) for _ in range(3)]

    assert orders(5) == orders(5)
    assert orders(5) != orders(6)


# --- query lists ------------------------------------------------------


def test_query_lists_split_the_headline_set():
    import bench

    lists = [set(JVM_SQL), set(DRIVER_ITERATIVE), set(PYTHON_UDF)]
    assert sum(map(len, lists)) == len(set().union(*lists)) == 54
    assert set().union(*lists) == set(bench.HEADLINE) == set(EVIDENCE)


def test_timed_subsets_follow_the_selection_rule():
    jvm, dp = WORKLOADS["jvm_sql"], WORKLOADS["driver_python"]
    assert jvm.timed == select_timed(JVM_SQL, "shuffle", jvm.pass_budget_s)
    assert dp.timed == select_timed(DRIVER_ITERATIVE + PYTHON_UDF, "build", dp.pass_budget_s)
    for w in WORKLOADS.values():
        if w.kind != "queries":
            continue
        assert not set(w.timed) & set(ORACLE_MISMATCH)
        assert sum(EVIDENCE[r].wall_s for r in w.timed) <= w.pass_budget_s
        # the subset spends its time like its split: plan-build and Python
        # shares within 0.05, shuffle rate within a quarter
        got, want = profile(w.timed), profile(w.rows)
        assert abs(got["build"] - want["build"]) < 0.05
        assert abs(got["python"] - want["python"]) < 0.05
        assert got["shuffle_mb_per_s"] == pytest.approx(want["shuffle_mb_per_s"], rel=0.25)


def test_every_row_resolves_and_has_an_expected_digest():
    from mit_6_5840_mapreduce_with_go_spark import registry

    registry.load_all()
    expected = check.load_expected()
    for w in WORKLOADS.values():
        if w.kind != "queries":
            continue
        assert set(w.timed) <= set(w.rows)
        for name in w.rows:
            assert name in registry.QUERIES and name in registry.ORACLES
            assert name in expected


# --- spans ------------------------------------------------------------


def test_spans_are_well_formed():
    tr = tracing.Tracer(True)
    with tr.span("run"):
        with tr.span("pass"):
            with tr.span("query", "q"):
                phases = {}
                with tr.span("operators.build") as phases["build"]:
                    pass
                with tr.span("operators.exec") as phases["exec"]:
                    pass
    # one stage per job: overlapping siblings would each count their own
    # self time, and the sum below would exceed the run
    status = _fake_status((("build", 1), ("exec", 1)))
    stages = {st["id"]: st for st in status["stages"]}
    for job in status["jobs"]:
        span = phases[job["phase"]]
        job["start"], job["end"] = span.start, span.end
        for sid in job["stages"]:
            stages[sid]["start"], stages[sid]["end"] = span.start, span.end
    tracing.add_spark_spans(tr, phases, status)
    spans = tr.dump()
    assert tracing.check_spans(spans) == []
    assert {s["kind"] for s in spans} >= {"spark.job", "spark.stage"}
    self_s = tracing.self_times(spans)
    total = max(s["end"] for s in spans) - min(s["start"] for s in spans)
    assert sum(self_s.values()) == pytest.approx(total, abs=1e-6)


def test_check_spans_catches_orphans_and_second_roots():
    spans = [
        {"id": 0, "parent": None, "kind": "run", "start": 0.0, "end": 1.0},
        {"id": 1, "parent": None, "kind": "run", "start": 0.0, "end": 1.0},
        {"id": 2, "parent": 9, "kind": "query", "start": 0.0, "end": 1.0},
    ]
    problems = tracing.check_spans(spans)
    assert any("root" in p for p in problems) and any("no parent" in p for p in problems)


def test_disabled_tracer_records_nothing():
    tr = tracing.Tracer(False)
    with tr.span("run") as s:
        assert s is None
    assert tr.dump() == []
