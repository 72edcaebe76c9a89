"""Spans, Spark status-store reads and the per-layer record.

Everything here observes the program from outside: the runner opens spans
around its own calls into the package, tags each call with
``setJobGroup(<query>, <phase>)``, and after each query reads Spark's task
status store (jobs, stages, task metrics) and SQL status store (per-node
Python metrics) through py4j. Both stores are kept with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass

MB = 1024 * 1024

# --- spans --------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str
    name: str
    start: float  # epoch seconds
    end: float = 0.0


class Tracer:
    """Keeps spans in memory; ``dump`` returns them at the end of a run.
    A disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, kind: str, name: str = ""):
        if not self.enabled:
            yield None
            return
        s = self.add(kind, name, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, kind: str, name: str, start: float, end: float, parent: int | None) -> Span:
        s = Span(next(self._ids), parent, kind, name, start, end)
        self.spans.append(s)
        return s

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def check_spans(spans: list[dict]) -> list[str]:
    """Problems that make a span list unusable: not exactly one root, a
    missing parent, an end before its start."""
    ids = {s["id"] for s in spans}
    problems = []
    roots = [s for s in spans if s["parent"] is None]
    if len(roots) != 1:
        problems.append(f"{len(roots)} root spans")
    for s in spans:
        if s["parent"] is not None and s["parent"] not in ids:
            problems.append(f"span {s['id']} ({s['kind']}) has no parent {s['parent']}")
        if s["end"] < s["start"]:
            problems.append(f"span {s['id']} ({s['kind']}) ends before it starts")
    return problems


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span kind not covered by that span's children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0.0, s["end"] - s["start"] - covered)
    return out


# --- status stores ------------------------------------------------------

_DURATION = re.compile(r"([0-9.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
PY_INIT = ("time to start Python workers", "time to initialize Python workers")
PY_RUN = "time to run Python workers"


def parse_timing(value: str) -> tuple[float, int | None]:
    """Total seconds and stage id of a SQL timing metric string, e.g.
    ``"total (min, med, max (stageId: taskId))\\n4.9 s (... (stage 3.0: task 2))"``."""
    last = value.strip().splitlines()[-1]
    m = _DURATION.search(last)
    total = float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0
    st = _STAGE.search(last)
    return total, int(st.group(1)) if st else None


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads the jobs, stages and SQL executions a query left behind.

    Call ``read(group)`` after every query: a warm pass runs hundreds of
    stages and the store keeps only ``spark.ui.retainedStages`` of them.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._no_status = jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(jvm.double, 0)
        self._max_q = self.sc._gateway.new_array(jvm.double, 1)
        self._max_q[0] = 1.0
        self._seen_jobs: set[int] = set()
        self._next_exec = 0
        self.mark_seen([])

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def mark_seen(self, groups) -> None:
        """Forget everything run so far in ``groups``."""
        self._drain()
        for g in groups:
            self._seen_jobs.update(self.sc.statusTracker().getJobIdsForGroup(g))
        # the store keeps only the latest spark.sql.ui.retainedExecutions,
        # so start after the newest one rather than counting up from 0
        executions = self._sql.executionsList()
        if executions.length() > 0:
            self._next_exec = executions.apply(executions.length() - 1).executionId() + 1

    def read(self, group: str) -> dict:
        self._drain()
        jobs, stages, seen_stages = [], {}, set()
        for jid in sorted(set(self.sc.statusTracker().getJobIdsForGroup(group)) - self._seen_jobs):
            self._seen_jobs.add(jid)
            jd = self._store.job(jid)
            desc = jd.description()
            job = {
                "id": jid,
                "phase": desc.get() if desc.isDefined() else "",
                "status": str(jd.status()),
                "start": _date_s(jd.submissionTime()),
                "end": _date_s(jd.completionTime()),
                "stages": [],
            }
            jobs.append(job)
            for sid in self._conv.asJava(jd.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for sd in self._conv.asJava(self._store.stageData(sid, False, self._no_status, False, self._no_q)):
                    if str(sd.status()) == "SKIPPED":
                        continue
                    st = self._stage(sd)
                    stages[(sid, st["attempt"])] = st
                    job["stages"].append(sid)
        python = self._python_by_stage()
        for st in stages.values():
            py = python.get(st["id"], {})
            st["py_init_s"] = py.get("init", 0.0)
            st["py_run_s"] = py.get("run", 0.0)
        return {"jobs": jobs, "stages": list(stages.values())}

    def _stage(self, sd) -> dict:
        st = {
            "id": sd.stageId(),
            "attempt": sd.attemptId(),
            "name": sd.name()[:80],
            "start": _date_s(sd.submissionTime()),
            "end": _date_s(sd.completionTime()),
            "tasks": sd.numTasks(),
            "tasks_complete": sd.numCompleteTasks(),
            "tasks_failed": sd.numFailedTasks(),
            "tasks_killed": sd.numKilledTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_read_b": sd.shuffleReadBytes(),
            "shuffle_write_b": sd.shuffleWriteBytes(),
            "spill_b": sd.diskBytesSpilled(),
            "input_b": sd.inputBytes(),
            "input_rows": sd.inputRecords(),
            "max_task_read_b": 0.0,
        }
        if st["shuffle_read_b"] > 0:
            for full in self._conv.asJava(self._store.stageData(st["id"], False, self._no_status, True, self._max_q)):
                if full.attemptId() == st["attempt"] and full.taskMetricsDistributions().isDefined():
                    reads = full.taskMetricsDistributions().get().shuffleReadMetrics().readBytes()
                    st["max_task_read_b"] = float(reads.apply(0))
        return st

    def _python_by_stage(self) -> dict[int, dict[str, float]]:
        """Python worker time per stage from the SQL store. Nodes pipelined
        into one stage report overlapping time, so a stage takes the largest
        node value of each metric rather than the sum."""
        out: dict[int, dict[str, float]] = {}
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                return out
            eid = self._next_exec
            self._next_exec += 1
            names = {m.accumulatorId(): m.name() for m in self._conv.asJava(ex.get().metrics())}
            per_stage: dict[tuple[int, str], float] = {}
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for acc, value in values.items():
                name = names.get(acc)
                if name not in PY_INIT and name != PY_RUN:
                    continue
                total, stage = parse_timing(value)
                if stage is None:
                    continue
                key = (stage, name)
                per_stage[key] = max(per_stage.get(key, 0.0), total)
            for (stage, name), v in per_stage.items():
                d = out.setdefault(stage, {"init": 0.0, "run": 0.0})
                d["run" if name == PY_RUN else "init"] += v


def add_spark_spans(tracer: Tracer, phase_spans: dict[str, Span], status: dict) -> None:
    """Job spans under the phase span their job group named, stage spans
    under their job."""
    by_stage = {st["id"]: st for st in status["stages"]}
    for job in status["jobs"]:
        parent = phase_spans.get(job["phase"])
        if parent is None or job["start"] is None:
            continue
        js = tracer.add("spark.job", str(job["id"]), job["start"], job["end"] or job["start"], parent.id)
        for sid in job["stages"]:
            st = by_stage.get(sid)
            if st and st["start"] is not None:
                tracer.add("spark.stage", str(sid), st["start"], st["end"] or st["start"], js.id)


# --- per-query layer record ---------------------------------------------


def query_layers(status: dict, build_s: float, exec_s: float, cores: int) -> dict:
    """One traced query's layer numbers, from what ``read`` returned."""
    phase_of = {}
    for job in status["jobs"]:
        for sid in job["stages"]:
            phase_of.setdefault(sid, job["phase"])
    stages = status["stages"]
    exec_stages = [s for s in stages if phase_of.get(s["id"]) == "exec"]
    py_stages = [s for s in stages if s["py_run_s"] > 0 or s["py_init_s"] > 0]
    done = sum(s["tasks_complete"] for s in stages)
    failed = sum(s["tasks_failed"] for s in stages)
    killed = sum(s["tasks_killed"] for s in stages)
    return {
        "build_s": build_s,
        "exec_s": exec_s,
        "build_jobs": sum(1 for j in status["jobs"] if j["phase"] == "build"),
        "build_stages": sum(1 for s in stages if phase_of.get(s["id"]) == "build"),
        "exec_jobs": sum(1 for j in status["jobs"] if j["phase"] == "exec"),
        "exec_stages": len(exec_stages),
        "task_run_s": sum(s["run_s"] for s in stages),
        "task_cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "exec_task_run_s": sum(s["run_s"] for s in exec_stages),
        "parallel_eff": (sum(s["run_s"] for s in exec_stages) / (exec_s * cores)) if exec_s > 0 else 0.0,
        "py_init_s": sum(s["py_init_s"] for s in stages),
        "py_run_s": sum(s["py_run_s"] for s in stages),
        "py_tasks": sum(s["tasks"] for s in py_stages),
        "shuffle_rounds": sum(1 for s in stages if s["shuffle_write_b"] > 0),
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "max_task_read_mb": max((s["max_task_read_b"] for s in stages), default=0.0) / MB,
        "spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "input_mb": sum(s["input_b"] for s in stages) / MB,
        "input_rows": sum(s["input_rows"] for s in stages),
        "tasks_failed": failed,
        "tasks_retried": killed + sum(1 for s in stages if s["attempt"] > 0),
        "tasks_success_ratio": done / (done + failed + killed) if done + failed + killed else 1.0,
    }


def python_time_violations(status: dict) -> list[str]:
    """Stages whose Python time exceeds their task time. The SQL store
    prints totals to one decimal of a second, hence the slack."""
    return [
        f"stage {s['id']}: python {s['py_run_s']:.2f} s > task {s['run_s']:.2f} s"
        for s in status["stages"]
        if s["py_run_s"] > s["run_s"] + 0.1
    ]
