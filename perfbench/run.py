"""Layer-resolved batch benchmark for the Spark MapReduce engine.

Runs one workload (see ``workloads.py`` and ``README.md``) in a single
process on ``local[nproc]`` and prints, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, read from Spark's status stores after every query.

    python3 perfbench/run.py --workload jvm_sql --seed 1 --seconds 12 --trace 0

The benchmark writes only under ``perfbench/.work`` (inputs, Spark scratch)
and ``perfbench/out`` (the full record, with every sample and span); two
queries of the package cache the shards they read under ``.warc_shards/``
at the checkout root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MB = 1024 * 1024

# Share of the untraced query time by which a traced query may differ
# before the traced run's layer numbers are refused; the floor absorbs
# scheduler jitter on sub-second queries.
RECONCILE_SHARE = 0.25
RECONCILE_FLOOR_S = 0.1
# A run keeps measuring past --seconds until it has this many passes, so
# that the medians over passes leave out one slow (or fast) pass.
MIN_PASSES = 3
# Young generation of the driver JVM, fixed (see configure_env).
YOUNG_GEN_MB = 400


def host_snapshot() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / MB, 1), "loadavg": load, "time": time.time()}


def configure_env(cores: int, mem_gb: float, run_dir: str) -> None:
    """Pin what the session factory reads from the environment, and keep
    every scratch file of Spark, the JVM and the Python workers inside the
    run directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # The factory's default heap (48g) exceeds most hosts; 2g fits every
    # workload here.
    heap = f"{max(1, min(2, int(mem_gb // 4)))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # Python workers import the package by name (the wholetext source,
    # every pickled UDF), so they need the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: both JVMs (the launcher that builds the submit
    # command, and the driver) would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # The heap is committed at its cap (-Xms) but not touched, so it is
    # resident only where objects have been: G1 otherwise grew and shrank
    # the committed heap with its GC-time goal, and between runs of the same
    # code peak_rss_mb jumped by up to 500 MB. The young generation is fixed
    # (-Xmn) for the same reason; the resident heap then grows with the old
    # generation, which holds what the driver keeps.
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -Xmn{YOUNG_GEN_MB}m"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class RssSampler:
    """Peak resident memory of a process tree, sampled from /proc."""

    def __init__(self, root_pid: int, interval: float = 0.5) -> None:
        self.root_pid, self.interval = root_pid, interval
        self.peak_kb = 0
        self.peak_workers_kb = 0  # the tree without the JVM: Python workers
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak_kb = self.peak_workers_kb = 0

    def _tree(self) -> set[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {self.root_pid}, [self.root_pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return tree

    def _tree_pss_kb(self) -> tuple[int, int]:
        """(whole tree, tree without the root), in kB."""
        # proportional set size: Python workers forked from one daemon
        # share pages, which their resident sizes would each count in full
        total = root = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            kb = int(line.split()[1])
                            total += kb
                            root += kb if pid == self.root_pid else 0
            except OSError:
                pass
        return total, total - root

    def _loop(self) -> None:
        while not self._stop.is_set():
            total, workers = self._tree_pss_kb()
            self.peak_kb = max(self.peak_kb, total)
            self.peak_workers_kb = max(self.peak_workers_kb, workers)
            self._stop.wait(self.interval)


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation since the last reset:
    what the driver keeps, apart from how large the collector sized the
    young generation."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if "Old Gen" in p.getName() or "Tenured" in p.getName()) / MB


def reset_old_gen_peak(spark) -> None:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for p in mf.getMemoryPoolMXBeans():
        p.resetPeakUsage()


def end_to_end_metrics(passes: list[list[float]], peak_kb: int, failed: int, attempted: int,
                       setup_s: float) -> dict[str, tuple[float, str]]:
    """``passes`` holds each timed pass's query (or job) times."""
    return {
        "wall_s": (statistics.median(sum(p) for p in passes), "s"),
        "query_p50_s": (statistics.median(x for p in passes for x in p), "s"),
        # a run takes too few samples for a high percentile with ten
        # samples beyond it, so the tail is each pass's slowest query,
        # taken as the median over passes
        "query_tail_s": (statistics.median(max(p) for p in passes), "s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
        "setup_s": (setup_s, "s"),
    }


class QueryWorkload:
    """Passes over registry queries; each query is built, then written to
    the noop sink, under the job group ``<query>`` with phase ``build`` or
    ``exec``."""

    def __init__(self, spark, registry, rows, sf_dir, expected, tracer, failures) -> None:
        self.spark, self.sc = spark, spark.sparkContext
        self.sf_dir, self.expected, self.tracer, self.failures = sf_dir, expected, tracer, failures
        self.fns = {n: registry.QUERIES[n] for n in rows}
        self.groups = list(rows)
        self.warmup_s: dict[str, float] = {}

    def warmup(self, order) -> None:
        """One untimed pass that collects every result and checks it."""
        from check import digest

        for name in order:
            t0 = time.perf_counter()
            with self.tracer.span("query", name), _counted(self.failures, name):
                self.sc.setJobGroup(name, "build")
                df = self.fns[name](self.spark, self.sf_dir)
                self.sc.setJobGroup(name, "exec")
                got = digest(list(df.columns), [tuple(r) for r in df.collect()])
                if got != self.expected.get(name):
                    self.failures.append((name, "result differs from the DuckDB oracle"))
            self.warmup_s[name] = time.perf_counter() - t0

    def run_one(self, name: str, reader) -> dict:
        with self.tracer.span("query", name):
            phases = {}
            with self.tracer.span("operators.build", name) as phases["build"]:
                self.sc.setJobGroup(name, "build")
                t0 = time.perf_counter()
                df = self.fns[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
            with self.tracer.span("operators.exec", name) as phases["exec"]:
                self.sc.setJobGroup(name, "exec")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        sample = {"name": name, "build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0}
        if reader is not None:
            status = reader.read(name)
            sample["status"] = status
            from tracing import add_spark_spans

            add_spark_spans(self.tracer, phases, status)
        return sample


def mapreduce_golden(files) -> tuple[dict[str, list[str]], float]:
    """Expected output of each job from the single-threaded engine, and
    that engine's time for one pass of the three jobs."""
    from mit_6_5840_mapreduce_with_go_spark.mapreduce import apps, engine

    t0 = time.perf_counter()
    wc = engine.run_mapreduce_sequential(apps.wc_map, apps.wc_reduce, files)
    t1 = time.perf_counter()
    ix = engine.run_mapreduce_sequential(apps.indexer_map, apps.indexer_reduce, files)
    t2 = time.perf_counter()
    return {"mr_wc": wc, "mr_indexer": ix, "mr_wc_combine": wc}, 2 * (t1 - t0) + (t2 - t1)


class MapReduceWorkload:
    """Passes of three engine jobs over the seeded corpus: gather-all
    ``wc`` and ``indexer`` through the wholetext source into committed
    text files, and ``wc`` with map-side combining collected to the
    driver. Every job's output is compared with the sequential engine."""

    def __init__(self, spark, corpus_dir: str, files, golden: dict, out_root: str, tracer, failures,
                 n_reduce: int) -> None:
        from mit_6_5840_mapreduce_with_go_spark.mapreduce import apps, engine

        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer
        self.engine, self.apps = engine, apps
        self.glob = os.path.join(corpus_dir, "*.txt")
        self.files, self.golden, self.out_root, self.n_reduce = files, golden, out_root, n_reduce
        self.groups = list(golden)
        self._n = 0
        self.failures = failures
        self.warmup_s: dict[str, float] = {}

    def _job(self, name: str):
        e, a = self.engine, self.apps
        if name == "mr_wc_combine":
            return lambda: e.run_mapreduce(self.spark, a.wc_map, a.wc_reduce, self.files, n_reduce=self.n_reduce, combine_fn=a.wc_combine)
        self._n += 1
        out = os.path.join(self.out_root, f"{name}-{self._n}")
        m, r = (a.wc_map, a.wc_reduce) if name == "mr_wc" else (a.indexer_map, a.indexer_reduce)

        def job():
            e.run_mapreduce_to_dir(self.spark, m, r, self.glob, out, n_reduce=self.n_reduce)
            return out

        return job

    def _check(self, name: str, result) -> None:
        if isinstance(result, str):
            lines = []
            for part in sorted(os.listdir(result)):
                if part.startswith("part-"):
                    with open(os.path.join(result, part), encoding="utf-8") as fh:
                        lines.extend(line.rstrip("\n") for line in fh if line.strip())
            shutil.rmtree(result, ignore_errors=True)
            result = sorted(lines)
        if result != self.golden[name]:
            self.failures.append((name, "output differs from run_mapreduce_sequential"))

    def warmup(self, order) -> None:
        for name in order:
            t0 = time.perf_counter()
            with self.tracer.span("query", name), _counted(self.failures, name):
                self.sc.setJobGroup(name, "exec")
                self._check(name, self._job(name)())
            self.warmup_s[name] = time.perf_counter() - t0

    def run_one(self, name: str, reader) -> dict:
        job = self._job(name)
        with self.tracer.span("query", name):
            phases = {}
            with self.tracer.span("operators.exec", name) as phases["exec"]:
                self.sc.setJobGroup(name, "exec")
                t0 = time.perf_counter()
                result = job()
                t1 = time.perf_counter()
                t1_epoch = time.time()
        self._check(name, result)
        sample = {"name": name, "build_s": 0.0, "exec_s": t1 - t0, "wall_s": t1 - t0}
        if reader is not None:
            status = reader.read(name)
            sample["status"] = status
            from tracing import add_spark_spans

            add_spark_spans(self.tracer, phases, status)
            ends = [j["end"] for j in status["jobs"] if j["end"]]
            sample["commit_s"] = max(0.0, t1_epoch - max(ends)) if ends and name != "mr_wc_combine" else 0.0
        return sample


def summarize_layers(traced: list[dict], untraced_passes: list[float], traced_passes: list[float],
                     sequential_s: float, cores: int, timings: dict, memory: dict) -> tuple[dict, list[str], dict]:
    """Per-layer metrics (per pass, averaged over traced passes) and the
    reconciliation problems found."""
    from tracing import python_time_violations, query_layers

    n_pass = max(1, len(traced_passes))
    rows = [dict(query_layers(s["status"], s["build_s"], s["exec_s"], cores), name=s["name"]) for s in traced]
    tot = {k: sum(r[k] for r in rows) for k in rows[0] if k != "name"} if rows else {}
    problems = []
    for s in traced:
        problems += [f"{s['name']}: {p}" for p in python_time_violations(s["status"])]
    mr = {"map_s": 0.0, "reduce_s": 0.0, "commit_s": 0.0, "max_reduce_input_mb": 0.0}
    if sequential_s:
        for s in traced:
            for st in s["status"]["stages"]:
                dur = (st["end"] or st["start"]) - st["start"] if st["start"] else 0.0
                if st["shuffle_write_b"] > 0:
                    mr["map_s"] += dur
                else:
                    mr["reduce_s"] += dur
                    mr["max_reduce_input_mb"] = max(mr["max_reduce_input_mb"], st["max_task_read_b"] / MB)
            mr["commit_s"] += s.get("commit_s", 0.0)
    per_pass = lambda k: tot.get(k, 0.0) / n_pass  # noqa: E731
    wall_traced = statistics.median(traced_passes) if traced_passes else 0.0
    exec_s = per_pass("exec_s")
    metrics = {
        "session.start_s": (timings["session.start_s"], "s"),
        "registry.load_s": (timings["registry.load_s"], "s"),
        "operators.build_s": (per_pass("build_s"), "s"),
        "operators.build_jobs": (per_pass("build_jobs"), "count"),
        "operators.build_stages": (per_pass("build_stages"), "count"),
        "operators.exec_s": (exec_s, "s"),
        "exec.jobs": (per_pass("exec_jobs"), "count"),
        "exec.stages": (per_pass("exec_stages"), "count"),
        "tasks.run_s": (per_pass("task_run_s"), "s"),
        "tasks.cpu_s": (per_pass("task_cpu_s"), "s"),
        "tasks.gc_s": (per_pass("gc_s"), "s"),
        "tasks.parallel_eff": (per_pass("exec_task_run_s") / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "python.init_s": (per_pass("py_init_s"), "s"),
        "python.run_s": (per_pass("py_run_s"), "s"),
        "python.tasks": (per_pass("py_tasks"), "count"),
        "shuffle.rounds": (per_pass("shuffle_rounds"), "count"),
        "shuffle.write_mb": (per_pass("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (per_pass("shuffle_read_mb"), "MB"),
        "shuffle.max_task_read_mb": (max((r["max_task_read_mb"] for r in rows), default=0.0), "MB"),
        "shuffle.spill_mb": (per_pass("spill_mb"), "MB"),
        "sources.input_mb": (per_pass("input_mb"), "MB"),
        "sources.input_rows": (per_pass("input_rows"), "rows"),
        "mapreduce.map_s": (mr["map_s"] / n_pass, "s"),
        "mapreduce.reduce_s": (mr["reduce_s"] / n_pass, "s"),
        "mapreduce.commit_s": (mr["commit_s"] / n_pass, "s"),
        "mapreduce.max_reduce_input_mb": (mr["max_reduce_input_mb"], "MB"),
        "mapreduce.sequential_s": (sequential_s, "s"),
        "mapreduce.speedup": (sequential_s / wall_traced if sequential_s and wall_traced else 0.0, "ratio"),
        "tasks.failed": (per_pass("tasks_failed"), "count"),
        "tasks.retried": (per_pass("tasks_retried"), "count"),
        "tasks.success_ratio": (min((r["tasks_success_ratio"] for r in rows), default=1.0), "ratio"),
        "memory.old_gen_peak_mb": (memory["old_gen_peak_mb"], "MB"),
        "memory.python_workers_mb": (memory["python_workers_mb"], "MB"),
        "tracing.overhead_s": (wall_traced - statistics.median(untraced_passes) if untraced_passes and traced_passes else 0.0, "s"),
    }
    return metrics, problems, {"rows": rows}


def reconcile(traced: list[dict], untraced: list[dict]) -> list[str]:
    """Per query, traced build + exec against the untraced query wall."""
    def med(samples, name):
        xs = [s["wall_s"] for s in samples if s["name"] == name]
        return statistics.median(xs) if xs else None

    problems = []
    for name in sorted({s["name"] for s in traced}):
        t = statistics.median([s["build_s"] + s["exec_s"] for s in traced if s["name"] == name])
        u = med(untraced, name)
        if u is not None and abs(t - u) > RECONCILE_SHARE * u + RECONCILE_FLOOR_S:
            problems.append(f"{name}: traced build+exec {t:.3f} s vs untraced wall {u:.3f} s")
    return problems


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", choices=("timed", "all"), default="timed",
                   help="query workloads: submit the timed subset (default) or every row of the split")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    from workloads import CORPUS_FILE_BYTES, CORPUS_FILES, MR_REDUCE_TASKS, SF, TABLE_SEED, TABLES, WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host_start = host_snapshot()
    cores = host_start["nproc"]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(cores, host_start["mem_gb"], run_dir)
    try:
        try:
            from mit_6_5840_mapreduce_with_go_spark import registry, session
        except ImportError as e:
            print(f"cannot import the engine package from {ROOT}: {e}", file=sys.stderr)
            return 2
        import datagen
        from check import load_expected
        from tracing import StatusReader, Tracer, check_spans, self_times

        # --- inputs: the benchmark's own work, before the setup clock ---
        expected: dict[str, str] = {}
        if wl.kind == "queries":
            rows = wl.rows if args.rows == "all" else wl.timed
            sf_dir = datagen.write_tables(os.path.join(WORK, TABLES), SF, TABLE_SEED)
            expected = load_expected()
        else:
            files = datagen.build_corpus(args.seed, CORPUS_FILES, CORPUS_FILE_BYTES)
            corpus_dir = datagen.write_corpus(os.path.join(run_dir, "corpus"), files)
            golden, sequential_s = mapreduce_golden(files)

        tracer = Tracer(bool(args.trace))
        timings: dict[str, float] = {}
        failures: list[tuple[str, str]] = []
        with tracer.span("run", wl.name):
            # --- setup: session, registry, untimed warm-up pass ---
            t_setup = time.perf_counter()
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    t0 = time.perf_counter()
                    spark = session.get_spark(
                        f"perfbench-{wl.name}", cores=cores,
                        extra_conf={"spark.ui.showConsoleProgress": "false",
                                    "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")},
                    )
                    timings["session.start_s"] = time.perf_counter() - t0
                gateway = spark.sparkContext._gateway
                rss = RssSampler(gateway.proc.pid)
                rss.start()
                with tracer.span("registry.load"):
                    t0 = time.perf_counter()
                    registry.load_all()
                    timings["registry.load_s"] = time.perf_counter() - t0
                if wl.kind == "queries":
                    runner = QueryWorkload(spark, registry, rows, sf_dir, expected, tracer, failures)
                else:
                    runner = MapReduceWorkload(spark, corpus_dir, files, golden, os.path.join(run_dir, "mr-out"),
                                               tracer, failures, MR_REDUCE_TASKS)
                rng = wl.order_rng(args.seed)
                order = lambda: rng.sample(runner.groups, len(runner.groups))  # noqa: E731
                attempted = len(runner.groups)
                with tracer.span("warmup"):
                    runner.warmup(order())
                    # untraced, like the untimed passes between traced ones
                    tracer.enabled = False
                    for _ in range(wl.warm_passes):
                        for name in order():
                            attempted += 1
                            with _counted(failures, name):
                                runner.run_one(name, None)
                    tracer.enabled = bool(args.trace)
            setup_s = time.perf_counter() - t_setup

            # --- timed passes; a traced run alternates untraced and traced ---
            untraced, traced, untraced_passes, traced_passes = [], [], [], []
            reader = StatusReader(spark) if args.trace else None

            def enough() -> bool:
                if args.trace:
                    return min(len(untraced_passes), len(traced_passes)) >= 2
                return len(untraced_passes) >= MIN_PASSES

            # a full collection ends setup, so that every run starts its
            # timed passes from a compacted old generation; memory peaks
            # count from here
            spark.sparkContext._jvm.java.lang.System.gc()
            reset_old_gen_peak(spark)
            rss.reset()
            t_start = time.perf_counter()
            while time.perf_counter() - t_start < args.seconds or not enough():
                traced_pass = bool(args.trace) and len(untraced_passes) > len(traced_passes)
                tracer.enabled = traced_pass
                if traced_pass:
                    reader.mark_seen(runner.groups)
                got = []
                with tracer.span("pass", str(len(traced_passes))):
                    for name in order():
                        attempted += 1
                        with _counted(failures, name):
                            got.append(runner.run_one(name, reader if traced_pass else None))
                (traced if traced_pass else untraced).extend(got)
                (traced_passes if traced_pass else untraced_passes).append([s["wall_s"] for s in got])
            tracer.enabled = bool(args.trace)
            rss.stop()
            memory = {"old_gen_peak_mb": old_gen_peak_mb(spark), "python_workers_mb": rss.peak_workers_kb / 1024.0}
        spark.stop()
        # end the JVM (and with it the Python workers it forked) before
        # reporting, rather than leaving it to exit after this process
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        host_end = host_snapshot()

        # --- results ---
        failed = len(failures)
        problems: list[str] = []
        record = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "rows": list(runner.groups), "sf": SF if wl.kind == "queries" else None,
            "host_start": host_start, "host_end": host_end, "cores": cores,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "failures": failures,
            "setup_s": setup_s, "timings": timings, "warmup_s": runner.warmup_s,
            "samples": [{k: v for k, v in s.items() if k != "status"} for s in untraced + traced],
            "untraced_passes": untraced_passes, "traced_passes": traced_passes, "memory": memory,
        }
        if args.trace:
            metrics, problems, layer = summarize_layers(
                traced, [sum(p) for p in untraced_passes], [sum(p) for p in traced_passes],
                sequential_s if wl.kind == "mapreduce" else 0.0, cores, timings, memory)
            problems += reconcile(traced, untraced)
            spans = tracer.dump()
            problems += check_spans(spans)
            record.update(layer_rows=layer["rows"], self_s=self_times(spans), spans=spans,
                          stages=[dict(st, query=s["name"]) for s in traced for st in s["status"]["stages"]])
        else:
            metrics = end_to_end_metrics(untraced_passes, rss.peak_kb, failed, attempted, setup_s)
        record["reconciliation_problems"] = problems
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        path = os.path.join(HERE, "out", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        for name, why in failures:
            print(f"FAILED {name}: {why}", file=sys.stderr)
        for p in problems:
            print(f"RECONCILIATION {p}", file=sys.stderr)
        if not args.trace:
            print(f"# {wl.name}: {len(untraced_passes)} passes of {len(runner.groups)}; "
                  f"loadavg {host_start['loadavg'][0]} -> {host_end['loadavg'][0]}")
        for k, (v, u) in metrics.items():
            print(f"# {k} = {v:.6g} {u}")
        print(json.dumps({
            "correct": failed == 0 and not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": record["metrics"],
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


@contextlib.contextmanager
def _counted(failures: list, name: str):
    """Record an exception as a failed operation and carry on: one failing
    query must not end the run."""
    try:
        yield
    except Exception as e:  # noqa: BLE001
        failures.append((name, f"{type(e).__name__}: {e}"[:300]))


if __name__ == "__main__":
    sys.exit(main())
