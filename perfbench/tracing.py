"""In-memory spans and per-layer attribution for traced runs.

A traced operation is a tree of spans: the operation itself, driver
spans opened by the workload (plan build, lineage checkpoints, the
loader), Catalyst's planning phases (from the QueryExecution tracker),
and the Spark jobs and stages the operation ran (from the status
tracker and the status store). Each stage span carries layer shares:
shuffle time (fetch wait + shuffle write) and Python worker time are
split out of the stage's task time, the rest goes to the stage's
primary layer (lineage if a checkpoint launched it, sinks if it wrote
rows, sources if it scanned files, else operators).

:func:`self_times` sweeps an operation's timeline and hands every
instant to the deepest spans open at that instant, split evenly when
several run at once. The per-layer self times plus the instants no span
covers (``driver``) add up to the operation's wall by construction.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import asdict, dataclass, field

LAYERS = (
    "plans",
    "sources",
    "functions",
    "operators",
    "shuffle",
    "lineage",
    "sinks",
    "core",
    "driver",
)

#: Spark plan nodes that run Python workers (the ``functions/`` boundary).
PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
    "AggregateInPandas",
    "WindowInPandas",
)

_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task")
_NUM_RE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_UNIT = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> tuple[float, int | None]:
    """(total, stage id of the max task) from a formatted SQL metric.

    Sums print as ``1,234``; sizes and timings as
    ``total (min, med, max (stageId: taskId))\\n2.3 KiB (... (stage 4.0:
    task 17))``. Sizes come back in bytes, timings in seconds."""
    lines = text.strip().splitlines()
    m = _NUM_RE.match(lines[-1].strip()) if lines else None
    if not m:
        return 0.0, None
    value = float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)
    s = _STAGE_RE.search(text)
    return value, int(s.group(1)) if s else None


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    depth: int
    start: float
    end: float = 0.0
    shares: dict = field(default_factory=dict)
    tags: dict = field(default_factory=dict)


def self_times(op: Span, spans: list[Span]) -> dict[str, float]:
    """Split ``op``'s wall over layers; see the module docstring."""
    inner = [
        s for s in spans if s is not op and s.end > s.start
        and s.end > op.start and s.start < op.end
    ]
    cuts = sorted(
        {op.start, op.end}
        | {min(max(t, op.start), op.end) for s in inner for t in (s.start, s.end)}
    )
    out = dict.fromkeys(LAYERS, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        active = [s for s in inner if s.start <= a and s.end >= b]
        if not active:
            out["driver"] += b - a
            continue
        deepest = max(s.depth for s in active)
        leaves = [s for s in active if s.depth == deepest]
        each = (b - a) / len(leaves)
        for s in leaves:
            for layer, share in (s.shares or {s.layer: 1.0}).items():
                out[layer] += each * share
    return out


class Tracer:
    """Collects spans for one run and harvests Spark's own records."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lineage: list[Span] = []
        self.counters: dict[str, float] = {}

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str, depth: int | None = None, **tags):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            parent=parent.id if parent else None,
            name=name,
            layer=layer,
            depth=depth if depth is not None else len(self._stack),
            start=time.time(),
            tags=tags,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, depth: int, start: float, end: float,
            parent: Span | None, **kw) -> Span:
        s = Span(len(self.spans), parent.id if parent else None, name, layer,
                 depth, start, end, **kw)
        self.spans.append(s)
        return s

    def bump(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    # -- planning phases --------------------------------------------------

    def phases(self, df, parent: Span) -> None:
        """Record Catalyst's analysis/optimization/planning phases of the
        DataFrame's QueryExecution as spans (forces physical planning)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            name, ph = kv._1(), kv._2()
            key = {"planning": "physical"}.get(name, name)
            s = self.add(f"phase.{key}", "plans", 2, ph.startTimeMs() / 1e3,
                         ph.endTimeMs() / 1e3, parent)
            self.bump(f"plans.{key}_s", s.end - s.start)

    # -- lineage ----------------------------------------------------------

    def storage_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    @contextlib.contextmanager
    def lineage_span(self):
        before = self.storage_bytes()
        with self.span("lineage.checkpoint", "lineage") as s:
            self._lineage.append(s)
            yield s
        self.bump("lineage.checkpoints", 1)
        self.bump("lineage.checkpoint_s", s.end - s.start)
        self.bump("lineage.checkpoint_bytes", max(0, self.storage_bytes() - before))

    # -- Spark records ----------------------------------------------------

    def sql_count(self) -> int:
        return int(self.sql.executionsCount())

    def harvest(self, op: Span, groups: list[str], sql_from: int) -> None:
        """Add the jobs, stages and SQL plan metrics of one operation."""
        t0 = time.perf_counter()
        nodes = self.sql_nodes(sql_from)
        self.harvest_jobs(op, groups, nodes)
        self.count_nodes(nodes)
        self.bump("trace.bookkeeping_s", time.perf_counter() - t0)

    def harvest_jobs(self, op: Span, groups: list[str], nodes: list[dict]) -> None:
        """Add the jobs and stages of ``groups`` under ``op`` and fold
        their task, shuffle and sink metrics into the run's counters."""
        tracker = self.sc.statusTracker()
        job_ids = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
        python_s: dict[int, float] = {}
        scan_stages: set[int] = set()
        for n in nodes:
            if n["python"] and n["stage"] is not None:
                python_s[n["stage"]] = python_s.get(n["stage"], 0.0) + n["python_s"]
            if n["scan"] and n["stage"] is not None:
                scan_stages.add(n["stage"])
        self.bump("plans.jobs", len(job_ids))
        for jid in job_ids:
            jd = self.store.job(jid)
            if jd.submissionTime().isEmpty() or jd.completionTime().isEmpty():
                continue
            j0 = jd.submissionTime().get().getTime() / 1e3
            j1 = jd.completionTime().get().getTime() / 1e3
            job = self.add(f"job.{jid}", "operators", 3, j0, j1, op)
            in_lineage = any(s.start <= j0 <= s.end for s in self._lineage)
            it = jd.stageIds().iterator()
            while it.hasNext():
                self._stage(int(it.next()), job, in_lineage, python_s, scan_stages)

    def count_nodes(self, nodes: list[dict]) -> None:
        for n in nodes:
            for key, value in n["counts"].items():
                self.bump(key, value)

    def _stage(self, sid: int, job: Span, in_lineage: bool,
               python_s: dict, scan_stages: set) -> None:
        attempts = self.store.stageData(
            sid, False, self.jvm.java.util.ArrayList(), False,
            self.sc._gateway.new_array(self.jvm.double, 0),
        )
        for k in range(attempts.size()):
            st = attempts.apply(k)
            if str(st.status()) != "COMPLETE" and str(st.status()) != "FAILED":
                continue  # skipped (exchange reuse) or still pending
            if st.submissionTime().isEmpty() or st.completionTime().isEmpty():
                continue
            run_s = st.executorRunTime() / 1e3
            shuffle_s = st.shuffleFetchWaitTime() / 1e3 + st.shuffleWriteTime() / 1e9
            py_s = python_s.get(sid, 0.0) if k == 0 else 0.0
            out_rows = int(st.outputRecords())
            if in_lineage:
                primary = "lineage"
            elif out_rows > 0:
                primary = "sinks"
            elif sid in scan_stages:
                primary = "sources"
            else:
                primary = "operators"
            shares: dict[str, float] = {}
            if run_s > 0:
                shares["shuffle"] = min(1.0, shuffle_s / run_s)
                shares["functions"] = min(1.0 - shares["shuffle"], py_s / run_s)
            shares[primary] = shares.get(primary, 0.0) + 1.0 - sum(shares.values())
            self.add(
                f"stage.{sid}.{st.attemptId()}", primary, 4,
                st.submissionTime().get().getTime() / 1e3,
                st.completionTime().get().getTime() / 1e3, job,
                shares=shares, tags={"tasks": int(st.numTasks())},
            )
            delay = 0.0
            tasks = self.store.taskList(sid, st.attemptId(), int(st.numTasks()) + 8)
            for t in range(tasks.size()):
                delay += tasks.apply(t).schedulerDelay() / 1e3
            c = {
                "plans.stages": 1,
                "plans.tasks": int(st.numTasks()),
                "operators.task_run_s": run_s,
                "operators.task_cpu_s": st.executorCpuTime() / 1e9,
                "operators.gc_s": st.jvmGcTime() / 1e3,
                "operators.scheduler_delay_s": delay,
                "operators.deserialize_s": st.executorDeserializeTime() / 1e3,
                "operators.spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "operators.failed_tasks": int(st.numFailedTasks()),
                "operators.retried_stages": 1 if st.attemptId() > 0 else 0,
                "shuffle.write_bytes": st.shuffleWriteBytes(),
                "shuffle.read_bytes": st.shuffleReadBytes(),
                "shuffle.records": st.shuffleWriteRecords(),
                "shuffle.fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                "sources.input_rows": st.inputRecords(),
                "sources.input_bytes": st.inputBytes(),
                "sinks.rows": out_rows,
                "sinks.bytes": st.outputBytes(),
                "sinks.write_s": run_s if out_rows > 0 else 0.0,
                "functions.python_stage_s": run_s if py_s > 0 else 0.0,
            }
            for key, value in c.items():
                self.bump(key, value)

    def sql_nodes(self, sql_from: int) -> list[dict]:
        """Interesting plan nodes of the SQL executions started since
        execution count ``sql_from``, with their parsed metrics."""
        out = []
        n = self.sql_count()
        if n <= sql_from:
            return out
        execs = self.sql.executionsList(sql_from, n - sql_from)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid).allNodes()
            for k in range(graph.size()):
                node = graph.apply(k)
                name = str(node.name())
                python = name in PYTHON_NODES
                scan = name.startswith("Scan ") and "ExistingRDD" not in name
                write = name.startswith("Execute Insert") or name in (
                    "Execute SaveIntoDataSourceCommand",
                )
                exchange = name == "Exchange"
                if not (python or scan or write or exchange):
                    continue
                metrics = {}
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        metrics[str(metric.name())] = parse_metric(str(v.get()))
                counts: dict[str, float] = {}
                stage = None
                python_s = 0.0
                if python:
                    python_s, stage = metrics.get("time to run Python workers", (0.0, None))
                    counts["functions.python_rows"] = metrics.get(
                        "number of output rows", (0.0, None))[0]
                    counts["functions.python_bytes_in"] = metrics.get(
                        "data sent to Python workers", (0.0, None))[0]
                    counts["functions.python_bytes_out"] = metrics.get(
                        "data returned from Python workers", (0.0, None))[0]
                if scan:
                    stage = metrics.get("scan time", (0.0, None))[1]
                if write:
                    counts["sinks.files"] = metrics.get("number of written files", (0.0, None))[0]
                    counts["sinks.commit_s"] = (
                        metrics.get("task commit time", (0.0, None))[0]
                        + metrics.get("job commit time", (0.0, None))[0]
                    )
                if exchange:
                    counts["shuffle.partitions"] = metrics.get(
                        "number of partitions", (0.0, None))[0]
                out.append({"python": python, "scan": scan, "stage": stage,
                            "python_s": python_s, "counts": counts})
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM, PySpark's daemon and its Python workers), from /proc."""

    def __init__(self, interval_s: float = 0.1) -> None:
        import threading

        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self._interval)

    def sample(self) -> int:
        children = process_children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            exe = _exe(pid)
            # The JVM forks to run shell commands (Hadoop's chmod); until
            # the fork execs, it maps the JVM's pages, and counting it
            # counted the JVM twice (a 1.4 GB spike in some runs).
            todo.extend(c for c in children.get(pid, [])
                        if not (exe.endswith("/java") and _exe(c) == exe))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def process_children() -> dict[int, list[int]]:
    """Parent pid -> pids of its children, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children
