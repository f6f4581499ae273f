"""Spans, self time, and the Spark status readers of the traced run.

Spans are recorded by the benchmark's own files around each public call
into the engine (run -> setup{session, tiles, warm-up} -> pass{plan call,
action}); Spark's job and stage intervals, read from the AppStatusStore
after each pass, hang under the span that launched them.  Spans live in
memory and are written out once, when the run ends.

Self time: an instant of a span's interval belongs to the deepest spans
open at that instant, shared equally when several siblings overlap (AQE
runs independent query stages as concurrent jobs).  With no overlapping
siblings this is the usual duration minus the union of the children; in
every case the self times of a tree sum to its root's wall.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float                    # epoch seconds
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)
    self_s: float = 0.0

    def add(self, name: str, start: float, end: float, **attrs) -> "Span":
        """Attach a finished child, clipped to this span's interval (Spark
        stamps jobs in whole milliseconds, on its own threads)."""
        hi = self.end if self.end is not None else max(start, end)
        start = min(max(start, self.start), hi)
        child = Span(name, start, min(max(end, start), hi), attrs)
        self.children.append(child)
        return child

    @property
    def wall(self) -> float:
        return self.end - self.start

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def to_dict(self) -> dict:
        return {"name": self.name, "start": self.start, "end": self.end,
                "wall_s": self.wall, "self_s": self.self_s, **self.attrs,
                "children": [c.to_dict() for c in self.children]}


class Tracer:
    """A span stack; ``span`` nests under whatever span is open."""

    def __init__(self, name: str):
        self.root = Span(name, time.time())
        self._stack = [self.root]

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), attrs=attrs)
        self._stack[-1].children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def finish(self) -> Span:
        self.root.end = time.time()
        compute_self_times(self.root)
        return self.root

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.root.to_dict(), indent=1))


def compute_self_times(root: Span) -> None:
    """Fill ``self_s`` of every span in the tree (module docstring)."""
    spans = []

    def collect(s: Span, depth: int) -> None:
        s.self_s = 0.0
        spans.append((s, depth))
        for c in s.children:
            collect(c, depth + 1)

    collect(root, 0)
    edges = sorted({t for s, _ in spans for t in (s.start, s.end)})
    for a, b in zip(edges, edges[1:]):
        open_ = [(s, d) for s, d in spans if s.start <= a and s.end >= b]
        if not open_:
            continue
        deepest = max(d for _, d in open_)
        owners = [s for s, d in open_ if d == deepest]
        for s in owners:
            s.self_s += (b - a) / len(owners)


# --- Spark status store readers ---------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_MAX_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)\)\s*$")


def parse_sql_metric(text: str) -> tuple[float, tuple[int, int] | None]:
    """A SQL status-store metric string -> (total in bytes / ms / count,
    (stage, attempt) of its slowest task or None).  The store keeps only
    these formatted totals: ``20,000``, ``9.3 s``, or
    ``total (min, med, max (stageId: taskId))\\n176.7 KiB (... (stage 12.0: task 20))``."""
    last = text.strip().split("\n")[-1]
    head = last.split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    value = float(num.replace(",", ""))
    value *= _SIZE.get(unit) or _TIME_MS.get(unit) or 1
    m = _MAX_STAGE.search(last)
    return value, ((int(m.group(1)), int(m.group(2))) if m else None)


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


# Python-evaluating physical operators: the three workloads' today, and the
# Arrow-native forms (mapInArrow, grouped applyInPandas) the lookup UDFs may
# move to, so the Arrow-boundary metrics keep measuring across that change
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapCoGroupsInPandas",
                "FlatMapGroupsInPandas", "PythonMapInArrow", "MapInArrow")


class SparkStatus:
    """Reads jobs, stages and SQL executions newer than the last ``mark``,
    and counts the bytes of the Python broadcasts made since then."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_mark = -1
        self._exec_mark = -1
        self.broadcast_bytes = 0
        self._watch_broadcasts()

    def _watch_broadcasts(self) -> None:
        """Wrap this context's ``broadcast``: the engine ships its tile dict
        to the Python workers that way, pickled into a driver-side file
        whose size is what every executor fetches."""
        inner = self._sc.broadcast

        def broadcast(value):
            b = inner(value)
            self.broadcast_bytes += os.path.getsize(b._path)
            return b

        self._sc.broadcast = broadcast

    def _flush(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self.broadcast_bytes = 0
        self._flush()
        ids = [j.jobId() for j in _iter(self._jobs())]
        self._job_mark = max(ids, default=-1)
        execs = [e.executionId() for e in _iter(self._sql.executionsList())]
        self._exec_mark = max(execs, default=-1)

    def _jobs(self):
        return self._store.jobsList(self._sc._gateway.jvm.java.util.ArrayList())

    def jobs_since_mark(self) -> list[dict]:
        """Jobs launched since ``mark``: id, interval and stage ids."""
        self._flush()
        out = []
        for j in _iter(self._jobs()):
            if j.jobId() <= self._job_mark:
                continue
            out.append({"id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                        "end": _opt_ms(j.completionTime()),
                        "stage_ids": [int(s) for s in _iter(j.stageIds())]})
        return sorted(out, key=lambda j: j["id"])

    def stages(self, stage_ids: set[int]) -> dict[int, dict]:
        """Completed attempts of ``stage_ids``; skipped stages are absent."""
        defaults = [getattr(self._store, f"stageList$default${i}")()
                    for i in (2, 3, 4, 5)]
        out = {}
        for s in _iter(self._store.stageList(
                self._sc._gateway.jvm.java.util.ArrayList(), *defaults)):
            sid = s.stageId()
            if sid not in stage_ids or s.status().toString() != "COMPLETE":
                continue
            out[sid] = {
                "attempt": s.attemptId(),
                "start": _opt_ms(s.submissionTime()),
                "end": _opt_ms(s.completionTime()),
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "gc_ms": s.jvmGcTime(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "fetch_wait_ms": s.shuffleFetchWaitTime(),
                "spill_bytes": s.diskBytesSpilled(),
            }
        return out

    def task_run_ms(self, stage_id: int, attempt: int) -> list[int]:
        return [t.taskMetrics().get().executorRunTime()
                for t in _iter(self._store.taskList(stage_id, attempt, 1 << 20))
                if t.taskMetrics().isDefined()]

    def plan_nodes_since_mark(self) -> dict:
        """From the SQL executions since ``mark``: the Python operators with
        their metrics (totals, plus the stage of the slowest task), and the
        stages that run the coordinate regex.  A regex ``Generate`` is not
        whole-stage-codegen'd, so its stage is read off the metrics of the
        codegen cluster it feeds or is fed by."""
        self._flush()
        python, regex_stages = [], set()
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)

            def metrics_of(node):
                metrics, stage = {}, None
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()], st = parse_sql_metric(v.get())
                        stage = stage or st
                return metrics, stage

            cluster_of, regex_ids = {}, []
            for node in _iter(graph.allNodes()):
                name = node.name()
                if name.startswith("WholeStageCodegen"):
                    for child in _iter(node.nodes()):
                        cluster_of[child.id()] = node
                elif name in PYTHON_NODES:
                    metrics, stage = metrics_of(node)
                    # a salted cogroup groups on (tile_key, _salt)
                    python.append({"execution": eid, "node": name,
                                   "metrics": metrics, "stage": stage,
                                   "salted": "_salt#" in node.desc()})
                elif name == "Generate" and "regexp_extract_all" in node.desc():
                    regex_ids.append(node.id())
            for rid in regex_ids:
                for edge in _iter(graph.edges()):
                    other = (edge.toId() if edge.fromId() == rid
                             else edge.fromId() if edge.toId() == rid else None)
                    cluster = cluster_of.get(other)
                    if cluster is not None:
                        _, stage = metrics_of(cluster)
                        if stage:
                            regex_stages.add(stage[0])
                            break
        return {"python": python, "regex_stages": sorted(regex_stages)}


# --- process memory from /proc (psutil is not installed) --------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(p.name)] = (ppid, comm)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_processes(root_pid: int) -> dict[str, list[int]]:
    """The driver JVM and the PySpark Python workers descending from
    ``root_pid``.  Workers are Python processes whose parent is the
    PySpark daemon (itself a Python child of the JVM)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    jvms = [p for p in children.get(root_pid, []) if table[p][1] == "java"]
    workers = []
    for jvm in jvms:
        for daemon in children.get(jvm, []):
            if table[daemon][1].startswith("python"):
                workers += [w for w in children.get(daemon, [])
                            if table[w][1].startswith("python")]
    return {"jvm": jvms, "workers": workers}


def memory_mb(root_pid: int) -> dict[str, float]:
    procs = spark_processes(root_pid)
    if not procs["jvm"] or not procs["workers"]:
        raise RuntimeError(f"no driver JVM or Python workers under pid {root_pid}: {procs}")
    hwm = [_status_kb(p, "VmHWM") for p in procs["workers"]]
    return {
        "peak_worker_rss_mb": max(hwm, default=0) / 1024,
        "workers_rss_sum_mb": sum(_status_kb(p, "VmRSS") for p in procs["workers"]) / 1024,
        "driver_jvm_peak_rss_mb": max((_status_kb(p, "VmHWM") for p in procs["jvm"]),
                                      default=0) / 1024,
        "workers": len(procs["workers"]),
    }
