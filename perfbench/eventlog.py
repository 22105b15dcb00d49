"""Read a Spark JSON event log into per-operator and per-task numbers.

The session writes the log with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and rolling off, so each application is
one uncompressed file of JSON lines.  What this module uses:

* ``SparkListenerSQLExecutionStart`` / ``...SQLAdaptiveExecutionUpdate``:
  the physical plan tree of each SQL execution (the last adaptive update is
  the final plan); every plan node lists the accumulator ids of its metrics;
* ``SparkListenerTaskEnd``: per-task accumulator updates (the SQL metrics)
  and task metrics (run and CPU time, GC, spill, peak execution memory);
* ``SparkListenerDriverAccumUpdates``: SQL metrics set on the driver;
* ``SparkListenerJobStart`` / ``JobEnd``: which jobs belong to which SQL
  execution, and when they ran.

Executions are grouped by their description: the benchmark sets a label
with ``SparkContext.setJobDescription`` before each action it traces; an
unlabelled action is described by its call site (``"collect at ...py:53"``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Node:
    name: str
    metrics: dict[str, int]  # metric name -> accumulator id
    children: list["Node"]
    location: str = ""

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def find(self, name: str) -> list["Node"]:
        return [n for n in self.walk() if n.name.strip() == name]


@dataclass
class Execution:
    id: int
    description: str
    plan: Node
    jobs: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    launch_ms: float
    finish_ms: float
    shuffle_write_bytes: float
    spill_bytes: float
    peak_mem: float
    accums: set[int]


def _node(info: dict) -> Node:
    return Node(
        info["nodeName"],
        {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        [_node(c) for c in info.get("children", [])],
        str(info.get("metadata", {}).get("Location", "")),
    )


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    def __init__(self, path: str):
        self.executions: dict[int, Execution] = {}
        self.accum: dict[int, float] = {}
        self.tasks: list[Task] = []
        self.job_stages: dict[int, list[int]] = {}
        self.job_span: dict[int, list[float]] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        """The one application log written under ``log_dir``."""
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        return cls(files[0])

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = Execution(
                e["executionId"], e.get("description", ""), _node(e["sparkPlanInfo"])
            )
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex.plan = _node(e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, v in e["accumUpdates"]:
                self.accum[acc_id] = self.accum.get(acc_id, 0.0) + _num(v)
        elif kind == "SparkListenerJobStart":
            job = e["Job ID"]
            self.job_stages[job] = list(e.get("Stage IDs", []))
            self.job_span[job] = [e.get("Submission Time", 0), e.get("Submission Time", 0)]
            ex_id = e.get("Properties", {}).get("spark.sql.execution.id")
            if ex_id is not None and int(ex_id) in self.executions:
                self.executions[int(ex_id)].jobs.append(job)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.job_span:
                self.job_span[e["Job ID"]][1] = e.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            accums = set()
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    accums.add(a["ID"])
                    self.accum[a["ID"]] = self.accum.get(a["ID"], 0.0) + _num(a.get("Update"))
            self.tasks.append(
                Task(
                    stage=e["Stage ID"],
                    run_ms=_num(m.get("Executor Run Time")),
                    cpu_ns=_num(m.get("Executor CPU Time")),
                    gc_ms=_num(m.get("JVM GC Time")),
                    launch_ms=_num(info.get("Launch Time")),
                    finish_ms=_num(info.get("Finish Time")),
                    shuffle_write_bytes=_num(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
                    ),
                    spill_bytes=_num(m.get("Disk Bytes Spilled")),
                    peak_mem=_num(m.get("Peak Execution Memory")),
                    accums=accums,
                )
            )

    # -- queries ------------------------------------------------------------

    def select(self, pred) -> list[Execution]:
        """Executions whose description satisfies ``pred``, in id order."""
        return [self.executions[i] for i in sorted(self.executions)
                if pred(self.executions[i].description)]

    def value(self, node: Node, metric: str) -> float:
        acc = node.metrics.get(metric)
        return self.accum.get(acc, 0.0) if acc is not None else 0.0

    def total(self, execs: list[Execution], node_name: str, metric: str) -> float:
        return sum(self.value(n, metric) for ex in execs for n in ex.plan.find(node_name))

    def stages(self, execs: list[Execution]) -> set[int]:
        return {s for ex in execs for j in ex.jobs for s in self.job_stages.get(j, [])}

    def tasks_of(self, execs: list[Execution]) -> list[Task]:
        stages = self.stages(execs)
        return [t for t in self.tasks if t.stage in stages]

    def job_seconds(self, execs: list[Execution]) -> float:
        """Wall seconds covered by the executions' jobs (overlaps merged)."""
        spans = sorted(self.job_span[j] for ex in execs for j in ex.jobs if j in self.job_span)
        covered, end = 0.0, float("-inf")
        for s, e in spans:
            if e > end:
                covered += e - max(s, end)
                end = e
        return covered / 1000.0

    def task_totals(self, execs: list[Execution], op_s: list[float], cores: int) -> dict:
        """The ``spark.*`` per-layer numbers over the executions' tasks, per
        operation; ``op_s`` holds the wall time of each operation."""
        ts = self.tasks_of(execs)
        n, wall_s = len(op_s), sum(op_s)
        cpu_s = sum(t.cpu_ns for t in ts) / 1e9
        run_s = sum(t.run_ms for t in ts) / 1e3
        return {
            "spark.tasks": len(ts) / n,
            "spark.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.task_wait_s": max(0.0, run_s - cpu_s) / n,
            "spark.gc_s": sum(t.gc_ms for t in ts) / 1e3 / n,
            "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in ts) / n,
            "spark.spill_bytes": sum(t.spill_bytes for t in ts) / n,
            "spark.peak_exec_mem_mb": max((t.peak_mem for t in ts), default=0.0) / 2**20,
        }

    def stage_skew(self, node: Node, metric: str) -> float:
        """max / median task time of the stage(s) that ran ``node``."""
        acc = node.metrics.get(metric)
        times = [t.run_ms for t in self.tasks if acc in t.accums]
        if not times:
            return 0.0
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


def first_below(node: Node, name: str) -> Node | None:
    """The first ``name`` node under ``node`` (breadth-first)."""
    todo = list(node.children)
    while todo:
        n = todo.pop(0)
        if n.name.strip() == name:
            return n
        todo.extend(n.children)
    return None
