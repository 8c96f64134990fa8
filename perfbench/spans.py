"""Tracing for the benchmark's separate traced run.

Spans are recorded by the benchmark around its own calls into each layer;
they stay in memory and are written as one JSON file when the run ends.
Engine metrics come from the Spark event log, attributed to operations and
layer prefixes through the job group the benchmark sets before each action,
and from the SQL metrics of an executed plan.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JError


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.values: dict[str, list] = {}

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def record(self, name: str, value) -> None:
        self.values.setdefault(name, []).append(value)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: Path, extra: dict) -> None:
        path.write_text(
            json.dumps({"spans": self.spans, "values": self.values, **extra}, indent=1)
        )


def _plan_children(node) -> list:
    kids = node.children()
    out = [kids.apply(i) for i in range(kids.size())]
    if not out:
        # the adaptive root and query stages are leaves that wrap a plan
        for wrapped in ("executedPlan", "plan"):
            try:
                return [getattr(node, wrapped)()]
            except Py4JError:
                pass
    return out


def plan_output_rows(df, node_name: str, columns: list[str]) -> list[int]:
    """The ``numOutputRows`` SQL metric of every ``node_name`` operator
    whose output columns are ``columns``, in the executed plan of ``df``
    (read after an action on ``df`` ran)."""
    found = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        out = node.output()
        names = [out.apply(i).name() for i in range(out.size())]
        if node.nodeName() == node_name and names == columns:
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                found.append(int(metric.get().value()))
        stack.extend(_plan_children(node))
    return found


def _empty() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "stage_task_ms": {},
    }


def engine_metrics(event_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle bytes written, bytes spilled to
    disk, executor run/CPU/GC time and the task skew (max over median task
    time in the stage with the longest total task time), summed over every
    event log in ``event_dir``. Each application's stage ids are scoped to
    its own log file."""
    groups: dict[str, dict] = {}
    # skip hidden files: the local file system writes .crc checksums beside logs
    logs = (p for p in event_dir.iterdir() if p.is_file() and not p.name.startswith("."))
    for log in sorted(logs):
        stage_group: dict[int, str] = {}
        with log.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = groups.setdefault(group, _empty())
                    g["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups[group]
                    g["tasks"] += 1
                    g["executor_run_s"] += m["Executor Run Time"] / 1e3
                    g["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    g["gc_s"] += m["JVM GC Time"] / 1e3
                    g["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
                    g["shuffle_write_mb"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                    )
                    info = ev["Task Info"]
                    key = f"{log.name}:{ev['Stage ID']}"
                    g["stage_task_ms"].setdefault(key, []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    for g in groups.values():
        stages = g.pop("stage_task_ms")
        skew = 1.0
        if stages:
            longest = max(stages.values(), key=sum)
            med = statistics.median(longest)
            skew = max(longest) / med if med > 0 else 1.0
        g["task_skew"] = skew
    return groups

