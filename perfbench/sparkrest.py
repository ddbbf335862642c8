"""Spark's own stage and SQL-operator metrics, read from the driver UI's REST API.

Every pipeline call the benchmark makes runs under its own ``setJobGroup``
tag, so the jobs, stages and SQL executions of one call can be picked out
of ``/api/v1/applications/<app>/{jobs,stages,sql}`` after the fact. The
parsing functions here take the decoded JSON and nothing else, so they can be
checked against canned responses without a running Spark.
"""

from __future__ import annotations

import json
import re
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

_UNITS = {
    # sizes (Utils.bytesToString)
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50, "EiB": 2.0**60,
    # durations (Utils.msDurationToString), in seconds
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_MAX_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)\)?\s*$")


def parse_metric(value: str) -> tuple[float, int | None]:
    """One SQL-metric display string → (total in base units, stage id).

    Base units are bytes, seconds and plain counts. Task-level metrics read
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, <med>, <max>
    (stage S.A: task T))``; the stage id is taken from that max annotation,
    and is None for driver-side metrics.
    """
    stage = None
    text = value.strip()
    if text.startswith("total ("):
        text = text.split("\n", 1)[1] if "\n" in text else ""
        m = _MAX_STAGE.search(text)
        if m:
            stage = int(m.group(1))
    m = _NUM_UNIT.match(text)
    if not m:
        raise ValueError(f"unparsable SQL metric value: {value!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric value: {value!r}")
    return number * _UNITS.get(unit, 1.0), stage


def parse_time(stamp: str | None) -> float | None:
    """REST timestamp ``2026-10-16T22:50:22.013GMT`` → epoch seconds."""
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Node:
    """One physical operator of an executed plan, with its parsed metrics."""

    node_id: int
    name: str
    metrics: dict[str, tuple[float, int | None]]

    def total(self, metric: str) -> float:
        return self.metrics.get(metric, (0.0, None))[0]

    def stage(self) -> int | None:
        """The stage this operator's task metrics were recorded in."""
        for _, stage in self.metrics.values():
            if stage is not None:
                return stage
        return None


@dataclass
class Execution:
    """One SQL execution: its operators and the edges between them."""

    exec_id: int
    job_ids: set[int]
    nodes: dict[int, Node]
    inputs: dict[int, list[int]] = field(default_factory=dict)  # node → nodes feeding it

    def named(self, name: str) -> list[Node]:
        return [n for n in self.nodes.values() if n.name == name]

    def upstream(self, node_id: int) -> list[Node]:
        """Every operator that feeds ``node_id``, transitively."""
        seen: set[int] = set()
        todo = list(self.inputs.get(node_id, []))
        while todo:
            nid = todo.pop()
            if nid not in seen:
                seen.add(nid)
                todo.extend(self.inputs.get(nid, []))
        return [self.nodes[i] for i in sorted(seen) if i in self.nodes]


def parse_executions(sql_json: list[dict]) -> list[Execution]:
    out = []
    for e in sql_json:
        nodes = {}
        for n in e.get("nodes", []):
            metrics = {m["name"]: parse_metric(m["value"]) for m in n.get("metrics", [])}
            nodes[n["nodeId"]] = Node(n["nodeId"], n["nodeName"], metrics)
        inputs: dict[int, list[int]] = {}
        for edge in e.get("edges", []):
            inputs.setdefault(edge["toId"], []).append(edge["fromId"])
        jobs = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", [])) | set(
            e.get("runningJobIds", [])
        )
        out.append(Execution(e["id"], jobs, nodes, inputs))
    return out


@dataclass
class Stage:
    stage_id: int
    status: str
    num_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    start: float | None
    end: float | None
    name: str


def parse_stages(stages_json: list[dict]) -> dict[int, Stage]:
    """Stage list → latest attempt per stage id."""
    out: dict[int, Stage] = {}
    for s in sorted(stages_json, key=lambda s: (s["stageId"], s.get("attemptId", 0))):
        out[s["stageId"]] = Stage(
            stage_id=s["stageId"],
            status=s["status"],
            num_tasks=s.get("numCompleteTasks", s.get("numTasks", 0)),
            run_s=s.get("executorRunTime", 0) / 1000.0,
            cpu_s=s.get("executorCpuTime", 0) / 1e9,
            gc_s=s.get("jvmGcTime", 0) / 1000.0,
            shuffle_write_bytes=s.get("shuffleWriteBytes", 0),
            spill_bytes=s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0),
            start=parse_time(s.get("submissionTime")),
            end=parse_time(s.get("completionTime")),
            name=s.get("name", ""),
        )
    return out


def jobs_by_group(jobs_json: list[dict]) -> dict[str, list[dict]]:
    groups: dict[str, list[dict]] = {}
    for j in jobs_json:
        groups.setdefault(j.get("jobGroup") or "", []).append(j)
    return groups


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Rest:
    """Thin reader over one application's REST endpoints."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def snapshot(self, sql: bool = True) -> tuple[dict[str, list[dict]], dict[int, Stage], list[Execution]]:
        """Jobs by group, stages by id and, if ``sql``, the SQL executions."""
        jobs = jobs_by_group(self.get("jobs"))
        stages = parse_stages(self.get("stages?details=false"))
        if not sql:
            return jobs, stages, []
        execs = parse_executions(self.get("sql?details=true&planDescription=false&offset=0&length=100000"))
        return jobs, stages, execs

    def task_skew(self, stage_id: int) -> float:
        """max ÷ median task run time of a stage's latest attempt."""
        attempts = self.get(f"stages/{stage_id}")
        attempt = max(a.get("attemptId", 0) for a in attempts)
        summary = self.get(f"stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0")
        med, top = summary["executorRunTime"]
        return top / med if med > 0 else 1.0

    def storage_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("storage/rdd"))
