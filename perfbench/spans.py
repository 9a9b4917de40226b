"""Spans around the engine's public calls, and what the traced run reads.

A span records wall time and, when asked, the CPU seconds the driver
Python, the JVM and its Python workers used meanwhile (from /proc). In
a traced run it also tags the Spark jobs it starts with a job group, so
that stage and SQL metrics can be read back per span from the local
Spark UI's REST API after the measured phases end. With tracing off a
span does nothing.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """This process and all its descendants (the JVM, the PySpark
    daemon and its Python workers)."""
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of the processes, including reaped
    children's."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_peak_rss(peaks: dict[int, int]) -> None:
    """Fold each live process's peak resident set (VmHWM, KiB) into
    peaks."""
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks[p] = max(peaks.get(p, 0), int(line.split()[1]))
                        break
        except OSError:
            continue


@dataclass
class Span:
    layer: str
    group: str
    wall_s: float = 0.0
    cpu_s: float | None = None


@dataclass
class Tracer:
    sc: object | None = None  # SparkContext; None = tracing off
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0

    @property
    def on(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, layer: str, key: str = "", cpu: bool = False):
        if not self.on:
            yield None
            return
        t0 = time.perf_counter()
        group = f"{layer}:{key}" if key else layer
        self.sc.setJobGroup(group, group)
        pids = process_tree() if cpu else []
        cpu0 = tree_cpu_s(pids) if cpu else 0.0
        sp = Span(layer, group)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            if cpu:
                sp.cpu_s = tree_cpu_s(process_tree()) - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            sp.wall_s = t2 - t1
            self.spans.append(sp)
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def sql_metric_value(text: str) -> float:
    """'12.5 MiB', '544,265' or 'total (min, med, max ...)\\n6.1 s (...)'
    -> a number (bytes, rows or seconds)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*(\w+)?", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _UNITS:
        return v * _UNITS[unit]
    return v * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit, 1.0)


class SparkRest:
    """Reads jobs, stages and SQL executions of this application from
    the local Spark UI once the measured phases are over."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )
        self.jobs = self._get("/jobs")
        self.stages = {s["stageId"]: s for s in self._get("/stages")}
        self.sql = self._get("/sql?details=true&planDescription=false&length=100000")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def jobs_of(self, group: str) -> list[dict]:
        return sorted(
            (j for j in self.jobs if j.get("jobGroup") == group),
            key=lambda j: j["jobId"],
        )

    def stages_of(self, group: str) -> list[dict]:
        ids = {i for j in self.jobs_of(group) for i in j["stageIds"]}
        return [self.stages[i] for i in ids if i in self.stages]

    def stage_sum(self, group: str, key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.stages_of(group)))

    def nodes_of(self, group: str, node_name: str) -> list[dict]:
        jobs = {j["jobId"] for j in self.jobs_of(group)}
        return [
            n
            for e in self.sql
            if jobs & set(e.get("successJobIds", []))
            for n in e["nodes"]
            if n["nodeName"] == node_name
        ]


def job_ms(job: dict) -> float:
    """Submission-to-completion time of one Spark job, in ms."""
    from datetime import datetime

    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    a = datetime.strptime(job["submissionTime"], fmt)
    b = datetime.strptime(job["completionTime"], fmt)
    return (b - a).total_seconds() * 1000.0
