"""Spans around the benchmark's calls into the package, and Spark's own
job/stage metrics attributed to them.

Every span is recorded in memory (name, layer, start, end, parent,
cycle) whether or not tracing is on; untraced runs use them only to
count operations. With tracing on, each span also runs its calls under
a Spark job group of its own, and at the end the stage task metrics are read from
the UI's REST endpoint and summed per span through those job groups.
Micro-batch jobs of a streaming query carry the query's run id as their
group; ``adopt_group`` maps such a group onto a span.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

STAGE_FIELDS = {
    # REST stage field -> (per-layer suffix, scale)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
}


class Tracer:
    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self.cycle = -1
        self._stack: list[dict] = []
        self._sc = None
        self.groups: dict[str, int] = {}

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "parent": parent["id"] if parent else None,
              "cycle": self.cycle, **attrs}
        self.spans.append(sp)
        if self.traced and self._sc is not None:
            group = sp["group"] = f"span-{sp['id']}"
            self.groups[group] = sp["id"]
            self._sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall"] = time.perf_counter() - t0
            sp["end"] = time.time()
            self._stack.pop()
            if self.traced and self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def adopt_group(self, group: str, sp: dict) -> None:
        """Attribute jobs of job group ``group`` to span ``sp``."""
        sp["adopted_group"] = group
        self.groups[group] = sp["id"]

    def ops(self, kind: str, warm: bool = True) -> list[dict]:
        return [s for s in self.spans if s.get("op") == kind
                and (s["cycle"] > 0 if warm else s["cycle"] == 0)]


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def attach_spark_metrics(tracer: Tracer, spark) -> None:
    """Fill each span with ``jobs``, ``job_intervals`` and the summed
    stage metrics of the jobs run under its job group."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    # the status store is fed by the listener bus: let it drain
    deadline = time.time() + 20
    while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.2)
    time.sleep(1.0)
    jobs = _get(f"{api}/jobs")
    stages = {s["stageId"]: s for s in _get(f"{api}/stages")
              if s.get("status") in ("COMPLETE", "FAILED")}
    owner: dict[int, int] = {}
    by_id = {s["id"]: s for s in tracer.spans}
    for sp in tracer.spans:
        sp["jobs"] = 0
        sp["job_intervals"] = []
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sid = tracer.groups.get(job.get("jobGroup") or "")
        if sid is None:
            continue
        sp = by_id[sid]
        sp["jobs"] += 1
        lo, hi = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
        if lo is not None and hi is not None:
            sp["job_intervals"].append((lo, hi))
        for st in job.get("stageIds", []):
            owner.setdefault(st, sid)
    for st, sid in owner.items():
        data = stages.get(st)
        if data is None:
            continue
        sp = by_id[sid]
        for field, (suffix, scale) in STAGE_FIELDS.items():
            sp[suffix] = sp.get(suffix, 0.0) + (data.get(field) or 0) * scale
        sp["stages"] = sp.get("stages", 0) + 1
        sp["tasks"] = sp.get("tasks", 0) + (data.get("numCompleteTasks") or 0)


def driver_only_s(sp: dict, descendants: list[dict]) -> float:
    """Span wall during which none of its (or its descendants') jobs ran."""
    iv = sorted(i for s in [sp, *descendants] for i in s.get("job_intervals", []))
    busy, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        lo, hi = max(lo, sp["start"]), min(hi, sp["end"])
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return max(sp["wall"] - busy, 0.0)


def descendants(spans: list[dict], sp: dict) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(kids.get(sp["id"], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
