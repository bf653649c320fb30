"""Benchmark-side spans and Spark event-log accounting.

Spans are kept in memory (workload pass -> call -> superstep) and written as
JSONL once the run ends. Spark jobs come from Spark's own event log, turned on
through ``get_spark(extra_conf=...)``, and are attached to the call whose job
group they carry. Jobs without that group (work a kernel starts on a
background thread) are attached by submission time and flagged
``in_group: false``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metrics of the Arrow/Python operators (mapInPandas, pandas UDFs), by
# the names Spark gives them in the task accumulables
PY_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans; one client, so one open span per level."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), parent, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def superstep(self) -> None:
        """Mark a superstep boundary inside the innermost open span: the
        superstep runs from the previous boundary (or the span's start) to
        now. Called from the kernels' public progress callbacks."""
        call = self._open[-1]
        done = [s for s in self.spans if s.parent == call.id and s.name == "superstep"]
        start = done[-1].end if done else call.start
        self.spans.append(
            Span(len(self.spans), call.id, "superstep", start, time.time(), {"index": len(done)})
        )

    def supersteps(self, call: Span) -> list[float]:
        return [
            s.end - s.start
            for s in self.spans
            if s.parent == call.id and s.name == "superstep"
        ]


def read_event_log(event_dir: str) -> dict[int, dict]:
    """Jobs of the (single, non-rolling) event log under ``event_dir``, with
    the task metrics of every stage they ran summed per job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    jobs[jid] = {
                        "job_id": jid,
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": len(e["Stage IDs"]),
                        "tasks": 0,
                        "task_cpu_s": 0.0,
                        "shuffle_bytes": 0,
                        "bytes_written": 0,
                        "python_ms": 0,
                        "arrow_in_bytes": 0,
                        "arrow_out_bytes": 0,
                    }
                    for sid in e["Stage IDs"]:
                        # a stage shared by later jobs runs its tasks in
                        # the first one; later jobs skip it
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
    for e in tasks:
        jid = stage_job.get(e["Stage ID"])
        if jid is None:
            continue
        job = jobs[jid]
        job["tasks"] += 1
        tm = e.get("Task Metrics") or {}
        job["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        job["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        job["bytes_written"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            key = PY_METRICS.get(acc.get("Name"))
            if key is not None:
                job[key] += int(acc.get("Update") or 0)
    for job in jobs.values():
        if job["end"] is None:  # never finished (cancelled run): count to submit
            job["end"] = job["submit"]
    return jobs


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_jobs(tracer: Tracer, calls: list[Span], jobs: dict[int, dict]) -> None:
    """Attach each job to its call (by job group, else by submission time
    inside the call's window) and store the call's accounting in its attrs:
    ``driver_s`` is the part of the call's wall with no job running."""
    by_group = {c.attrs["group"]: c for c in calls if c.attrs.get("group")}
    owned: dict[int, list[dict]] = {c.id: [] for c in calls}
    for job in sorted(jobs.values(), key=lambda j: j["job_id"]):
        call = by_group.get(job["group"])
        in_group = call is not None
        if call is None:
            call = next(
                (c for c in calls if c.start <= job["submit"] <= c.end), None
            )
        if call is None:
            continue
        owned[call.id].append(job)
        # parent: the superstep span open at submission, else the call
        parent = next(
            (
                s.id
                for s in tracer.spans
                if s.parent == call.id
                and s.name == "superstep"
                and s.start <= job["submit"] <= s.end
            ),
            call.id,
        )
        tracer.spans.append(
            Span(
                len(tracer.spans), parent, "job", job["submit"], job["end"],
                {k: v for k, v in job.items() if k not in ("submit", "end")}
                | {"in_group": in_group},
            )
        )
    for call in calls:
        mine = owned[call.id]
        active = _covered(
            [
                (max(j["submit"], call.start), min(j["end"], call.end))
                for j in jobs.values()
                if j["submit"] < call.end and j["end"] > call.start
            ]
        )
        wall = call.end - call.start
        call.attrs.update(
            driver_s=max(0.0, wall - active),
            job_active_s=active,
            jobs=len(mine),
            jobs_outside_group=sum(1 for j in mine if j["group"] != call.attrs.get("group")),
            task_cpu_s=sum(j["task_cpu_s"] for j in mine),
            shuffle_bytes=sum(j["shuffle_bytes"] for j in mine),
            bytes_written=sum(j["bytes_written"] for j in mine),
            python_s=sum(j["python_ms"] for j in mine) / 1000.0,
            arrow_in_bytes=sum(j["arrow_in_bytes"] for j in mine),
            arrow_out_bytes=sum(j["arrow_out_bytes"] for j in mine),
        )


def write_jsonl(path: str, tracer: Tracer, extra: dict) -> None:
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s.__dict__, default=str) + "\n")
        fh.write(json.dumps({"per_layer": extra}) + "\n")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
