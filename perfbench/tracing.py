"""Spans kept in memory for the traced run, and the fold of Spark's event log
onto them.

Every span's id is set as the Spark job group while the span is the
innermost open one, so each job in the event log belongs to exactly one
span; a span's own jobs are those of its group, and its totals include its
children's.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings the traced run adds through get_spark(extra_conf=...):
    one plain-text log file per application, so the fold needs no codec."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent, run id) around the calls the
    benchmark makes. Disabled, it only runs the body."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the session whose jobs the spans should label."""
        self._sc = spark.sparkContext

    def _label(self, span: Span | None) -> None:
        if self._sc is None or not self.enabled:
            return
        if span is None:
            self._sc.setJobGroup(f"{self.run_id}/-", "untraced", False)
        else:
            self._sc.setJobGroup(span.id, span.name, False)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(
            id=f"{self.run_id}/{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._open.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._label(self._open[-1] if self._open else None)

    def children(self, span_id: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its children cover."""
        return span.seconds - sum(c.seconds for c in self.children(span.id))

    def subtree(self, span_id: str, skip: str | None = None) -> list[str]:
        """Ids of the span and its descendants, without spans named ``skip``
        and their descendants."""
        out = [span_id]
        for c in self.children(span_id):
            if c.name != skip:
                out.extend(self.subtree(c.id, skip))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "run": self.run_id,
                        "start": s.start,
                        "end": s.end,
                        "self_s": self.self_seconds(s),
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                fh,
                indent=1,
            )


# Task metrics folded per job group: (event-log path, scale to the unit).
_TASK_METRICS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "input_records": (("Input Metrics", "Records Read"), 1),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
}
GROUP_KEYS = ("jobs", "stages", "tasks", *_TASK_METRICS, "python_eval_s", "python_rows")


def _python_row_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row counters of Python evaluation nodes
    (every node that reports 'time to run Python workers')."""
    metrics = plan.get("metrics", [])
    if any(m["name"] == "time to run Python workers" for m in metrics):
        out.update(m["accumulatorId"] for m in metrics if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, completed stages, tasks, executor run / CPU / GC
    seconds, input bytes and records, shuffle bytes written, bytes spilled,
    and Python UDF evaluation seconds and rows (from the SQL metrics of the
    nodes that run Python workers)."""
    group_of_job: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    python_rows: set[int] = set()
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_KEYS, 0))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:
                _python_row_ids(ev["sparkPlanInfo"], python_rows)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "-")
                group_of_job[ev["Job ID"]] = group
                for sid in ev["Stage IDs"]:
                    job_of_stage[sid] = ev["Job ID"]
                groups[group]["jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                job = job_of_stage.get(ev["Stage Info"]["Stage ID"])
                groups[group_of_job.get(job, "-")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[group_of_job.get(job_of_stage.get(ev["Stage ID"]), "-")]
                g["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                for key, (where, scale) in _TASK_METRICS.items():
                    v = tm
                    for k in where:
                        v = v.get(k, 0) if isinstance(v, dict) else 0
                    g[key] += float(v) * scale
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        g["python_eval_s"] += float(acc.get("Update", 0)) * 1e-3
                    elif acc.get("ID") in python_rows:
                        g["python_rows"] += float(acc.get("Update", 0))
    return dict(groups)


def sum_groups(folded: dict[str, dict[str, float]], ids) -> dict[str, float]:
    out = dict.fromkeys(GROUP_KEYS, 0.0)
    for gid in ids:
        for k, v in folded.get(gid, {}).items():
            out[k] += v
    return out


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path
