"""Traced-run tooling: a span recorder and a Spark event-log stage parser.

Spans are recorded in the benchmark's own process around each call into
the archive's public functions. They are held in memory and written once,
at the end of the run. Each span also becomes the Spark job description of
the jobs its thread starts, so stages from the event log can be attributed
to the span that caused them. Jobs that Structured Streaming runs carry the
stream's own description, which names the micro-batch (``batch = N``).
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

# accumulable name -> (stage field, scale to seconds or bytes)
ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
}
# SQL metrics the driver sets while it plans a scan; they reach the event
# log as SparkListenerDriverAccumUpdates of the query's execution
DRIVER_METRICS = {"number of files read": "files_read"}
FIELDS = sorted({f for f, _ in ACCUMULABLES.values()} | set(DRIVER_METRICS.values()))
SPAN_TAG = re.compile(r"span:(\d+)")
BATCH_TAG = re.compile(r"batch = (\d+)")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # time.monotonic()
    end: float | None = None
    epoch_start: float = 0.0  # time.time(), to line up with the event log
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    """In-memory spans. ``enabled=False`` records nothing and sets no job
    descriptions, so the untraced run pays only for a context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.sc = None  # SparkContext whose job descriptions carry span ids

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), name, stack[-1].id if stack else None,
                 time.monotonic(), epoch_start=time.time(), attrs=attrs)
        self.spans.append(s)
        stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            stack.pop()
            self._describe(stack[-1] if stack else None)

    def _describe(self, s: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"span:{s.id}:{s.name}" if s else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def self_ms(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id and c.end)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.ms - covered * 1000.0

    def dump(self, path: Path, stages: list[dict]) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        out = {"spans": [{**asdict(s), "self_ms": self.self_ms(s)} for s in self.spans if s.end],
               "stages": stages}
        path.write_text(json.dumps(out, indent=1, default=str))


def read_event_logs(evdir: Path) -> list[dict]:
    """One record per completed stage: its job, the job's description
    (span id or streaming batch id) and the accumulables above."""
    stage_job: dict[tuple, int] = {}
    job_desc: dict[tuple, str] = {}
    job_exec: dict[tuple, int] = {}  # job -> SQL execution id
    driver_acc: dict[tuple, str] = {}  # accumulator id -> DRIVER_METRICS field
    exec_metrics: dict[tuple, dict] = {}  # execution -> field -> value
    stages: list[dict] = []
    # one entry per application (a file, or a directory of rolled files),
    # named after the application id, which sorts by start time
    apps = sorted(evdir.iterdir(), key=lambda q: q.name.split("local-")[-1])
    files = [(app, f) for app, e in enumerate(apps)
             for f in ([e] if e.is_file() else sorted(e.iterdir()))]
    for app, p in files:
        with p.open() as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a log cut short when its context stopped
                kind = ev.get("Event") or ""
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_desc[(app, job)] = props.get("spark.job.description") or ""
                    if props.get("spark.sql.execution.id") is not None:
                        job_exec[(app, job)] = int(props["spark.sql.execution.id"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = job
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    todo = [ev.get("sparkPlanInfo") or {}]
                    while todo:
                        node = todo.pop()
                        todo += node.get("children", [])
                        for m in node.get("metrics", []):
                            if m.get("name") in DRIVER_METRICS:
                                driver_acc[(app, m["accumulatorId"])] = DRIVER_METRICS[m["name"]]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    per = exec_metrics.setdefault((app, ev["executionId"]), {})
                    for acc_id, value in ev.get("accumUpdates", []):
                        field_name = driver_acc.get((app, acc_id))
                        if field_name:
                            per[field_name] = per.get(field_name, 0) + value
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    rec = {"app": app, "stage": si["Stage ID"], "tasks": si.get("Number of Tasks", 0),
                           "name": si.get("Stage Name", ""),
                           "submit_s": (si.get("Submission Time") or 0) / 1000.0,
                           "complete_s": (si.get("Completion Time") or 0) / 1000.0}
                    for v in FIELDS:
                        rec[v] = 0
                    for acc in si.get("Accumulables", []):
                        hit = ACCUMULABLES.get(acc.get("Name"))
                        if hit:
                            try:
                                rec[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                            except (TypeError, ValueError):
                                pass
                    stages.append(rec)
    # a query's driver metrics go to the first stage of its first job
    charged: set = set()
    for rec in sorted(stages, key=lambda r: (r["app"], r["stage"])):
        job = stage_job.get((rec["app"], rec["stage"]))
        ex = job_exec.get((rec["app"], job))
        if ex is not None and (rec["app"], ex) not in charged:
            charged.add((rec["app"], ex))
            rec.update(exec_metrics.get((rec["app"], ex), {}))
    for rec in stages:
        job = stage_job.get((rec["app"], rec["stage"]))
        desc = job_desc.get((rec["app"], job), "")
        rec["job"] = job
        m, b = SPAN_TAG.search(desc), BATCH_TAG.search(desc)
        rec["span"] = int(m.group(1)) if m else None
        rec["batch"] = int(b.group(1)) if b and not m else None
    return stages


def totals(stages: list[dict], keep=lambda st: True) -> dict:
    """Sum of each stage field, plus the number of distinct jobs."""
    sel = [st for st in stages if keep(st)]
    out = {f: sum(st[f] for st in sel) for f in FIELDS}
    out["tasks"] = sum(st["tasks"] for st in sel)
    out["jobs"] = len({(st["app"], st["job"]) for st in sel})
    return out
