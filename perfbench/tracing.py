"""Spans and Spark event-log attribution for the traced run.

Spans are recorded by the benchmark around each call into a layer and
kept in memory until the run ends. Each traced Spark call runs under its
own ``setJobGroup`` label, so the event log (``SPARK_GRAFT_EVENTLOG``)
can be cut into per-call stage metrics afterwards.

Stage attribution inside a conversion call:

- a stage that reads shuffle output is ``pipeline.encode``;
- a stage that writes shuffle output and reads none is ``pipeline.fanout``;
- a stage that does neither is ``pipeline.fanout`` when it starts before
  the first encode stage (the bounds pass over the input) and
  ``pipeline.sink`` otherwise (finalize / archive streaming jobs).

A call's ``driver_s`` is its span minus the union of its Spark job
intervals.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; spans of one
    workload operation share its ``run_id``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, run_id: str, group: str | None = None):
        """Context manager recording one span; with ``group``, Spark jobs
        started inside run under that job group."""
        return _SpanCtx(self, name, run_id, group)

    def add(self, name: str, start: float, end: float, run_id: str) -> None:
        """Record an already-finished span under the current parent."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, end, parent, run_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "run_id": s.run_id, **s.attrs}) + "\n")


_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name, run_id, group):
        self.t, self.name, self.run_id, self.group = tracer, name, run_id, group
        self.attrs = {"group": group} if group is not None else {}

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        if self.group is not None:
            self.prev = {k: t.sc.getLocalProperty(k) for k in _GROUP_KEYS}
            t.sc.setJobGroup(self.group, self.name)
        self.s = Span(self.name, time.time(), 0.0, parent, self.run_id,
                      self.attrs)
        t.spans.append(self.s)
        t._stack.append(len(t.spans) - 1)
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.end = time.time()
        self.t._stack.pop()
        if self.group is not None:
            for k, v in self.prev.items():
                self.t.sc.setLocalProperty(k, v)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class Stage:
    sid: int
    group: str | None
    submit: float
    end: float
    tasks: list[dict] = field(default_factory=list)

    def total(self, key: str) -> float:
        return sum(t[key] for t in self.tasks)

    @property
    def reads_shuffle(self) -> bool:
        return self.total("sr_records") > 0

    @property
    def writes_shuffle(self) -> bool:
        return self.total("sw_records") > 0


@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]


def _task_row(e: dict) -> dict:
    tm = e.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update", 0)
           for a in (e.get("Task Info") or {}).get("Accumulables", [])}

    def num(name):
        try:
            return float(acc.get(name) or 0)
        except (TypeError, ValueError):
            return 0.0

    return {
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
        "sw_records": sw.get("Shuffle Records Written", 0),
        "sw_time_s": sw.get("Shuffle Write Time", 0) / 1e9,
        "sr_bytes": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
        "sr_records": sr.get("Total Records Read", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        # SQL timing metric, in milliseconds
        "py_run_s": num(_PY_RUN) / 1e3,
        "py_bytes_in": num(_PY_SENT),
        "py_bytes_out": num(_PY_RECV),
    }


def parse_eventlog(ev_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Read every event-log file under ``ev_dir`` into jobs and completed
    stages (times in epoch seconds)."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    stages: dict[int, Stage] = {}
    files = sorted(p for p in glob.glob(os.path.join(ev_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p) and os.path.basename(p).startswith(
                       ("events_", "local-", "app-")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jid = e["Job ID"]
                    jobs[jid] = Job(jid, group, e["Submission Time"] / 1e3,
                                    e["Submission Time"] / 1e3,
                                    list(e.get("Stage IDs", [])))
                    for sid in jobs[jid].stage_ids:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(e["Stage ID"], []).append(_task_row(e))
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    sid = si["Stage ID"]
                    if "Submission Time" not in si or "Completion Time" not in si:
                        continue
                    stages[sid] = Stage(sid, stage_group.get(sid),
                                        si["Submission Time"] / 1e3,
                                        si["Completion Time"] / 1e3)
    for sid, st in stages.items():
        st.tasks = tasks.get(sid, [])
    return jobs, stages


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def _skew(stages: list[Stage]) -> float:
    runs = [t["run_s"] for st in stages for t in st.tasks]
    if not runs:
        return 0.0
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def _sum(stages: list[Stage], key: str) -> float:
    return sum(st.total(key) for st in stages)


def _busy(stages: list[Stage]) -> float:
    return union_s((st.submit, st.end) for st in stages)


def driver_s(span: Span, jobs: list[Job]) -> float:
    inside = [(max(j.start, span.start), min(j.end, span.end)) for j in jobs]
    return max(span.end - span.start
               - union_s((s, e) for s, e in inside if e > s), 0.0)


def group_view(group: str, jobs: dict[int, Job], stages: dict[int, Stage]
               ) -> tuple[list[Job], list[Stage]]:
    gj = [j for j in jobs.values() if j.group == group]
    gs = sorted((s for s in stages.values() if s.group == group),
                key=lambda s: s.submit)
    return gj, gs


def classify_conversion(gs: list[Stage]) -> dict[str, list[Stage]]:
    """Split a conversion call's stages into fanout / encode / sink."""
    first_read = min((s.submit for s in gs if s.reads_shuffle), default=None)
    out: dict[str, list[Stage]] = {"fanout": [], "encode": [], "sink": []}
    for s in gs:
        if s.reads_shuffle:
            out["encode"].append(s)
        elif s.writes_shuffle or first_read is None or s.submit < first_read:
            out["fanout"].append(s)
        else:
            out["sink"].append(s)
    return out


def conversion_layers(span: Span, jobs: dict[int, Job],
                      stages: dict[int, Stage], features_in: int,
                      stats: dict) -> dict[str, float]:
    """Per-layer metrics of one ``convert``/``convert_sharded`` call."""
    gj, gs = group_view(span.attrs["group"], jobs, stages)
    c = classify_conversion(gs)
    fan, enc, sink = c["fanout"], c["encode"], c["sink"]
    sink_ids = {s.sid for s in sink}
    records = _sum(fan, "sw_records")
    wbytes = _sum(fan, "sw_bytes")
    return {
        "pipeline.fanout.busy_s": _busy(fan),
        "pipeline.fanout.cpu_s": _sum(fan, "cpu_s"),
        "pipeline.fanout.py_run_s": _sum(fan, "py_run_s"),
        "pipeline.fanout.py_bytes_in": _sum(fan, "py_bytes_in"),
        "pipeline.fanout.py_bytes_out": _sum(fan, "py_bytes_out"),
        "pipeline.fanout.records_out": records,
        "pipeline.fanout.records_per_feature":
            records / features_in if features_in else 0.0,
        "pipeline.fanout.task_skew": _skew(fan),
        "shuffle.write_bytes": wbytes,
        "shuffle.read_bytes": _sum(enc, "sr_bytes"),
        "shuffle.bytes_per_record": wbytes / records if records else 0.0,
        "shuffle.write_s": _sum(fan, "sw_time_s"),
        "shuffle.fetch_wait_s": _sum(enc, "fetch_wait_s"),
        "shuffle.spill_bytes": _sum(fan + enc + sink, "spill_bytes"),
        "pipeline.encode.busy_s": _busy(enc),
        "pipeline.encode.py_run_s": _sum(enc, "py_run_s"),
        "pipeline.encode.py_bytes_in": _sum(enc, "py_bytes_in"),
        "pipeline.encode.tiles_out": float(stats["tiles"]),
        "pipeline.encode.task_skew": _skew(enc),
        "pipeline.sink.driver_s": driver_s(span, gj),
        "pipeline.sink.archive_s": _busy(sink),
        "pipeline.sink.jobs": float(sum(
            1 for j in gj if j.stage_ids and
            all(sid in sink_ids or sid not in stages for sid in j.stage_ids)
            and any(sid in sink_ids for sid in j.stage_ids))),
    }


def extract_layer(span: Span, jobs: dict[int, Job], stages: dict[int, Stage],
                  features_out: int) -> dict[str, float]:
    gj, gs = group_view(span.attrs["group"], jobs, stages)
    return {
        "extract.busy_s": _busy(gs),
        "extract.py_run_s": _sum(gs, "py_run_s"),
        "extract.py_bytes_in": _sum(gs, "py_bytes_in"),
        "extract.py_bytes_out": _sum(gs, "py_bytes_out"),
        "extract.features_out": float(features_out),
        "_extract.driver_s": driver_s(span, gj),
    }


def join_layer(prefix: str, span: Span, jobs: dict[int, Job],
               stages: dict[int, Stage]) -> dict[str, float]:
    gj, gs = group_view(span.attrs["group"], jobs, stages)
    return {
        f"{prefix}.busy_s": _busy(gs),
        f"{prefix}.driver_s": driver_s(span, gj),
        f"{prefix}.jobs": float(len(gj)),
        f"{prefix}.py_run_s": _sum(gs, "py_run_s"),
        f"{prefix}.shuffle_write_bytes": _sum(gs, "sw_bytes"),
        f"{prefix}.task_skew": _skew(gs),
    }
