"""Spans around the engine's public functions, and Spark's job metrics assigned to them.

A span is opened by replacing a module attribute with a wrapper, at the place
the caller looks it up, so spans nest inside the engine's own pipelines without
re-deriving them. Each span records wall time, self time (wall minus the wall of
its child spans), driver CPU time and calls, and sets a Spark job group on entry
that it restores on exit. The event log then names, for each Spark job, the
innermost span that was open when the job was submitted; a lazy DataFrame thus
counts toward the span whose action runs it. The workloads run the action that
consumes an operator's result inside `Tracer.action(<that operator's span>)`,
so those jobs count toward the operator. Jobs submitted during a traced
operation without one of these groups are counted as unattributed.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# Spark's Python-UDF SQL metrics, by the name they carry in the event log.
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class SpanStat:
    wall_s: float = 0.0
    self_s: float = 0.0
    cpu_s: float = 0.0
    calls: int = 0


@dataclass
class _Frame:
    name: str
    t0: float
    c0: float
    child_s: float = 0.0


@dataclass
class OpTrace:
    """What one traced operation recorded on the driver side."""

    spans: dict[str, SpanStat] = field(default_factory=lambda: defaultdict(SpanStat))
    counts: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    start_ms: int = 0
    end_ms: int = 0


class Tracer:
    """Installs spans on module attributes; records them per operation."""

    def __init__(self, sc=None):
        self.sc = sc
        self._stack: list[_Frame] = []
        self._patches: list[tuple[object, str, object]] = []
        self._seq = 0
        self.ops: list[OpTrace] = []
        self.groups: dict[str, tuple[int, str]] = {}  # job group -> (op index, span)

    # -- installing -------------------------------------------------------------
    def patch(self, owner, attr: str, name: str, counter=None) -> None:
        """Wrap `owner.attr` in span `name`. `counter(tracer, args, result)`
        may add counts after each call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, classmethod) else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if counter is not None and self.ops_open:
                counter(self, args, out)
            return out

        setattr(owner, attr, classmethod(wrapper) if isinstance(orig, classmethod) else wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- recording --------------------------------------------------------------
    @property
    def ops_open(self) -> bool:
        return bool(self.ops) and self.ops[-1].end_ms == 0

    def count(self, name: str, n: int) -> None:
        self.ops[-1].counts[name] += int(n)

    @contextmanager
    def operation(self):
        """One traced operation; spans outside it record nothing."""
        op = OpTrace(start_ms=int(time.time() * 1000))
        self.ops.append(op)
        try:
            with self.span("op"):
                yield op
        finally:
            op.end_ms = int(time.time() * 1000) + 1

    def action(self, name: str):
        """A span around the action that consumes a lazy DataFrame, named after
        the function that built it, so its jobs count there; not a call."""
        return self.span(name, call=False)

    @contextmanager
    def span(self, name: str, call: bool = True):
        if not self.ops_open:
            yield
            return
        prev = None
        if self.sc is not None:
            prev = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self._seq += 1
            gid = f"{GROUP_PREFIX}{self._seq}"
            self.groups[gid] = (len(self.ops) - 1, name)
            self.sc.setJobGroup(gid, name)
        frame = _Frame(name, time.perf_counter(), time.process_time())
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            wall = time.perf_counter() - frame.t0
            st = self.ops[-1].spans[name]
            st.wall_s += wall
            st.self_s += wall - frame.child_s
            st.cpu_s += time.process_time() - frame.c0
            st.calls += call
            if self._stack:
                self._stack[-1].child_s += wall
            if prev is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])


# -- event log ---------------------------------------------------------------------


@dataclass
class JobStat:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0
    tasks: int = 0
    task_s: float = 0.0
    max_task_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    py_total_s: float = 0.0
    py_boot_s: float = 0.0
    bytes_to_py: int = 0
    bytes_from_py: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.submit_ms) / 1000.0


def _accum(task_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in task_info.get("Accumulables", ()):
        name, upd = a.get("Name"), a.get("Update")
        if name in (PY_TOTAL, PY_BOOT, PY_SENT, PY_RETURNED) and upd is not None:
            out[name] = out.get(name, 0) + int(upd)
    return out


def parse_event_logs(log_dir: str) -> list[JobStat]:
    """Every Spark job in the event logs under `log_dir`, with the summed
    metrics of the tasks its stages ran. A stage listed by several jobs
    belongs to the most recent active job that lists it when it is submitted."""
    jobs: dict[int, JobStat] = {}
    out: list[JobStat] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        jobs.clear()
        stage_job: dict[int, JobStat] = {}
        stage_lists: dict[int, set[int]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = JobStat(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"])
                    jobs[j.job_id] = j
                    stage_lists[j.job_id] = set(ev.get("Stage IDs", ()))
                    out.append(j)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    active = [
                        jid for jid, j in jobs.items() if j.end_ms == 0 and sid in stage_lists[jid]
                    ]
                    if active:
                        stage_job[sid] = jobs[max(active)]
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev["Stage ID"])
                    if j is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = max(0, info["Finish Time"] - info["Launch Time"]) / 1000.0
                    j.tasks += 1
                    j.task_s += dur
                    j.max_task_s = max(j.max_task_s, dur)
                    j.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc = _accum(info)
                    # Python timing metrics are in milliseconds
                    j.py_total_s += acc.get(PY_TOTAL, 0) / 1e3
                    j.py_boot_s += acc.get(PY_BOOT, 0) / 1e3
                    j.bytes_to_py += acc.get(PY_SENT, 0)
                    j.bytes_from_py += acc.get(PY_RETURNED, 0)
    return out


def attribute(jobs: list[JobStat], tracer: Tracer, cores: int) -> tuple[list[dict], list[dict]]:
    """Assign jobs to (operation, span). Returns, per traced operation, a dict
    {span: {field: value}} plus a "_totals" entry, and the list of jobs that were
    submitted during a traced operation but carry no span group."""
    per_op: list[dict] = [defaultdict(lambda: defaultdict(float)) for _ in tracer.ops]
    unattributed: list[dict] = []
    for j in jobs:
        hit = tracer.groups.get(j.group) if j.group else None
        if hit is None:
            if any(op.start_ms <= j.submit_ms <= op.end_ms for op in tracer.ops):
                unattributed.append({"job_id": j.job_id, "group": j.group})
            continue
        op_i, span = hit
        s = per_op[op_i][span]
        s["jobs"] += 1
        s["executor_cpu_s"] += j.executor_cpu_s
        s["shuffle_write_bytes"] += j.shuffle_write_bytes
        s["py_total_s"] += j.py_total_s
        s["idle_core_s"] += max(0.0, cores * j.wall_s - j.task_s)
        t = per_op[op_i]["_totals"]
        t["jobs"] += 1
        t["tasks"] += j.tasks
        t["max_task_s"] = max(t["max_task_s"], j.max_task_s)
        t["gc_s"] += j.gc_s
        t["executor_cpu_s"] += j.executor_cpu_s
        t["shuffle_read_bytes"] += j.shuffle_read_bytes
        t["spill_bytes"] += j.spill_bytes
        t["bytes_to_py"] += j.bytes_to_py
        t["bytes_from_py"] += j.bytes_from_py
        t["py_boot_s"] += j.py_boot_s
        t["py_total_s"] += j.py_total_s
    return per_op, unattributed
