"""Tracing for the benchmark's traced mode, measured from outside the program.

* :class:`Tracer` records spans (name, layer, start, end, parent, pass id)
  around the benchmark's own calls into each layer and around each action,
  labels the Spark jobs submitted inside a span with ``setJobDescription``,
  and counts py4j round trips per span by wrapping
  ``GatewayClient.send_command`` while it is installed.
* :func:`parse_event_log` and :func:`attribute_jobs` read a Spark event log
  and assign its jobs, stages and tasks to spans: by the tracer's label,
  then by a label naming a called function (the ``prepare_corpus``
  prefill thread labels its own jobs), then by submission time.
* :func:`self_time` is a span's duration minus the part of it that its
  children cover.

Nothing here is active unless the benchmark runs with ``--trace 1``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterable, Optional

LABEL_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_id: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    py4j_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: Iterable[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals,
    each clipped to ``span`` (overlapping children count once)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class NullTracer:
    """Untraced passes: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, layer: str = ""):
        yield None


class Tracer:
    """Spans of the calling (main) thread, in wall-clock seconds (the event
    log's clock). py4j calls are counted only for the thread that created
    the tracer, so counts stay exact while background threads run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.pass_id = -1
        self._stack: list[Span] = []
        self._thread = threading.get_ident()
        self._orig = None

    # -- py4j round-trip counting -------------------------------------
    def install(self) -> None:
        import py4j.java_gateway as jg

        orig = jg.GatewayClient.send_command
        tracer = self

        def send_command(client, *a, **k):
            if threading.get_ident() != tracer._thread or not tracer._stack:
                return orig(client, *a, **k)
            t0 = time.perf_counter()
            try:
                return orig(client, *a, **k)
            finally:
                top = tracer._stack[-1]
                top.py4j_calls += 1
                top.py4j_s += time.perf_counter() - t0

        self._orig = orig
        jg.GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            import py4j.java_gateway as jg

            jg.GatewayClient.send_command = self._orig
            self._orig = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str = ""):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, layer=layer, pass_id=self.pass_id,
            parent=parent.id if parent else None, start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        # the label call itself is a py4j trip, charged to this span
        self.sc.setJobDescription(f"{LABEL_PREFIX}{sp.id}")
        try:
            yield sp
        finally:
            self._stack.pop()
            self.sc.setJobDescription(
                f"{LABEL_PREFIX}{parent.id}" if parent else None
            )
            sp.end = time.time()

    def dump(self, path: str) -> None:
        children: dict = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        rows = [
            dict(asdict(s), self_s=self_time(s, children.get(s.id, ())))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# -- event log --------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float
    end: float
    label: str
    stages: list = field(default_factory=list)


@dataclass
class TaskStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    fetch_wait_s: float = 0.0
    python_s: float = 0.0
    python_sent: int = 0
    reads: list = field(default_factory=list)  # per-task shuffle read bytes


PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def parse_event_log(lines: Iterable[str]) -> tuple[dict, dict]:
    """Jobs keyed by id and per-stage task totals keyed by stage id, from
    the JSON lines of one uncompressed Spark event log."""
    jobs: dict = {}
    stages: dict = {}
    for line in lines:
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                id=e["Job ID"], submit=e["Submission Time"] / 1000.0,
                end=e["Submission Time"] / 1000.0,
                label=props.get("spark.job.description") or "",
                stages=list(e.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], TaskStats())
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write += wr.get("Shuffle Bytes Written", 0)
            st.shuffle_read += read
            st.reads.append(read)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1e3
            for acc in (e.get("Task Info") or {}).get("Accumulables") or ():
                name, upd = acc.get("Name"), acc.get("Update")
                if name == PY_TIME and upd is not None:
                    st.python_s += int(upd) / 1e3
                elif name == PY_SENT and upd is not None:
                    st.python_sent += int(upd)
    return jobs, stages


def attribute_jobs(jobs: dict, spans: list) -> dict:
    """Span id for every job that falls in a span: the span named by the
    job's ``perfbench:<id>`` label; else, for a label the program set that
    starts with a called function's name (``"prepare_corpus: prefill ..."``
    from a background thread), the latest span of that call begun before
    the job within the same still-open pass; else the innermost span whose
    interval holds the job's submission time. Jobs outside every span are
    left out."""
    by_id = {s.id: s for s in spans}

    def root(s: Span) -> Span:
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    out = {}
    for job in jobs.values():
        if job.label.startswith(LABEL_PREFIX):
            sid = int(job.label[len(LABEL_PREFIX):])
            if sid in by_id:
                out[job.id] = sid
                continue
        fn = job.label.split(":", 1)[0].strip()
        callers = [
            s for s in spans
            if fn and s.name.rsplit(".", 1)[-1] == fn and s.start <= job.submit
            and job.submit <= root(s).end
        ]
        if callers:
            out[job.id] = max(callers, key=lambda s: s.start).id
            continue
        holding = [s for s in spans if s.start <= job.submit <= s.end]
        if holding:
            out[job.id] = max(holding, key=lambda s: s.start).id
    return out


def stage_owner(jobs: dict) -> dict:
    """Each stage belongs to the first job that lists it; later jobs list
    it again only as a skipped (already computed) stage."""
    owner: dict = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stages:
            owner.setdefault(sid, jid)
    return owner
