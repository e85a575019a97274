"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here measures the program from outside: spans around the calls
the benchmark makes into each layer, a count of the py4j commands sent while
a query is built, a Python ``StreamingQueryListener`` for micro-batch
phases, and Spark's own event log for jobs, stages, tasks and the SQL
metrics of the Python operators.

Spans form a tree (workload -> pass -> query -> build/plan/exec -> job ->
stage, and build -> stream -> batch -> phase). They are kept in memory and
written once, with each span's self time, when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

# SQL metric names of Spark's Python operators -> per-layer metric
PYTHON_SQL_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_boot_s",
    "time to initialize Python workers": "operators.python_init_s",
    "data sent to Python workers": "operators.arrow_sent_bytes",
    "data returned from Python workers": "operators.arrow_received_bytes",
    "number of output rows": "operators.python_rows",
}
_PYTHON_TIMINGS_MS = {
    "operators.python_run_s", "operators.python_boot_s", "operators.python_init_s",
}
# micro-batch phases in the order a trigger runs them
STREAM_PHASES = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets",
)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        start = max(start, reach)
        if end > start:
            total += end - start
            reach = end
    return total


class Spans:
    """In-memory span tree. Times are epoch seconds (``time.time()``), the
    clock Spark's event log and the streaming listener also use."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, kind: str, name: str, parent: int | None, start: float,
            end: float | None = None, **attrs) -> int:
        sid = len(self.items) + 1
        self.items.append({"id": sid, "parent": parent, "kind": kind,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    def end(self, sid: int, t: float) -> None:
        self.items[sid - 1]["end"] = t

    def with_self_times(self) -> list[dict]:
        """Each span with ``self_s``: its duration minus what its children
        cover of it."""
        children: dict[int, list[dict]] = defaultdict(list)
        for span in self.items:
            if span["parent"] is not None:
                children[span["parent"]].append(span)
        for span in self.items:
            inside = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
                      for c in children[span["id"]]]
            span["self_s"] = span["end"] - span["start"] - covered(inside)
        return self.items


class Py4jCounter:
    """Counts py4j commands the main thread sends to the JVM."""

    def __init__(self) -> None:
        from py4j.java_gateway import GatewayClient

        self.count = 0
        self._cls = GatewayClient
        self._orig = orig = GatewayClient.send_command
        main = threading.get_ident()

        def send_command(client, *args, **kwargs):
            if threading.get_ident() == main:
                self.count += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


def stream_recorder():
    """A streaming query listener that keeps every query's start, progress
    and termination; the caller adds it to and removes it from a session."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.started: dict[str, tuple[str, float]] = {}
            self.terminated: dict[str, float] = {}
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            self.started[str(event.runId)] = (event.name or "", time.time())

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated[str(event.runId)] = time.time()

        def wait_terminated(self, timeout_s: float = 10.0) -> None:
            """Listener events arrive asynchronously; wait until every
            started query has reported its end."""
            deadline = time.monotonic() + timeout_s
            while (set(self.started) - set(self.terminated)
                   and time.monotonic() < deadline):
                time.sleep(0.05)

    return StreamRecorder()


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Job:
    id: int
    start: float
    stages: list[int]
    end: float | None = None


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    failed: bool
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_rows: int
    input_bytes: int
    accums: list[tuple[int, float]] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_times: dict[int, tuple[float, float]] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    python_accums: dict[int, str] = field(default_factory=dict)


def _python_accums(plan: dict, out: dict[int, str]) -> None:
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "time to run Python workers" in names:
        for name, metric in PYTHON_SQL_METRICS.items():
            if name in names:
                out[names[name]] = metric
    for child in plan.get("children", []):
        _python_accums(child, out)


def read_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log."""
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000, ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                log.stage_times[info["Stage ID"]] = (
                    info["Submission Time"] / 1000, info["Completion Time"] / 1000)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                read = m.get("Shuffle Read Metrics", {})
                inp = m.get("Input Metrics", {})
                log.tasks.append(Task(
                    stage=ev["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1000,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000,
                    failed=ev["Task End Reason"]["Reason"] != "Success",
                    shuffle_read=read.get("Remote Bytes Read", 0)
                    + read.get("Local Bytes Read", 0),
                    shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                    input_rows=inp.get("Records Read", 0),
                    input_bytes=inp.get("Bytes Read", 0),
                    accums=[(a["ID"], float(a["Update"]))
                            for a in ev["Task Info"].get("Accumulables", [])
                            if a.get("Metadata") == "sql"],
                ))
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_accums(ev["sparkPlanInfo"], log.python_accums)
    return log


@dataclass
class QueryTrace:
    """One query of a traced pass: its span ids and phase intervals."""
    name: str
    span: int
    phases: dict[str, tuple[int, float, float]]  # phase -> (span, start, end)
    py4j_calls: int


def pass_wall(spans: Spans, queries: list[QueryTrace]) -> float:
    """Summed wall time of a traced pass's queries."""
    return sum(spans.items[q.span - 1]["end"] - spans.items[q.span - 1]["start"]
               for q in queries)


def _phase_of(queries: list[QueryTrace], t: float) -> tuple[QueryTrace, str] | None:
    for q in queries:
        for phase, (_, start, end) in q.phases.items():
            if start <= t <= end:
                return q, phase
    return None


def pass_layers(spans: Spans, pass_span: int, queries: list[QueryTrace],
                log: EventLog, progress: list[dict],
                streams: dict[str, tuple[str, float]],
                stream_ends: dict[str, float], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass; adds its job, stage, stream,
    batch and phase spans to ``spans``."""
    p = spans.items[pass_span - 1]
    p_start, p_end = p["start"], p["end"]
    wall = pass_wall(spans, queries)
    out: dict[str, float] = defaultdict(float)

    # streams: stream -> batch -> phase spans, and listener totals
    stream_span: dict[str, int] = {}
    for run_id, (name, start) in streams.items():
        if not p_start <= start <= p_end:
            continue
        hit = _phase_of(queries, start)
        parent = hit[0].phases[hit[1]][0] if hit else pass_span
        stream_span[run_id] = spans.add(
            "stream", name or run_id, parent, start, stream_ends.get(run_id, start))
    batch_ms, state_rows, state_mem = [], {}, {}
    stream_phases: list[tuple[float, float, int]] = []
    for prog in progress:
        run_id = prog["runId"]
        if run_id not in stream_span:
            continue
        d = prog.get("durationMs", {})
        trigger = d.get("triggerExecution", 0)
        start = _epoch(prog["timestamp"])
        bid = spans.add("batch", f"batch {prog['batchId']}", stream_span[run_id],
                        start, start + trigger / 1000)
        t = start
        for phase in STREAM_PHASES:
            if phase in d:
                end = t + d[phase] / 1000
                stream_phases.append((t, end, spans.add("phase", phase, bid, t, end)))
                t = end
        batch_ms.append(trigger)
        out["streaming.planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        out["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
        out["streaming.latest_offset_ms"] += d.get("latestOffset", 0)
        ops = prog.get("stateOperators", [])
        out["streaming.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        state_rows[run_id] = sum(o.get("numRowsTotal", 0) for o in ops)
        state_mem[run_id] = max(state_mem.get(run_id, 0),
                                sum(o.get("memoryUsedBytes", 0) for o in ops))
    # jobs -> the micro-batch phase or query phase they were submitted in
    stage_owner: dict[int, int] = {}
    # (the host probe's jobs run in the pass but outside every query)
    jobs = [j for j in log.jobs.values() if _phase_of(queries, j.start)]
    build_jobs: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for job in jobs:
        end = job.end if job.end is not None else job.start
        q, phase = _phase_of(queries, job.start)
        parent = next((sid for start, stop, sid in stream_phases
                       if start <= job.start <= stop), q.phases[phase][0])
        jid = spans.add("job", f"job {job.id}", parent, job.start, end)
        if phase == "build":
            build_jobs[q.name].append((job.start, end))
        for sid in job.stages:
            if sid in stage_owner:
                continue
            stage_owner[sid] = job.id
            if sid in log.stage_times:
                s_start, s_end = log.stage_times[sid]
                spans.add("stage", f"stage {sid}", jid, s_start, s_end)

    for q in queries:
        _, b_start, b_end = q.phases["build"]
        eager = [(max(s, b_start), min(e, b_end)) for s, e in build_jobs[q.name]]
        out["queries.build_s"] += b_end - b_start - covered(eager)
        out["queries.eager_jobs"] += len(build_jobs[q.name])
        out["queries.py4j_calls"] += q.py4j_calls
        _, pl_start, pl_end = q.phases["plan"]
        out["plan.catalyst_s"] += pl_end - pl_start

    tasks = [t for t in log.tasks if t.stage in stage_owner]
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.run_s)
        out["exec.task_s"] += t.run_s
        out["exec.task_cpu_s"] += t.cpu_s
        out["exec.gc_s"] += t.gc_s
        out["exec.failed_tasks"] += t.failed
        out["exec.shuffle_read_bytes"] += t.shuffle_read
        out["exec.shuffle_write_bytes"] += t.shuffle_write
        out["exec.spill_bytes"] += t.spill
        out["sources.input_rows"] += t.input_rows
        out["sources.input_bytes"] += t.input_bytes
        for acc_id, update in t.accums:
            metric = log.python_accums.get(acc_id)
            if metric:
                out[metric] += update / 1000 if metric in _PYTHON_TIMINGS_MS else update
    out["exec.jobs"] = len(jobs)
    out["exec.stages"] = len(by_stage)
    out["exec.tasks"] = len(tasks)
    out["exec.max_task_s"] = max((t.run_s for t in tasks), default=0.0)
    out["exec.task_skew"] = max(
        (max(v) / statistics.median(v) for v in by_stage.values()
         if len(v) > 1 and statistics.median(v) > 0), default=1.0)
    out["exec.slot_busy_frac"] = out["exec.task_s"] / (wall * cores) if wall else 0.0

    out["streaming.batches"] = len(batch_ms)
    out["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    out["streaming.state_rows"] = sum(state_rows.values())
    out["streaming.state_memory_bytes"] = sum(state_mem.values())
    return dict(out)
