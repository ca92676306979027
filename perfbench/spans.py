"""Spans recorded around the benchmark's calls, and their attribution.

The traced run keeps one :class:`Span` per call the benchmark makes into
the engine (a set-up step, or a query's build, plan or action) in memory.
After the run, Spark's uncompressed event log is parsed and every job
and stage (with its tasks' metrics) is given to the span whose time
window holds its submission time.  That is exact here because the benchmark
has one client and its phases run one after another: work that the
engine starts on its own threads (overlapped store writes, streaming
micro-batches under their ``runId`` group) still falls inside the window
of the call that started it.  ``setJobGroup`` tags are kept only to
count how many jobs the tags alone would have missed.

Streaming progress comes from a ``StreamingQueryListener`` and is
attributed the same way, by the trigger's start time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    """One call into the engine: ``phase`` is ``setup``, ``build``,
    ``plan``, ``action`` or ``check``; times are epoch milliseconds."""

    name: str
    phase: str
    pass_no: int
    start_ms: float
    end_ms: float = 0.0
    tag: str = ""


@dataclass
class Stage:
    stage_id: int
    submit_ms: float = 0.0
    end_ms: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    deser_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    spill_b: float = 0.0
    input_b: float = 0.0
    input_rows: float = 0.0
    python_io_b: float = 0.0


@dataclass
class Job:
    submit_ms: float
    group: str = ""


@dataclass
class SpanStats:
    """Everything the event log and the listener gave one span."""

    jobs: int = 0
    untagged_jobs: int = 0
    stages: list[Stage] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)


# Arrow bytes between the executor and its Python workers, as the SQL
# metrics of the Python exec nodes name them.
PYTHON_IO_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _acc_sum(accumulables: list[dict], names: tuple[str, ...]) -> float:
    total = 0.0
    for acc in accumulables:
        if acc.get("Name") in names:
            try:
                total += float(acc.get("Update", 0) or 0)
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(path: str) -> tuple[list[Job], dict[int, Stage], float]:
    """Jobs, stages (with summed task metrics) and the peak driver JVM
    heap in bytes, from one uncompressed event log file."""
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    heap_peak = 0.0
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(Job(float(ev["Submission Time"]), props.get("spark.jobGroup.id", "") or ""))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submit_ms = float(info.get("Submission Time", 0) or 0)
                st.end_ms = float(info.get("Completion Time", 0) or 0)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.deser_ms += m.get("Executor Deserialize Time", 0)
                st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                im = m.get("Input Metrics") or {}
                st.input_b += im.get("Bytes Read", 0)
                st.input_rows += im.get("Records Read", 0)
                acc = (ev.get("Task Info") or {}).get("Accumulables") or []
                st.python_io_b += _acc_sum(acc, PYTHON_IO_METRICS)
                heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                heap_peak = max(heap_peak, float(heap))
            elif kind == "SparkListenerStageExecutorMetrics":
                heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
                heap_peak = max(heap_peak, float(heap))
    return jobs, stages, heap_peak


def progress_start_ms(progress: dict) -> float:
    """Epoch ms of a streaming progress report's trigger start."""
    ts = progress["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).astimezone(timezone.utc).timestamp() * 1000.0


def _owner(spans: list[Span], t_ms: float) -> int | None:
    """Index of the span whose window holds ``t_ms``.  Spans never
    overlap (one client, sequential phases), so the last span that
    started at or before ``t_ms`` is the only candidate."""
    lo, hi = 0, len(spans)
    while lo < hi:
        mid = (lo + hi) // 2
        if spans[mid].start_ms <= t_ms:
            lo = mid + 1
        else:
            hi = mid
    i = lo - 1
    if i >= 0 and t_ms <= spans[i].end_ms:
        return i
    return None


def attribute(
    spans: list[Span],
    jobs: list[Job],
    stages: dict[int, Stage],
    progress: list[dict],
) -> tuple[list[SpanStats], int]:
    """Give each job, executed stage and streaming progress report to
    the span whose window holds its start time.
    Returns one :class:`SpanStats` per span, in span order, and the
    number of jobs that fell in no span."""
    order = sorted(range(len(spans)), key=lambda i: spans[i].start_ms)
    ordered = [spans[i] for i in order]
    out = [SpanStats() for _ in spans]
    lost = 0
    for job in jobs:
        k = _owner(ordered, job.submit_ms)
        if k is None:
            lost += 1
            continue
        s = out[order[k]]
        s.jobs += 1
        if job.group != ordered[k].tag:
            s.untagged_jobs += 1
    # A stage listed by several jobs (reused shuffle output) ran once:
    # attribute it by its own submission time, not through its jobs.
    for st in stages.values():
        k = _owner(ordered, st.submit_ms) if st.tasks else None
        if k is not None:
            out[order[k]].stages.append(st)
    for p in progress:
        k = _owner(ordered, progress_start_ms(p))
        if k is not None:
            out[order[k]].progress.append(p)
    return out, lost


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
