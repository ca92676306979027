"""Per-layer metrics of a traced run.

Each metric is one pass's total over the spans of that pass, reported
as the median over the kept warm passes (the passes ``wall_s`` uses),
except the set-up spans, the peaks and the leak counters.  The layer
each metric belongs to, and the end-to-end metric it should move, are
listed in README.md.
"""

from __future__ import annotations

import os
import statistics

import spans as tracing

_MB = 2.0**20


def _pass_totals(bench, stats: list[tracing.SpanStats], pass_no: int) -> dict[str, float]:
    slots = bench.slots
    t = dict.fromkeys(
        (
            "build_s", "build_jobs", "plan_s", "jobs", "stages", "tasks", "gap_s",
            "run_s", "cpu_s", "gc_s", "deser_s", "busy_wall_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "scan_mb", "scan_rows", "python_io_mb",
            "batches", "input_rows", "trigger_s", "add_batch_s", "commit_s",
            "planning_s", "state_commit_s", "state_rows", "state_mem_mb",
            "start_stop_s", "untagged_jobs",
        ),
        0.0,
    )
    for sp, st in zip(bench.spans, stats):
        if sp.pass_no != pass_no:
            continue
        dur_s = (sp.end_ms - sp.start_ms) / 1000.0
        if sp.phase == "build":
            t["build_s"] += dur_s
            t["build_jobs"] += st.jobs
        elif sp.phase == "plan":
            t["plan_s"] += dur_s
        t["jobs"] += st.jobs
        t["untagged_jobs"] += st.untagged_jobs
        t["stages"] += len(st.stages)
        for s in st.stages:
            t["tasks"] += s.tasks
            t["run_s"] += s.run_ms / 1000.0
            t["cpu_s"] += s.cpu_ns / 1e9
            t["gc_s"] += s.gc_ms / 1000.0
            t["deser_s"] += s.deser_ms / 1000.0
            t["shuffle_write_mb"] += s.shuffle_write_b / _MB
            t["shuffle_read_mb"] += s.shuffle_read_b / _MB
            t["spill_mb"] += s.spill_b / _MB
            t["scan_mb"] += s.input_b / _MB
            t["scan_rows"] += s.input_rows
            t["python_io_mb"] += s.python_io_b / _MB
        if sp.phase in ("build", "action"):
            busy = tracing.covered_ms([(s.submit_ms, s.end_ms) for s in st.stages], sp.start_ms, sp.end_ms)
            t["gap_s"] += dur_s - busy / 1000.0
            t["busy_wall_s"] += dur_s
        trigger_s = 0.0
        per_query_state: dict[str, tuple[float, float]] = {}
        for p in st.progress:
            d = p.get("durationMs") or {}
            t["batches"] += 1
            t["input_rows"] += p.get("numInputRows", 0)
            trigger_s += d.get("triggerExecution", 0) / 1000.0
            t["add_batch_s"] += d.get("addBatch", 0) / 1000.0
            t["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            t["planning_s"] += d.get("queryPlanning", 0) / 1000.0
            rows = mem = 0.0
            for op in p.get("stateOperators") or []:
                t["state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
                rows += op.get("numRowsTotal", 0)
                mem += op.get("memoryUsedBytes", 0)
            # state size: the largest a drain's state got, summed over drains
            prev = per_query_state.get(p.get("runId", ""), (0.0, 0.0))
            per_query_state[p.get("runId", "")] = (max(prev[0], rows), max(prev[1], mem))
        t["trigger_s"] += trigger_s
        for rows, mem in per_query_state.values():
            t["state_rows"] += rows
            t["state_mem_mb"] += mem / _MB
        if st.progress and sp.phase == "build":
            t["start_stop_s"] += dur_s - trigger_s
    t["busy_frac"] = t["run_s"] / (t["busy_wall_s"] * slots) if t["busy_wall_s"] else 0.0
    return t


def per_layer(bench, run_dir: str, wall_s: float, sampler) -> dict[str, tuple[float, str]]:
    log = tracing.find_event_log(os.path.join(run_dir, "eventlog"))
    jobs, stages, heap_peak_b = tracing.parse_event_log(log)
    progress = bench.listener.progress if bench.listener is not None else []
    stats, _ = tracing.attribute(bench.spans, jobs, stages, progress)
    kept, _ = bench.kept_passes()
    totals = [_pass_totals(bench, stats, p) for p in kept]

    def med(key: str) -> float:
        return statistics.median(t[key] for t in totals)

    setup = {sp.name: (sp.end_ms - sp.start_ms) / 1000.0 for sp in bench.spans if sp.phase == "setup"}
    leaks = bench.leaks  # after the cold pass, then after each warm pass

    def growth(i: int) -> float:
        return (leaks[-1][i] - leaks[0][i]) / (len(leaks) - 1)

    out = {
        "session.start_s": (setup.get("session", 0.0), "s"),
        "sinks.store_build_s": (setup.get("pair_store", 0.0), "s"),
        "streaming.warmup_s": (setup.get("stream_warmup", 0.0), "s"),
        "operators.build_s": (med("build_s"), "s"),
        "operators.build_jobs": (med("build_jobs"), "count"),
        "spark.catalyst.plan_s": (med("plan_s"), "s"),
        "spark.catalyst.exchanges": (float(sum(bench.exchanges.values())), "count"),
        "spark.scheduler.gap_s": (med("gap_s"), "s"),
        "spark.scheduler.jobs": (med("jobs"), "count"),
        "spark.scheduler.stages": (med("stages"), "count"),
        "spark.scheduler.tasks": (med("tasks"), "count"),
        "spark.executor.run_s": (med("run_s"), "s"),
        "spark.executor.cpu_s": (med("cpu_s"), "s"),
        "spark.executor.gc_s": (med("gc_s"), "s"),
        "spark.executor.deser_s": (med("deser_s"), "s"),
        "spark.executor.busy_frac": (med("busy_frac"), "fraction"),
        "spark.executor.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "spark.executor.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "spark.executor.spill_mb": (med("spill_mb"), "MB"),
        "spark.executor.jvm_heap_peak_mb": (heap_peak_b / _MB, "MB"),
        "sources.scan_mb": (med("scan_mb"), "MB"),
        "sources.scan_rows": (med("scan_rows"), "count"),
        "spark.python.io_mb": (med("python_io_mb"), "MB"),
        "spark.python.rss_peak_mb": (sampler.peak_workers_b / _MB, "MB"),
        "streaming.batches": (med("batches"), "count"),
        "streaming.input_rows": (med("input_rows"), "count"),
        "streaming.trigger_s": (med("trigger_s"), "s"),
        "streaming.add_batch_s": (med("add_batch_s"), "s"),
        "streaming.commit_s": (med("commit_s"), "s"),
        "streaming.planning_s": (med("planning_s"), "s"),
        "streaming.state_commit_s": (med("state_commit_s"), "s"),
        "streaming.state_rows": (med("state_rows"), "count"),
        "streaming.state_mem_mb": (med("state_mem_mb"), "MB"),
        "streaming.start_stop_s": (med("start_stop_s"), "s"),
        "leak.tmp_dirs": (growth(0), "count"),
        "leak.catalog_tables": (growth(1), "count"),
        "leak.active_streams": (growth(2), "count"),
        "trace.wall_s": (wall_s, "s"),
        "trace.untagged_jobs": (med("untagged_jobs"), "count"),
    }
    return out
