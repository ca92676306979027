#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 18 --trace 0

One client, closed loop: the queries of a workload run one after
another, in an order drawn from the seed, in passes.  The first pass is
reported on its own (cold JIT, first codegen).  Then come as many warm
passes as ``--seconds`` holds at the workload's nominal pass time (at
least five), the same count on every host; the first is dropped, as
its CPU is still well above the later passes'.  Every execution's
rows are hashed outside the timed region and checked after the session
has stopped: oracle-bearing queries against the DuckDB oracle on the
same inputs, rows-only queries against their own first pass.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` also turns on Spark's event log and a streaming
listener and reports the per-layer metrics instead (see README.md).
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import procstat  # noqa: E402
import spans as tracing  # noqa: E402


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    setup: tuple[str, ...]  # set-up steps, run in this order
    pass_s: float  # nominal warm-pass time at local[4]: turns --seconds into a pass count


# Why each workload and each query is here: README.md.
WORKLOADS = {
    "llm_dedup": Workload(
        queries=(
            "q24_ngram_jaccard_dedup",
            "q163_containment_dedup",
            "q27_embedding_neardup",
            "q77_source_dup_matrix",
        ),
        setup=("pair_store",),
        pass_s=3.5,
    ),
    "stream_drain": Workload(
        queries=(
            "q14_streaming_twin",
            "q99_streaming_dedup_twin",
        ),
        setup=("stream_warmup",),
        pass_s=3.0,
    ),
}

# Every run makes the same passes, so the kept ones sit at the same
# point of the JIT warm-up on a fast host and on a slow one.  The first
# warm pass is dropped: it still pays most of the compilation left
# after the cold pass (its CPU is 20-25 % above the second's).  Later
# passes keep getting faster, but at a pace that differs from run to
# run, so dropping more of them makes runs agree less, not more.
DROPPED_WARM = 1
MIN_KEPT = 4
TAIL_BEYOND = 10

WORK = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def ensure_corpus(seed: int) -> str:
    """The seed's input tables, generated once per seed and reused."""
    path = os.path.join(WORK, "corpus", f"seed-{seed}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    datagen.write_corpus(path, seed)
    return path


def warm_jar_cache() -> None:
    """Start one untimed JVM over Spark's class path, once per checkout,
    so the first measured session does not pay cold disk reads."""
    marker = os.path.join(WORK, "jvm-warmed")
    if os.path.exists(marker):
        return
    from pyspark.find_spark_home import _find_spark_home

    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    subprocess.run([submit, "--version"], capture_output=True, timeout=300, check=False)
    open(marker, "w").close()


class _Rows:
    """Collected rows in the shape ``oracle.canonical_hash`` reads."""

    def __init__(self, columns: list[str], rows: list[tuple]) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def result_key(columns: list[str], rows: list[tuple]) -> tuple[list[str], str]:
    """What two results must share to be equal: the column names and the
    engine's canonical hash (columns sorted by name, rows sorted)."""
    from distributed_map_reduce_spark.oracle import canonical_hash

    return sorted(columns), canonical_hash(_Rows(columns, rows))


def oracle_keys(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple[list[str], str] | None]:
    """:func:`result_key` of each DuckDB oracle over ``data_dir``; None
    where the oracle itself failed.  A key depends only on the inputs and
    the oracle's SQL, so it is kept beside the seed's inputs, under the
    SQL's digest, and computed once per seed."""
    import duckdb
    from distributed_map_reduce_spark.oracle import duckdb_connect

    cache_path = data_dir + ".oracle.json"
    try:
        with open(cache_path, encoding="utf-8") as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    out: dict[str, tuple[list[str], str] | None] = {}
    con = None
    try:
        for q, sql in sqls.items():
            digest = hashlib.sha256(sql.encode()).hexdigest()
            if digest in cache:
                cols, h = cache[digest]
                out[q] = (cols, h)
                continue
            if con is None:
                con = duckdb_connect(data_dir)
                con.execute("SET enable_progress_bar = false")  # keep stdout to the result line
            try:
                cur = con.execute(sql)
                out[q] = cache[digest] = result_key([d[0] for d in cur.description], cur.fetchall())
            except duckdb.Error:
                traceback.print_exc()
                out[q] = None
    finally:
        if con is not None:
            con.close()
    tmp = f"{cache_path}.tmp{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_path)
    return out


class Bench:
    """One run: a fresh session, the workload's set-up, its passes and
    the result checks, with a span around every call into the engine."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool, data_dir: str, run_dir: str):
        self.name = name
        self.wl = WORKLOADS[name]
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.slots = len(os.sched_getaffinity(0))
        self.order = list(self.wl.queries)
        random.Random(seed).shuffle(self.order)
        self.spans: list[tracing.Span] = []
        self.spark = None
        self.listener = None
        # per pass: {query: seconds}, CPU seconds, leak counters
        self.samples: list[dict[str, float]] = []
        self.pass_cpu: list[float] = []
        self.leaks: list[tuple[int, int, int]] = []
        # per query: (pass, result key) of every execution that finished
        self.results: dict[str, list[tuple[int, tuple[list[str], str]]]] = {}
        self.exchanges: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @contextmanager
    def span(self, name: str, phase: str, pass_no: int):
        sp = tracing.Span(name, phase, pass_no, time.time() * 1000.0, tag=f"{pass_no}:{name}")
        if self.trace and self.spark is not None:
            self.spark.sparkContext.setJobGroup(sp.tag, sp.tag)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self.spans.append(sp)

    def _conf(self) -> dict[str, str]:
        d = self.run_dir
        conf = {
            "spark.sql.warehouse.dir": os.path.join(d, "warehouse"),
            "spark.local.dir": os.path.join(d, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(d, 'tmp')}",
            "spark.ui.enabled": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(d, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(d, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.logStageExecutorMetrics": "true",
                }
            )
        return conf

    def setup(self) -> None:
        from distributed_map_reduce_spark.session import get_spark

        with self.span("session", "setup", -1):
            self.spark = get_spark(f"perfbench-{self.name}", extra_conf=self._conf())
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.listener = _progress_listener()
            self.spark.streams.addListener(self.listener)
        for step in self.wl.setup:
            with self.span(step, "setup", -1):
                if step == "pair_store":
                    from distributed_map_reduce_spark.operators.dedup import write_pair_store

                    write_pair_store(self.spark, self.data_dir)
                elif step == "stream_warmup":
                    from distributed_map_reduce_spark.streaming.warmup import warm_streaming_machinery

                    warm_streaming_machinery(self.spark)
                else:
                    raise ValueError(f"unknown set-up step {step!r}")

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        log(f"FAILED {what}")

    def run_pass(self, pass_no: int) -> None:
        """Every query once: build, (traced: plan,) then collect the rows.
        Hashing the rows happens after the clock stops."""
        from distributed_map_reduce_spark.registry import all_queries

        specs = all_queries()
        times: dict[str, float] = {}
        cpu = 0.0
        for q in self.order:
            self.attempted += 1
            c0 = procstat.tree_cpu_seconds()
            t0 = time.perf_counter()
            try:
                with self.span(q, "build", pass_no):
                    df = specs[q].build(self.spark, self.data_dir)
                if self.trace:
                    with self.span(q, "plan", pass_no):
                        df._jdf.queryExecution().executedPlan()
                with self.span(q, "action", pass_no):
                    rows = df.collect()
            except Exception:
                traceback.print_exc()
                self._fail(f"{q} pass {pass_no}: exception")
                continue
            times[q] = time.perf_counter() - t0
            cpu += procstat.tree_cpu_seconds() - c0
            self.results.setdefault(q, []).append((pass_no, result_key(df.columns, rows)))
            if self.trace and pass_no == 0:
                from distributed_map_reduce_spark.plans.inspect import count_shuffles

                self.exchanges[q] = count_shuffles(df)
        self.samples.append(times)
        self.pass_cpu.append(cpu)
        if self.trace:
            self.leaks.append(self._leak_counts())

    def _leak_counts(self) -> tuple[int, int, int]:
        return (
            len(os.listdir(os.path.join(self.run_dir, "tmp"))),
            len(self.spark.catalog.listTables()),
            len(self.spark.streams.active),
        )

    def measure(self) -> None:
        """The cold pass, then as many warm passes as fill ``--seconds``
        at the workload's nominal pass time (at least DROPPED_WARM +
        MIN_KEPT)."""
        warm = max(DROPPED_WARM + MIN_KEPT, round(self.seconds / self.wl.pass_s))
        for pass_no in range(warm + 1):
            self.run_pass(pass_no)

    def verify(self) -> None:
        """Every execution's rows against the DuckDB oracle on the same
        inputs, or, for rows-only queries, against the first pass."""
        from distributed_map_reduce_spark.registry import all_queries

        specs = all_queries()
        sqls = {q: specs[q].oracle for q in self.order if specs[q].oracle}
        expected = oracle_keys(self.data_dir, sqls)
        for q, runs in self.results.items():
            want = expected[q] if q in sqls else runs[0][1]
            for pass_no, got in runs:
                if got != want:
                    what = "the DuckDB oracle" if q in sqls else "its first pass"
                    self._fail(f"{q} pass {pass_no}: rows differ from {what}")

    def close(self) -> None:
        """Stop the session and wait until the JVM (and with it every
        Python worker) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.listener is not None:
            _drain_listener(self.listener)
        children = procstat.descendant_pids()
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procstat.wait_gone(children, timeout_s=30)

    def kept_passes(self) -> tuple[list[int], int]:
        """Indices of the warm passes kept, and how many were dropped."""
        return list(range(1 + DROPPED_WARM, len(self.samples))), DROPPED_WARM

    def end_to_end(self) -> tuple[dict, dict]:
        kept, dropped = self.kept_passes()
        per_query = {q: [self.samples[i][q] for i in kept if q in self.samples[i]] for q in self.order}
        flat = sorted(t for ts in per_query.values() for t in ts)
        n = len(flat)
        tail_idx = max(0, n - TAIL_BEYOND - 1)
        metrics = {
            "cold_pass_s": (sum(self.samples[0].values()), "s"),
            "wall_s": (sum(statistics.median(ts) for ts in per_query.values() if ts), "s"),
            "cpu_s": (statistics.median(self.pass_cpu[i] for i in kept), "s"),
            "query_p50_s": (statistics.median(flat), "s"),
            "query_tail_s": (flat[tail_idx], "s"),
        }
        details = {
            "passes": len(self.samples),
            "warm_passes_dropped": dropped,
            "warm_samples": n,
            "tail_percentile": round(100.0 * (tail_idx + 1) / n, 1),
            "pass_cpu_s": [round(c, 3) for c in self.pass_cpu],
            "pass_wall_s": [round(sum(t.values()), 3) for t in self.samples],
            "samples_s": {q: [round(t[q], 3) if q in t else None for t in self.samples] for q in self.order},
            "query_median_s": {q: round(statistics.median(ts), 4) for q, ts in per_query.items() if ts},
            "order": self.order,
        }
        return metrics, details


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def _drain_listener(listener, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
    """Progress events arrive asynchronously: wait until none has come
    for ``quiet_s`` (at most ``limit_s``)."""
    deadline = time.monotonic() + limit_s
    seen = -1
    while time.monotonic() < deadline and seen != len(listener.progress):
        seen = len(listener.progress)
        time.sleep(quiet_s)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    try:
        import distributed_map_reduce_spark.registry  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine package from {ROOT}: {exc}")
        return 2

    t_inputs = time.perf_counter()
    data_dir = ensure_corpus(args.seed)
    warm_jar_cache()
    t_inputs = time.perf_counter() - t_inputs

    # Everything the run writes lives under run_dir and goes with it.
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=WORK)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # A terminated run still stops its JVM and removes run_dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host_start = procstat.host_snapshot()
    sampler = procstat.RssSampler()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), data_dir, run_dir)
    phases = {"inputs": t_inputs}
    try:
        sampler.start()
        t = time.perf_counter()
        try:
            bench.setup()
            setup_s = time.perf_counter() - t_main - t_inputs
            phases["setup"] = time.perf_counter() - t
            t = time.perf_counter()
            bench.measure()
            phases["measure"] = time.perf_counter() - t
        finally:
            sampler.stop()
            t = time.perf_counter()
            bench.close()
            phases["close"] = time.perf_counter() - t
        host_end = procstat.host_snapshot()
        t = time.perf_counter()
        bench.verify()
        phases["verify"] = time.perf_counter() - t

        metrics, details = bench.end_to_end()
        if args.trace:
            import layers

            out = layers.per_layer(bench, run_dir, metrics["wall_s"][0], sampler)
        else:
            out = dict(metrics)
            out["setup_s"] = (setup_s, "s")
            out["peak_rss_mb"] = (sampler.peak_tree_b / 2**20, "MB")
            out["ok_frac"] = ((bench.attempted - bench.failed) / bench.attempted, "fraction")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    details.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "host_start": host_start,
            "host_end": host_end,
            "failures": bench.failures,
            "rss_at_peak_mb": sampler.at_peak,
        }
    )
    print(json.dumps(details), file=sys.stderr)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }
    print(json.dumps(result))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
