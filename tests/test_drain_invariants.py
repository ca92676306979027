"""Drain invariants: a drained streaming twin leaves nothing behind — no
temp dir, no catalog view, no active stream, no changed session conf —
while its stateful operators ran at the width ``state_width`` gives
them; a drain whose stream fails cleans up the same way; each streaming
warm-up step warms only its own machinery and cleans up the same way;
and the per-application scratch dirs of the persistent-checkpoint
queries are removed by their exit hook."""

import contextlib
import os
import tempfile

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming import StreamingQueryListener

from distributed_map_reduce_spark.registry import all_queries

# Each twin's state width: JVM state operators drain into one store.
TWINS = {
    "q14_streaming_twin": 1,
    "q99_streaming_dedup_twin": 1,
    "q236_watermark_dedup_twin": 1,
}


class _StateOperatorWidths(StreamingQueryListener):
    """numShufflePartitions of every stateful operator, per query run."""

    def __init__(self):
        self.widths = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.widths.setdefault(str(p.runId), set()).update(
            op.numShufflePartitions for op in p.stateOperators
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _flush_listener_events(spark):
    """Block until queued listener events (progress reports reach
    Python listeners asynchronously) have been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _footprint(spark):
    return (
        set(os.listdir(tempfile.gettempdir())),
        sorted(t.name for t in spark.catalog.listTables()),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _assert_unchanged(spark, before):
    dirs, tables, partitions = _footprint(spark)
    assert dirs - before[0] == set()
    assert (tables, partitions) == before[1:]
    assert spark.streams.active == []


def test_twins_leave_no_dirs_views_streams_or_conf(spark, sf_dir):
    specs = all_queries()
    # The first run may create process-lifetime files (the JVM's native
    # codec libraries, the session's artifact dir); measure the second.
    for name in TWINS:
        specs[name].build(spark, sf_dir).collect()
    listener = _StateOperatorWidths()
    before = _footprint(spark)
    _flush_listener_events(spark)
    spark.streams.addListener(listener)
    widths = {}
    try:
        for name in TWINS:
            seen = set(listener.widths)
            assert specs[name].build(spark, sf_dir).collect()
            _flush_listener_events(spark)
            # one run per twin, each with stateful operators
            (run,) = set(listener.widths) - seen
            widths[name] = listener.widths[run]
    finally:
        spark.streams.removeListener(listener)
    _assert_unchanged(spark, before)
    assert widths == {name: {w} for name, w in TWINS.items()}


def test_failed_drain_cleans_up(spark, sf_dir):
    from distributed_map_reduce_spark.streaming.events_stream import (
        drain,
        events_stream,
    )

    before = _footprint(spark)
    failing = events_stream(spark, sf_dir).select(
        F.raise_error(F.lit("drain-probe-failure")).alias("x")
    )
    with pytest.raises(StreamingQueryException, match="drain-probe-failure"):
        drain(failing, "append")
    _assert_unchanged(spark, before)


def test_state_width_branches():
    from distributed_map_reduce_spark.streaming.events_stream import (
        STATE_PARTITIONS,
        state_width,
    )

    # JVM state: one store, whatever the parallelism
    assert state_width(False, 4) == 1
    assert state_width(False, 32) == 1
    # a Python state function gets the parallelism, capped at 8
    assert state_width(True, 4) == 4
    assert state_width(True, 1) == 1
    assert state_width(True, 32) == STATE_PARTITIONS


def test_python_state_found_in_plan(spark, sf_dir):
    from distributed_map_reduce_spark.streaming.events_stream import (
        _has_python_state,
        at_least_once_events,
        enriched_segment_stream,
        events_stream,
        user_stats_stateful,
    )

    assert not _has_python_state(events_stream(spark, sf_dir))
    assert not _has_python_state(at_least_once_events(spark, sf_dir))
    assert not _has_python_state(enriched_segment_stream(spark, sf_dir))
    assert _has_python_state(user_stats_stateful(events_stream(spark, sf_dir)))


def test_q99_stream_delivers_every_event_twice(spark, sf_dir):
    """q99's dedup check is only meaningful if the replays arrive: the
    at-least-once stream drained WITHOUT dropDuplicates holds exactly
    two copies of the events table."""
    from distributed_map_reduce_spark.sources import load_table
    from distributed_map_reduce_spark.streaming.events_stream import (
        at_least_once_events,
        drain,
    )

    n_events = load_table(spark, sf_dir, "events").count()
    assert n_events > 0
    drained = drain(at_least_once_events(spark, sf_dir), "append")
    assert drained.count() == 2 * n_events
    assert drained.select("event_id").distinct().count() == n_events


class _StartedSources(StreamingQueryListener):
    """Source descriptions of every query run started, by run id."""

    def __init__(self):
        self.sources = {}

    def onQueryStarted(self, event):
        self.sources.setdefault(str(event.runId), set())

    def onQueryProgress(self, event):
        p = event.progress
        self.sources.setdefault(str(p.runId), set()).update(
            s.description for s in p.sources
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _docrange_registered(spark):
    return (
        spark._jsparkSession.sessionState()
        .dataSourceManager()
        .dataSourceExists("docrange")
    )


def _warm_footprint(spark):
    return (
        {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("dmrs_")},
        sorted(t.name for t in spark.catalog.listTables()),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


@contextlib.contextmanager
def _active(spark):
    """Make ``spark`` the JVM's active session. Registering a Python
    data source checks its name against the active session's sources,
    which are otherwise the fixture session's."""
    jss = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jss.getActiveSession()
    jss.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            jss.setActiveSession(prev.get())
        else:
            jss.clearActiveSession()


def _warm(spark, step):
    """Run one warm-up step, checking it leaves nothing behind; return
    the source descriptions of the queries it ran, by run id."""
    listener = _StartedSources()
    before = _warm_footprint(spark)
    _flush_listener_events(spark)
    spark.streams.addListener(listener)
    try:
        with _active(spark):
            step(spark)
        _flush_listener_events(spark)
    finally:
        spark.streams.removeListener(listener)
    assert _warm_footprint(spark) == before
    assert spark.streams.active == []
    return listener.sources


def test_stream_warmup_runs_only_the_jvm_file_source(fresh):
    """The streaming warm-up drains one file-stream query and leaves the
    Python DataSource machinery cold: docrange stays unregistered."""
    from distributed_map_reduce_spark.streaming.warmup import (
        warm_streaming_machinery,
    )

    assert not _docrange_registered(fresh)
    (sources,) = _warm(fresh, warm_streaming_machinery).values()
    assert not _docrange_registered(fresh)
    assert sources
    assert all(s.startswith("FileStreamSource") for s in sources)


def test_python_source_warmup_registers_docrange(fresh):
    from distributed_map_reduce_spark.streaming.warmup import (
        warm_python_stream_source,
    )

    assert not _docrange_registered(fresh)
    (sources,) = _warm(fresh, warm_python_stream_source).values()
    assert sources
    assert not any(s.startswith("FileStreamSource") for s in sources)
    assert _docrange_registered(fresh)


def test_app_scratch_dirs_removed_by_exit_hook(monkeypatch):
    """One exit hook per application removes every scratch dir handed
    out to it. A stand-in session keeps the real application's dirs
    (q206/q214/q217/q219) out of the test."""
    from types import SimpleNamespace

    from distributed_map_reduce_spark import session

    hooks = []
    monkeypatch.setattr(
        session.atexit, "register", lambda f, *a: hooks.append((f, a))
    )
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-scratch-probe")
    )
    a = session.app_scratch_dir(fake, "/corpus", "probe_a")
    b = session.app_scratch_dir(fake, "/corpus", "probe_b")
    # stable per (sf dir, application), one hook for the application
    assert session.app_scratch_dir(fake, "/corpus", "probe_a") == a
    assert a != b
    assert os.path.basename(a).startswith("dmrs_probe_a_")
    assert hooks == [(session.remove_app_scratch_dirs, ("app-scratch-probe",))]
    for d in (a, b):
        os.makedirs(os.path.join(d, "sub"))
    fn, args = hooks[0]
    fn(*args)
    assert not os.path.exists(a) and not os.path.exists(b)
