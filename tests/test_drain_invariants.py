"""Drain invariants: a drained streaming twin leaves nothing behind — no
temp dir, no catalog view, no active stream, no changed session conf —
while its stateful operators still ran at 8 state partitions; and a
drain whose stream fails cleans up the same way."""

import os
import tempfile

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming import StreamingQueryListener

from distributed_map_reduce_spark.registry import all_queries

TWINS = (
    "q14_streaming_twin",
    "q99_streaming_dedup_twin",
    "q236_watermark_dedup_twin",
)


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
    try:
        for name in TWINS:
            assert specs[name].build(spark, sf_dir).collect()
        _flush_listener_events(spark)
    finally:
        spark.streams.removeListener(listener)
    _assert_unchanged(spark, before)
    # one run per twin, each with stateful operators, all at 8
    assert len(listener.widths) == len(TWINS)
    assert all(w == {8} for w in listener.widths.values())


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
