"""Self-test of the traced run's attribution.

Runs two RDD jobs whose shape is known exactly, each inside its own span,
plus one job outside any span, through a real local Spark with an
uncompressed event log; then checks that the parser and the time-window
attribution give every job, stage, task and shuffle to the right span.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import operator
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tracing  # noqa: E402

SLOTS = 2


def _span(name: str, fn) -> tracing.Span:
    sp = tracing.Span(name, "action", 0, time.time() * 1000.0, tag=name)
    fn()
    sp.end_ms = time.time() * 1000.0
    time.sleep(0.05)  # keep the next span's window apart
    return sp


def test_known_jobs_land_in_their_spans(tmp_path):
    from pyspark import SparkConf, SparkContext

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    conf = (
        SparkConf()
        .setMaster(f"local[{SLOTS}]")
        .setAppName("perfbench-selftest")
        .set("spark.ui.enabled", "false")
        .set("spark.eventLog.enabled", "true")
        .set("spark.eventLog.dir", f"file://{log_dir}")
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
        .set("spark.local.dir", str(tmp_path))
    )
    sc = SparkContext(conf=conf)
    try:
        # 1 job: a 4-task map stage that writes one shuffle, then a
        # 2-task reduce stage.
        shuffle = _span(
            "shuffle",
            lambda: sc.parallelize(range(100), 4)
            .map(lambda x: (x % 3, 1))
            .reduceByKey(operator.add, 2)
            .collect(),
        )
        sc.parallelize(range(5), 1).count()  # outside every span
        time.sleep(0.05)
        # 1 job: one 3-task stage, no shuffle.
        narrow = _span("narrow", lambda: sc.parallelize(range(10), 3).count())
    finally:
        sc.stop()

    jobs, stages, _ = tracing.parse_event_log(tracing.find_event_log(str(log_dir)))
    assert len(jobs) == 3 and len(stages) == 4
    spans = [narrow, shuffle]  # attribution must not depend on list order
    stats, lost = tracing.attribute(spans, jobs, stages, [])
    assert lost == 1

    n, s = stats
    assert (s.jobs, len(s.stages), sum(x.tasks for x in s.stages)) == (1, 2, 6)
    assert sum(1 for x in s.stages if x.shuffle_write_b > 0) == 1
    assert sum(1 for x in s.stages if x.shuffle_read_b > 0) == 1
    assert (n.jobs, len(n.stages), sum(x.tasks for x in n.stages)) == (1, 1, 3)
    assert all(x.shuffle_write_b == 0 and x.shuffle_read_b == 0 for x in n.stages)
    # setJobGroup was never called, so every job is "untagged".
    assert s.untagged_jobs == 1 and n.untagged_jobs == 1

    # One phase's numbers add up: executor run time fits in wall x slots,
    # and the stages ran inside the span.
    for sp, st in ((shuffle, s), (narrow, n)):
        wall_ms = sp.end_ms - sp.start_ms
        assert sum(x.run_ms for x in st.stages) <= wall_ms * SLOTS
        busy = tracing.covered_ms([(x.submit_ms, x.end_ms) for x in st.stages], sp.start_ms, sp.end_ms)
        assert 0 < busy <= wall_ms


def test_covered_ms_merges_overlaps_and_clips():
    assert tracing.covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert tracing.covered_ms([(0, 10), (5, 15), (20, 30)], 8, 25) == 12
    assert tracing.covered_ms([], 0, 10) == 0
