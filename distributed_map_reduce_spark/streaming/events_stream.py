"""Structured Streaming twin of the batch event queries.

The reference has no streaming at all (SURVEY §2.3); this module is the
Spark-native answer: the SAME logical aggregation as q14 (tumbling 1 h
windows over events) expressed as a stream with a watermark, runnable
with Trigger.availableNow over the parquet table so tests can assert
batch/stream agreement (the oracle can't run a stream — the hash gate
lives on q14; here the contract is stream == batch).

Scale notes: at 100 TB/day the same code reads Kafka instead of
parquet — only ``readStream`` options change. The watermark bounds
state: windows older than (max event time - 10 min) are finalized and
evicted. 'append' output mode emits each window exactly once, on
watermark passage.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# readStream needs an explicit schema (no inference on streams). The
# physical type of events.ts has varied across testdata generations
# (TIMESTAMP(NANOS) -> long under nanosAsLong; TIMESTAMP(MICROS) ->
# timestamp_ntz), so a stream's schema is derived from the batch footer
# read — exactly the posture of sources/tables.py. That read runs a
# Spark job, so it is memoised per (session, sf dir, table) in the
# session's cache: every later stream over the table in the session
# reuses one footer read.


def stream_schema(spark: SparkSession, sf_dir: str, table: str) -> T.StructType:
    from ..sources.tables import session_cache

    root = sf_dir.rstrip("/")
    cache = session_cache(spark)
    key = ("stream_schema", root, table)
    if key not in cache:
        cache[key] = spark.read.parquet(f"{root}/{table}.parquet").schema
    return cache[key]


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Engine-level conf (see session.py); set only for foreign sessions.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file-stream source requires a directory; target the sf dir and
    # glob-filter down to the events table file.
    phys = stream_schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(phys)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir.rstrip("/"))
    )
    # NOTE: ends as TIMESTAMP (ltz) here — watermarks require it
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ). Session tz is UTC, so
    # wall-clock values equal the batch NTZ path; outputs cast back.
    if phys["ts"].dataType.simpleString() == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_windows_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "10 minutes",
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Streaming q14 (tumbling) / q39 (set ``window='2 hours'``,
    ``slide='1 hour'``): time windows with late data bounded by the
    watermark. Returns the unstarted streaming DataFrame."""
    ev = events_stream(spark, sf_dir)
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("w"),
            "event_type",
            "n",
            "total",
        )
    )


def sessionized_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of batch q32: gap-based sessions via
    ``session_window`` + watermark. In append mode a session emits once
    its close is final — i.e. the watermark has passed session end — so
    a drained stream yields exactly the batch sessions except those still
    open within the final watermark. State per key is one open session,
    evicted on emission; at 100 TB/day the watermark is the knob bounding
    state size."""
    from ..operators.events import SESSION_GAP

    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total",
        )
    )


def deduped_stream(
    spark: SparkSession, src_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact-dedup: first occurrence of each event_id wins,
    replays/retransmissions within the watermark horizon are dropped —
    the streaming twin of batch q16 and the front door of a streaming
    ingestion pipeline (at-least-once upstream -> exactly-once data).

    ``dropDuplicates`` keyed by (event_id) with a watermark bounds state:
    ids older than the watermark are evicted, so memory is
    O(events per horizon), not O(all history). ``src_dir`` is a directory
    of parquet event files (the test builds one with planted replays).
    """
    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .parquet(src_dir)
    )
    return raw.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def deduped_stream_within_watermark(
    spark: SparkSession, src_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Same contract on ``dropDuplicatesWithinWatermark`` — the newer
    API whose state eviction is keyed on when a duplicate can still
    ARRIVE (event time + watermark delta) rather than on the key's own
    event time, so late replays of an old event are still caught while
    state stays bounded. The operational choice between the two is a
    replay-horizon question; both are exactly-once within horizon."""
    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .parquet(src_dir)
    )
    return raw.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enriched_segment_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the live event stream joined to the
    customer dimension (user_id -> market segment), then aggregated per
    (segment, event_type) — the canonical streaming-ETL shape the batch
    suite expresses as q6-style dim joins.

    The static side is a plain batch DataFrame; Spark re-plans it per
    micro-batch (so a dim refresh is picked up on the next batch) and,
    with the explicit hint, broadcasts it — no shuffle of the stream
    side, no streaming state for the join itself. State exists only in
    the downstream aggregate; 'complete' output keeps it exact for the
    drain-and-compare test. At 100 TB/day the same plan holds: the dim
    broadcast is per-batch, the agg state is O(segments x types).
    """
    from ..sources import load_table

    ev = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    # Money is summed as integer CENTS (floor(x*100 + 0.5) on the same
    # double in both engines): streaming partial aggregation sums doubles
    # in a different order than the oracle, so a total landing on an
    # exact .xx5 boundary can flip ROUND's cent — integer sums are
    # order-free and exact (same fix as q88).
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents) / 100.0).alias("total"),
        )
    )


def click_purchase_stream_join(
    spark: SparkSession, sf_dir: str, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: live purchases matched to the same
    user's clicks from the preceding hour — the stateful two-stream
    surface (attribution joins, funnel analysis) whose batch twin is
    q33's as-of join family.

    Both sides carry watermarks and the join predicate bounds event-time
    distance, so Spark can evict buffered rows once the other side's
    watermark passes the horizon: state is O(events per horizon) per
    side, not unbounded — the requirement for running this against an
    infinite source. Inner join + availableNow drain processes the whole
    backlog, so the result equals the identical batch join exactly.
    """
    ev = events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    return (
        clicks.withWatermark("click_ts", "10 minutes")
        .join(
            purchases.withWatermark("purchase_ts", "10 minutes"),
            F.expr(
                f"""
                c_user = p_user AND
                click_ts <= purchase_ts AND
                click_ts >= purchase_ts - INTERVAL {horizon}
                """
            ),
        )
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
            "value",
        )
    )


# --- custom stateful operator: applyInPandasWithState -----------------------

RUNNING_TOTALS_OUT = "user_id bigint, n_events bigint, total double"
_RUNNING_TOTALS_STATE = "n bigint, total double"


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (event count, value sum) maintained across
    micro-batches — the engine's custom-stateful-operator surface, the
    Spark-native analog of a user reduce function that keeps state
    between calls (the reference's reduce sees all values at once;
    streaming cannot, hence explicit state).

    Built on ``applyInPandasWithState``: grouped rows arrive as Arrow
    batches, state is a typed tuple per key, and each batch emits the
    updated running totals for the keys it touched ('update' semantics).
    State is O(#users) regardless of event volume; no timeout is set
    because the totals are cumulative forever (a real pipeline would use
    ``GroupStateTimeout.ProcessingTimeTimeout`` to expire idle users).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            RUNNING_TOTALS_OUT,
            _RUNNING_TOTALS_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


# --- custom stateful operator: per-user stats (old + new API twins) ----------

USER_STATS_OUT = (
    "user_id bigint, n_events bigint, cents bigint, max_value double"
)
_USER_STATS_STATE = "n bigint, cents bigint, mx double"


def user_stats_stateful(events: DataFrame) -> DataFrame:
    """Per-user cumulative (count, floor-cent value sum, max value) —
    the hash-checkable custom-stateful operator behind q94. Same
    ``applyInPandasWithState`` surface as user_running_totals, but the
    value sum is maintained in integer cents (floor(v*100+0.5)) so the
    cross-engine gate never hits double summation-order rounding (the
    q81/q88 lesson). State is O(#users)."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, cents, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum()
            )
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, cents, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "cents": [cents],
                "max_value": [mx],
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            USER_STATS_OUT,
            _USER_STATS_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def user_stats_tws(events: DataFrame) -> DataFrame:
    """Modern-API twin of user_stats_stateful on
    ``transformWithStateInPandas`` — the Spark 4 successor to
    ``applyInPandasWithState``: typed, named state slots on a handle
    instead of one positional tuple, plus timers/TTL the old API lacks.

    IMPORT-GATED: the transformWithState Python driver worker speaks a
    protobuf protocol (pyspark/sql/streaming/proto/StateMessage_pb2),
    so it requires ``google.protobuf`` at runtime — absent in this
    container (verified: the pre-init worker dies on the import). The
    operator raises ImportError eagerly when protobuf is missing;
    tests skip on that. It also requires the RocksDB state store
    provider (q94's drain wrapper shows the conf)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env without protobuf
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf (the "
            "stateful-processor driver worker's wire protocol); install "
            "protobuf or use user_stats_stateful (applyInPandasWithState) "
            "for identical semantics"
        ) from exc

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", _USER_STATS_STATE)

        def handleInputRows(self, key, rows, timer_values):
            import numpy as np
            import pandas as pd

            n, cents, mx = (
                self._agg.get() if self._agg.exists()
                else (0, 0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum()
                )
                mx = max(mx, float(pdf["value"].max()))
            self._agg.update((n, cents, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "cents": [cents],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _UserStats(), USER_STATS_OUT, "Update", "None"
        )
    )


def q94_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the custom-stateful per-user stats with availableNow and
    reduce the update log to each user's final state (n_events strictly
    increases per update, so max_by is exact). Checked against the batch
    groupBy oracle — the custom-stateful path gets a hash-checked row,
    not just a stream==batch pytest."""
    return (
        drain(user_stats_stateful(events_stream(spark, sf_dir)), "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("cents", "n_events").alias("cents"),
            F.max_by("max_value", "n_events").alias("max_value"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("cents") / 100.0).alias("total"),
            "max_value",
        )
        .orderBy("user_id")
    )


Q94_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# Ceiling on a drain's shuffle partitions, hence on its state-store
# instance count: one instance per shuffle partition, and for a finite
# drain the per-instance checkpoint/commit overhead dominates well
# before data volume does (measured: the stream-stream join fell from
# 11 s to ~4 s at sf0.1 going 32 -> 8). Below the ceiling the width
# depends on where the state function runs (``state_width``). A
# stream's state partitioning is fixed at its first checkpoint, so on a
# real cluster it is sized ONCE to the steady-state volume — it is not
# a per-query tunable there.
STATE_PARTITIONS = 8


def state_width(python_state: bool, parallelism: int) -> int:
    """State partitions for a drain: ``min(STATE_PARTITIONS,
    parallelism)`` when a state function runs in Python, else 1.

    A JVM state operator's per-key work is cheap next to a store commit,
    so a finite drain runs fastest in one store (measured at sf0.1 on
    local[4], widths 8/4/2/1: q80 4.43/3.24/2.75/2.72 s). A Python state
    function is CPU-bound per key and needs the cores (q94
    3.39/2.56/3.05/4.27 s)."""
    return min(STATE_PARTITIONS, parallelism) if python_state else 1


def _has_python_state(stream_df: DataFrame) -> bool:
    """Whether the stream's plan runs an ``applyInPandasWithState``
    function (``FlatMapGroupsInPandasWithState``)."""
    stack = [stream_df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


@contextmanager
def state_partitions(stream_df: DataFrame):
    """Set ``spark.sql.shuffle.partitions`` to the stream's
    ``state_width`` around its ``start()`` only. The query clones the
    session when it starts, so restoring the session value right after
    ``start()`` leaves the running stream at that width while anything
    else on the session sees the change for no longer than the start
    call."""
    spark = stream_df.sparkSession
    width = state_width(
        _has_python_state(stream_df), spark.sparkContext.defaultParallelism
    )
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    spark.conf.set(key, str(width))
    try:
        yield
    finally:
        spark.conf.set(key, orig)


def drain(
    stream_df: DataFrame,
    output_mode: str = "complete",
    *,
    multi_batch: bool = False,
) -> DataFrame:
    """Run the stream over its whole backlog into a memory sink and
    return the sink's rows as a batch DataFrame.

    The drain owns its temp checkpoint, a unique sink name and the
    state-partition scope (``state_partitions``), and removes the
    checkpoint dir and the sink's temp view on success and failure
    alike: a memory sink cannot recover from a checkpoint, so neither
    is needed once the query has ended. The returned frame keeps the
    sink's in-memory plan after the view is dropped; its rows are freed
    with the frame.

    The trigger is availableNow. ``multi_batch`` uses Spark's default
    micro-batch trigger with ``processAllAvailable()`` then ``stop()``
    instead, for Python DataSource streams: they have no availableNow
    hook and deliver only ONE micro-batch per ``start()`` under it
    (q236)."""
    spark = stream_df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="dmrs_drain_")
    q = None
    try:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
        )
        if not multi_batch:
            writer = writer.trigger(availableNow=True)
        with state_partitions(stream_df):
            q = writer.start()
        if multi_batch:
            q.processAllAvailable()
        else:
            q.awaitTermination()
        return spark.table(name)
    finally:
        if q is not None:
            q.stop()
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def q14_streaming_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-checkable streaming entry: drain the tumbling-window stream
    (the streaming twin of q14) with Trigger.availableNow into a memory
    sink and return the sink — so the DuckDB oracle gate covers the
    Structured Streaming path, not just the batch twin. 'complete'
    output keeps every window (append would hold back windows the final
    watermark hasn't passed), so a full drain equals the batch result
    exactly."""
    return drain(hourly_windows_stream(spark, sf_dir)).orderBy("w", "event_type")


def q39_streaming_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (2 h / 1 h) stream drained with availableNow —
    the overlapping-window state path, checked against batch q39's
    oracle. Every event lives in two windows, so this also proves the
    stream replicates rows into member windows identically to batch."""
    return drain(
        hourly_windows_stream(spark, sf_dir, window="2 hours", slide="1 hour")
    ).orderBy("w", "event_type")


def q32_streaming_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization stream drained with availableNow —
    'complete' mode emits every session including those a watermark
    would still hold open, so the full drain equals batch q32 exactly
    and the DuckDB oracle can check the session-window STATE path, not
    just the batch expression."""
    return drain(sessionized_stream(spark, sf_dir)).orderBy(
        "user_id", "session_start"
    )


def q80_streaming_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join drained with availableNow — the
    two-sided stateful join surface (buffered rows evicted by watermark)
    checked against a plain SQL interval join: a full drain of the
    backlog must equal the batch join exactly."""
    return drain(click_purchase_stream_join(spark, sf_dir), "append").orderBy(
        "purchase_id", "click_id"
    )


Q80_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       p.ts AS purchase_ts, c.ts AS click_ts, p.value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
ORDER BY purchase_id, click_id
"""


def q81_streaming_enrich_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (broadcast dim join inside a stream)
    drained with availableNow in 'complete' mode, checked against the
    equivalent batch join+aggregate SQL."""
    return drain(enriched_segment_stream(spark, sf_dir)).orderBy(
        "segment", "event_type"
    )


Q81_ORACLE = """
SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n,
       SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM events JOIN customer ON user_id = c_custkey
GROUP BY segment, event_type
ORDER BY segment, event_type
"""


def at_least_once_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event stream unioned with itself: ONE file-stream source whose
    every micro-batch is read twice, so each record is delivered exactly
    twice — at-least-once delivery with the duplicates planted."""
    ev = events_stream(spark, sf_dir)
    return ev.union(ev)


def q99_streaming_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup under at-least-once delivery, hash-checked:
    ``at_least_once_events`` delivers every record twice (the upstream
    reality dropDuplicates exists for); keyed dedup state keeps the
    first occurrence of each event_id, and the drained survivors are
    aggregated per event_type and compared to a batch oracle over the
    ORIGINAL table — if any replay leaked or any id was dropped, counts
    and cent-exact sums cannot match. That the replays really arrive is
    pinned separately: a drain without the dedup yields exactly twice
    the table's rows.

    The dedup runs in the stream (append mode — each first occurrence
    emits exactly once); the report aggregate runs on the drained memory
    sink in batch, so the stateful operator under test is isolated. At
    100 TB/day the same plan bounds state by adding a watermark
    (``deduped_stream`` above); the finite drain here omits it so the
    oracle equality is exact rather than horizon-dependent."""
    at_least_once = at_least_once_events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    return (
        drain(at_least_once.dropDuplicates(["event_id"]), "append")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents) / 100.0).alias("total"),
        )
        .orderBy("event_type")
    )


Q99_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q153_streaming_cusum_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift detection: the heavy pass of q148 (the daily
    cents-per-type aggregate — the only stage that touches raw event
    volume) runs as a 1-day tumbling-window STREAMING aggregate drained
    with availableNow in complete mode, and the tiny CUSUM tail is the
    literal shared function batch q148 calls (`cusum_tail`). So the
    stream==batch guarantee extends to the drift family by
    construction: if the streamed daily frame matches batch (windowed
    state, late-data handling), the drift report matches bit-for-bit —
    and the DuckDB oracle (Q148's) checks exactly that.

    This is the production posture for drift monitoring at 100 TB:
    the state store holds one row per (type, day) — calendar-bounded —
    while the detector itself reruns per drain over thousands of rows."""
    from ..operators.events import cusum_tail

    ev = events_stream(spark, sf_dir)
    daily = ev.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("x")
    )
    drained = drain(daily).select(
        "event_type",
        # ltz window start -> NTZ wall-clock, matching batch date_trunc
        F.to_timestamp(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss"))
        .alias("d"),
        "x",
    )
    return cusum_tail(drained)


def _q148_oracle() -> str:
    from ..operators.events import Q148_ORACLE

    return Q148_ORACLE


def _build_queries():
    from ..operators.events import Q14_ORACLE, Q32_ORACLE, Q39_ORACLE
    from ..registry import QuerySpec

    return [
        QuerySpec(
            "q14_streaming_twin",
            q14_streaming_twin,
            Q14_ORACLE,
            "availableNow drain of the tumbling-window stream (== q14)",
            ("streaming", "events"),
        ),
        QuerySpec(
            "q39_streaming_twin",
            q39_streaming_twin,
            Q39_ORACLE,
            "availableNow drain of the sliding-window stream (== q39)",
            ("streaming", "events"),
        ),
        QuerySpec(
            "q32_streaming_twin",
            q32_streaming_twin,
            Q32_ORACLE,
            "availableNow drain of the session-window stream (== q32)",
            ("streaming", "events", "session"),
        ),
        QuerySpec(
            "q80_streaming_join_twin",
            q80_streaming_join_twin,
            Q80_ORACLE,
            "stream-stream interval join drain (== batch interval join)",
            ("streaming", "events", "join"),
        ),
        QuerySpec(
            "q81_streaming_enrich_twin",
            q81_streaming_enrich_twin,
            Q81_ORACLE,
            "stream-static broadcast enrichment drain (== batch join+agg)",
            ("streaming", "events", "enrich"),
        ),
        QuerySpec(
            "q94_stateful_user_stats",
            q94_stateful_user_stats,
            Q94_ORACLE,
            "applyInPandasWithState per-user stats drain (== batch groupBy)",
            ("streaming", "events", "stateful"),
        ),
        QuerySpec(
            "q99_streaming_dedup_twin",
            q99_streaming_dedup_twin,
            Q99_ORACLE,
            "keyed dropDuplicates under doubled delivery, drained and "
            "aggregated (== batch agg over the original table)",
            ("streaming", "events", "dedup"),
        ),
        QuerySpec(
            "q153_streaming_cusum_twin",
            q153_streaming_cusum_twin,
            _q148_oracle(),
            "1-day windowed streaming aggregate drained into the shared "
            "CUSUM tail (== batch q148 drift report)",
            ("streaming", "events", "drift"),
        ),
    ]


QUERIES = _build_queries()
