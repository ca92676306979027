"""Event-table queries: time bucketing (Q14) and JSON extraction (Q15).

Q14 is the deterministic batch twin of the Structured Streaming path
(``distributed_map_reduce_spark.streaming``): the same tumbling-window
aggregation expressed with date_trunc so a DuckDB oracle can check it.
The streaming module runs the *same* logical aggregation with
``window()`` + watermark; tests assert batch/stream agreement — the
oracle can't run a stream, so the hash gate lives here.

Scale notes: events at 100 TB arrive time-partitioned; date_trunc
bucketing aggregates within natural partition boundaries (no repartition
by time needed), and get_json_object is a codegen-friendly JSON path
scan — no Python, no full JSON parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..session import app_scratch_dir
from ..sources import load_table


def q14_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .orderBy("w", "event_type")
    )


Q14_ORACLE = """
SELECT DATE_TRUNC('hour', ts) AS w,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total
FROM events
GROUP BY DATE_TRUNC('hour', ts), event_type
ORDER BY w, event_type
"""


def q15_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(
                F.get_json_object("props", "$.k").cast("bigint")
            ).alias("sum_k")
        )
        .orderBy("event_type")
    )


Q15_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q203_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4's native type for JSON):
    ``parse_json`` decodes each props document ONCE into the Variant
    binary encoding, then every field access is a typed ``variant_get``
    over the pre-parsed value — the scale path q15's per-call
    ``get_json_object`` string re-parsing cannot take (N extractions =
    N full JSON parses there; 1 parse + N binary probes here). The
    rollup reads the same field four ways (sum/min/max/distinct), plus
    a ``try_variant_get`` miss-count demonstrating NULL-safe access to
    an absent path.

    Determinism: everything is integer aggregates over the extracted
    BIGINT; the oracle replays the accesses with DuckDB's json_extract
    (both engines implement JSONPath '$.k' identically on these flat
    one-key documents).

    Reference lineage: none — the reference treats values as opaque
    strings end-to-end (SURVEY §2.3 "no JSON functions"); this is the
    engine-surface gap item, same rationale as q15/q52."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count_distinct(k).alias("n_distinct_k"),
            F.count(
                F.when(
                    F.try_variant_get("v", "$.absent", "bigint").isNull(),
                    1,
                )
            ).alias("n_absent"),
        )
        .orderBy("event_type")
    )


Q203_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
         AS n_distinct_k,
       COUNT(CASE WHEN CAST(json_extract(props, '$.absent') AS BIGINT)
                       IS NULL THEN 1 END) AS n_absent
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q206_variant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT storage round trip — the write half q203 left open: the
    parsed Variant column is WRITTEN to parquet (Spark persists it as
    the typed_value/metadata binary pair of the Parquet variant spec)
    and read back, and the rollup runs over the READ-BACK frame. At
    100 TB this is the parse-once-store-forever posture: ingest pays
    ``parse_json`` one time, every later reader does typed binary
    probes against the parquet-resident encoding with zero re-parsing,
    and non-variant columns still prune/push down normally (the
    event_type grouping never touches the variant bytes' JSON text).

    Output is deliberately disjoint from q203's rollup (evenness split
    + event_id range vs q203's min/max/distinct) so the two queries
    pin different extraction paths over the same field.

    Determinism: integer aggregates only; the temp write location does
    not influence values.

    Reference lineage: none — the reference's sinks are plain text
    (worker.go:303-334); typed semi-structured STORAGE is an
    engine-surface gap item, same rationale as q203."""
    # Overwritten on every build, so repeated invocations reuse one
    # on-disk copy instead of leaking a full-table copy per call.
    tmp = app_scratch_dir(spark, sf_dir, "q206_variant")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.select("event_id", "event_type", F.parse_json("props").alias("v"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    back = spark.read.parquet(tmp)
    k = F.variant_get("v", "$.k", "bigint")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.sum(F.when(k % 2 == 0, F.lit(1)).otherwise(F.lit(0))).alias(
                "n_even_k"
            ),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


Q206_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q52_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: parse props into a MapType
    (`from_json` -> map<string,bigint>), then element_at lookup and
    map_keys cardinality — §2.3 lists map functions among the
    reference's gaps; q15 covers string-path JSON extraction, this
    covers the typed-map path. All JVM-side codegen, one scan +
    one 4-group shuffle."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.select("event_type", m.alias("m"))
        .groupBy("event_type")
        .agg(
            F.sum(F.element_at("m", F.lit("k"))).alias("sum_k"),
            F.sum(F.size(F.map_keys("m"))).alias("n_keys"),
        )
        .orderBy("event_type")
    )


# DuckDB twin avoids maps (its MAP semantics differ): json_extract for
# the lookup, len(json_keys()) for cardinality — same values.
Q52_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(len(json_keys(props))) AS BIGINT) AS n_keys
FROM events
GROUP BY event_type
ORDER BY event_type
"""


GAPFILL_START = "2024-01-01 00:00:00"
GAPFILL_END = "2024-01-03 23:00:00"  # inclusive last bucket


def q59_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-to-dense time series: every (hour, event_type) cell of a
    fixed 72 h grid, zero-filled where no events landed — the resample/
    gap-fill op dashboards and training-data collators need (a plain
    groupBy silently drops empty buckets). The dense axis is generated
    with `sequence` + explode (a literal relation, no scan), the type
    dimension is a tiny distinct broadcast, and the event aggregate
    left-joins onto the grid. Grid size = hours x types regardless of
    event volume, so the join stays broadcast-able at any scale."""
    ev = load_table(spark, sf_dir, "events")
    hours = spark.range(1).select(
        F.explode(
            F.expr(
                f"sequence(TIMESTAMP_NTZ '{GAPFILL_START}',"
                f" TIMESTAMP_NTZ '{GAPFILL_END}', INTERVAL 1 HOUR)"
            )
        ).alias("w")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    agg = (
        ev.filter(
            (F.col("ts") >= F.lit(GAPFILL_START).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tot"),
        )
    )
    return (
        grid.join(agg, ["w", "event_type"], "left")
        .select(
            "w",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("tot", F.lit(0.0)).alias("tot"),
        )
        .orderBy("w", "event_type")
    )


Q59_ORACLE = f"""
WITH hours AS (
  SELECT unnest(generate_series(TIMESTAMP '{GAPFILL_START}',
                                TIMESTAMP '{GAPFILL_END}',
                                INTERVAL 1 HOUR)) AS w
),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
  SELECT date_trunc('hour', ts) AS w, event_type,
         COUNT(*) AS n, ROUND(SUM(value), 2) AS tot
  FROM events
  WHERE ts >= TIMESTAMP '{GAPFILL_START}'
    AND ts < TIMESTAMP '2024-01-04 00:00:00'
  GROUP BY 1, 2
)
SELECT h.w AS w, t.event_type AS event_type,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.tot, 0.0) AS tot
FROM hours h
CROSS JOIN types t
LEFT JOIN agg a ON a.w = h.w AND a.event_type = t.event_type
ORDER BY h.w, t.event_type
"""


def q74_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup reuse (the hypertable continuous-
    aggregate pattern): the DAILY aggregate is computed FROM the hourly
    layer, never from raw events — count and sum re-aggregate exactly
    because they are algebraic, so the hourly layer carries UNROUNDED
    sums and rounding happens once at the final resolution. At 100 TB
    the hourly layer is materialized once (~events/3600 rows) and every
    coarser resolution (day/week/month) reads it instead of re-scanning
    the fact table; the oracle aggregates raw events directly, proving
    rollup-from-rollup == direct."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("tot"),  # unrounded: re-aggregated below
    )
    return (
        # .cast("date"): Spark date_trunc returns a timestamp, DuckDB's
        # day-truncation a DATE — and a day IS a date
        hourly.groupBy(
            F.date_trunc("day", "w").cast("date").alias("day"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("tot"), 2).alias("total"),
        )
        .orderBy("day", "event_type")
    )


Q74_ORACLE = """
SELECT DATE_TRUNC('day', ts) AS day,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def q39_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2 h length, 1 h slide — each event counts in two
    overlapping windows (vs q14's tumbling windows, where it counts
    once). Spark's ``window()`` generates the member windows per row
    (epoch-aligned starts); the oracle replicates each event into its
    two containing windows explicitly. Same expression streams under a
    watermark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("tts", F.col("ts").cast("timestamp"))
        .groupBy(
            F.window("tts", "2 hours", "1 hour").alias("win"), "event_type"
        )
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
        .orderBy("w", "event_type")
    )


Q39_ORACLE = """
SELECT DATE_TRUNC('hour', ts) - off.o * INTERVAL 1 HOUR AS w,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total
FROM events
CROSS JOIN (VALUES (0), (1)) AS off(o)
GROUP BY 1, 2
ORDER BY w, event_type
"""


SESSION_GAP = "6 hours"


def q32_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via native ``session_window``.

    A session = maximal run of a user's events where consecutive gaps are
    <= 6 h; ``session_end`` is Spark's convention, last event + gap. The
    oracle reproduces it relationally (lag -> gap > 6h marks a new
    session -> running sum numbers sessions -> group), which pins the
    boundary rule: the bound is CLOSED — an event exactly 6 h after the
    previous one MERGES into the session (Spark merges while ts <=
    previous end; pinned in
    tests/properties/test_r15_candidate_probes.py, which is why the
    replay breaks on strictly > gap — a >= break would split sessions
    Spark keeps together; hardened at r15, the data never hits an exact
    6 h gap so every prior green stands).

    Scale notes: session_window is a single shuffle on user_id followed
    by a per-key sort-merge of windows — no self-join, no window-function
    second pass like the lag formulation would need. The same expression
    works under ``readStream`` + watermark (state evicted per watermark),
    which is why this is the batch twin of the streaming session path.
    """
    return user_sessions_frame(spark, sf_dir).orderBy(
        "user_id", "session_start"
    )


def user_sessions_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (user_id, session_start, session_end, n_events, total)
    session intervals — q32's core, factored so interval consumers
    (q139 overlap join) reuse the ONE sessionization definition."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    # session_window needs an instant (tz-aware) timestamp; session tz is
    # UTC so NTZ wall-clock values round-trip exactly.
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
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


# Session CTE chain shared by the q32 oracle and interval-consumer
# oracles (q139) — structural composition, never string surgery.
SESS_CTES = """marked AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sessions AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 6 HOUR AS session_end,
         COUNT(*) AS n_events,
         ROUND(SUM(value), 2) AS total
  FROM sess
  GROUP BY user_id, sid
)"""

Q32_ORACLE = f"""
WITH {SESS_CTES}
SELECT user_id, session_start, session_end, n_events, total
FROM sessions
ORDER BY user_id, session_start
"""

# --- q226: micro-sessionization, hash-checked at epoch-microsecond grain -----

# ONE constant drives the Spark gap string, the oracle's INTERVAL and
# the property suite's microsecond bound — so a recalibration can never
# leave the oracle sessionizing at a different gap than the query
# (they'd only diverge at the next driver parity run otherwise).
MICRO_SESSION_GAP_MINUTES = 10
MICRO_SESSION_GAP = f"{MICRO_SESSION_GAP_MINUTES} minutes"


def q226_micro_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained sessionization (10-minute inactivity gap) with the
    session boundaries hash-checked at EPOCH-MICROSECOND grain — q32
    re-run where it bites: the 6-hour gap yields a handful of long
    sessions per user, the 10-minute gap fragments the same stream into
    visit-level micro-sessions, so the closed-boundary rule and the
    end = last-event + gap convention are exercised across thousands of
    boundaries instead of dozens.

    The boundary rule is the one pinned in
    tests/properties/test_r15_candidate_probes.py: an event exactly
    GAP after the previous one MERGES (closed bound), so the oracle's
    gaps-and-islands replay breaks on STRICTLY > gap. Timestamps are
    extracted as integer microseconds since the NTZ epoch — Spark's
    ``session_window.start`` is TIMESTAMP_NTZ in this build and
    ``unix_micros()`` rejects it; ``timestampdiff(MICROSECOND, ...)``
    is the portable extraction (DuckDB side: ``epoch_us``). Integer
    microseconds + integer cents make every output column exact.

    Scale shape: identical to q32 — session_window is ONE shuffle on
    user_id followed by a per-key merge of windows; no self-join, no
    second window pass. At 100 TB the same expression runs under
    readStream + watermark with state evicted per watermark.
    """
    return spark.sql(
        f"""
SELECT user_id,
       timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',
                     session_window.start) AS session_start_us,
       timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',
                     session_window.end) AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM {{events}}
GROUP BY user_id, session_window(ts, '{MICRO_SESSION_GAP}')
ORDER BY user_id, session_start_us
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q226_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > INTERVAL {MICRO_SESSION_GAP_MINUTES} MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), i AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM e
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts) + INTERVAL {MICRO_SESSION_GAP_MINUTES} MINUTE)
         AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM i GROUP BY user_id, island
ORDER BY user_id, session_start_us
"""


# --- q85: ordered funnel analysis --------------------------------------------

def q85_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click -> purchase): a click
    qualifies only with a PRIOR view by the same user; a purchase
    counts as full-funnel only with a prior qualified click — order
    matters, which plain per-type counts cannot express. The
    match_recognize-style pattern, built from two stacked running-max
    windows.

    Both windows share one (user_id, ts) partition+sort, so the whole
    funnel is one shuffle + one per-partition sort followed by a
    global 1-row aggregate (partial-aggregated distinct counts). At
    100 TB: state per user is two running bits — no joins, no
    per-stage passes over the events table."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s1 = ev.withColumn(
        "seen_view",
        F.max((F.col("event_type") == "view").cast("int")).over(w),
    )
    # seen_view is NULL on a user's first event (empty ROWS frame); the
    # oracle's CASE folds that to 0, so pin the same here.
    s2 = s1.withColumn(
        "qclick",
        F.coalesce(
            (
                (F.col("event_type") == "click") & (F.col("seen_view") == 1)
            ).cast("int"),
            F.lit(0),
        ),
    )
    s3 = s2.withColumn("seen_qclick", F.max("qclick").over(w))
    return s3.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("users_view"),
        F.count_distinct(
            F.when(F.col("qclick") == 1, F.col("user_id"))
        ).alias("users_click_after_view"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("seen_qclick") == 1),
                F.col("user_id"),
            )
        ).alias("users_full_funnel"),
    )


Q85_ORACLE = """
WITH s1 AS (
  SELECT user_id, event_id, ts, event_type,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS seen_view
  FROM events
),
s2 AS (
  SELECT *, CASE WHEN event_type = 'click' AND seen_view = 1
                 THEN 1 ELSE 0 END AS qclick
  FROM s1
),
s3 AS (
  SELECT *,
         MAX(qclick)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS seen_qclick
  FROM s2
)
SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                THEN user_id END) AS BIGINT) AS users_view,
       CAST(COUNT(DISTINCT CASE WHEN qclick = 1
                                THEN user_id END) AS BIGINT)
         AS users_click_after_view,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                 AND seen_qclick = 1
                                THEN user_id END) AS BIGINT)
         AS users_full_funnel
FROM s3
"""


# --- q87: per-group linear trend ---------------------------------------------

def q87_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of value over time: OLS slope,
    intercept, and R-squared via the regr_* aggregate family — drift
    detection over a metric stream ("is error volume trending up?"),
    distinct from q49's symmetric moments (corr quantifies association;
    the regression line quantifies direction and rate).

    Single-pass algebraic aggregates (sums of x, y, xy, x2 under the
    hood) — map-side partials, one tiny shuffle, no window and no
    second scan. The time axis is hours since a FIXED origin inside the
    data range (not the 1970 epoch): the intercept is evaluated at
    x = 0, and extrapolating ~473k hours back amplifies last-ulp float
    differences between engines past any sane rounding (observed at
    the 4th decimal)."""
    ev = load_table(spark, sf_dir, "events")
    x = ("(unix_timestamp(ts) - unix_timestamp(TIMESTAMP '2024-01-01"
         " 00:00:00')) / 3600.0")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr(f"regr_slope(value, {x})"), 6).alias("slope"),
            F.round(F.expr(f"regr_intercept(value, {x})"), 4).alias(
                "intercept"
            ),
            F.round(F.expr(f"regr_r2(value, {x})"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


Q87_ORACLE = """
SELECT event_type, COUNT(*) AS n,
       ROUND(regr_slope(value, (epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00')) / 3600.0), 6) AS slope,
       ROUND(regr_intercept(value, (epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00')) / 3600.0), 4) AS intercept,
       ROUND(regr_r2(value, (epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00')) / 3600.0), 6) AS r2
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q97_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-row snapshot: treat events as an upsert changelog
    keyed by user_id and materialize the current state — the MERGE /
    compaction step of every mutable-table-on-immutable-files design
    (Delta/Hudi/Iceberg row-level upserts reduce to exactly this).

    Scale shape: ONE map-side-combinable aggregate — ``max(struct(ts,
    event_id, payload...))`` picks the latest version per key inside the
    partial aggregate, so the shuffle carries one candidate row per key
    per map task, not the whole changelog. The window-function phrasing
    (row_number() = 1) would shuffle and sort every version; the
    struct-max phrasing is the 100 TB answer. event_id breaks ts ties
    (unique), so the winner is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_updates"),
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("last"),
    )
    return latest.select(
        "user_id",
        "n_updates",
        F.col("last.ts").cast("timestamp_ntz").alias("last_ts"),
        F.col("last.event_type").alias("last_type"),
        F.col("last.value").alias("last_value"),
    ).orderBy("user_id")


Q97_ORACLE = """
SELECT user_id,
       COUNT(*) OVER (PARTITION BY user_id) AS n_updates,
       ts AS last_ts,
       event_type AS last_type,
       value AS last_value
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


WINSOR_LO = 0.01
WINSOR_HI = 0.99


def q102_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization audit: clip each event type's value to
    its [p1, p99] band and report clip counts plus the raw vs
    winsorized mean — the outlier-robustness pass run before any
    metric that feeds a mean (reward stats, quality weights).

    Two linear passes: an exact-percentile aggregate per type (tiny
    result, broadcast back) and the clip+report aggregate — both
    map-side-partial shuffles on event_type. Exact percentile sorts
    within each group; group count here is the type vocabulary, so the
    per-group sort is bounded (the q45/sketch split applies past
    that). Means rounded to 4 (q49 float posture)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bands = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("value", F.lit(WINSOR_HI)).alias("hi"),
    )
    j = ev.join(F.broadcast(bands), "event_type")
    w = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias(
                "n_clip_lo"
            ),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias(
                "n_clip_hi"
            ),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg(w), 4).alias("mean_winsor"),
        )
        .orderBy("event_type")
    )


# DuckDB quantile_cont == Spark exact percentile (linear interpolation
# at p*(n-1)); same equivalence q45 relies on.
Q102_ORACLE = f"""
WITH bands AS (
  SELECT event_type,
         quantile_cont(value, {WINSOR_LO}) AS lo,
         quantile_cont(value, {WINSOR_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       ROUND(AVG(e.value), 4) AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(e.value, b.lo), b.hi)), 4) AS mean_winsor
FROM events e JOIN bands b USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def q106_mad_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust dispersion
    companion to q102's winsorization (stddev is quadratic in outlier
    magnitude; MAD is what you alarm on when the tail is dirty). Also
    reports the classic robust-sigma estimate 1.4826*MAD and stddev
    beside it, so the outlier inflation is visible in one row.

    Two grouped exact-median passes (the second over |v - median|
    after a broadcast join of the tiny median table) — same two-linear-
    pass shape and q45 percentile-interpolation equivalence as q102."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
        "med",
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.median("adev"), 4).alias("mad"),
            F.round(F.median("adev") * 1.4826, 4).alias("robust_sigma"),
            F.round(F.stddev("value"), 4).alias("stddev"),
        )
        .orderBy("event_type")
    )


Q106_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
)
SELECT e.event_type,
       COUNT(*) AS n,
       ROUND(ANY_VALUE(m.med), 4) AS med,
       ROUND(median(abs(e.value - m.med)), 4) AS mad,
       ROUND(median(abs(e.value - m.med)) * 1.4826, 4) AS robust_sigma,
       ROUND(stddev_samp(e.value), 4) AS stddev
FROM events e JOIN med m USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


# --- q123: temporal-function sweep -------------------------------------------

def q123_temporal_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function coverage in one pass — the temporal sibling of
    the q75 string / q76 math / q116 array sweeps: quarter truncation,
    ISO weekday (weekend classification), day-of-year, ISO week number,
    and day-difference arithmetic, aggregated per (event_type, quarter)
    so the hashed output stays tiny. Function pairs pinned cross-engine:
    Spark ``weekday()+1`` == DuckDB ``isodow`` (1=Mon..7), Spark
    ``weekofyear`` == DuckDB ``weekofyear`` (both ISO-8601), Spark
    ``datediff`` == DuckDB ``date_diff('day', ...)``.

    Scale: row-local calendar arithmetic inside codegen + one tiny
    partial-aggregated shuffle (keyspace = types x quarters)."""
    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    return (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("quarter", "ts")).alias("q_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                ((F.weekday(d) + 1) >= 6).cast("long")
            ).alias("n_weekend"),
            F.round(F.avg(F.dayofyear(d)), 4).alias("avg_doy"),
            F.max(F.weekofyear(d)).cast("bigint").alias("max_week"),
            F.datediff(F.max(d), F.min(d)).cast("bigint").alias("span_days"),
        )
        .orderBy("event_type", "q_start")
    )


Q123_ORACLE = """
SELECT event_type,
       CAST(DATE_TRUNC('quarter', ts) AS DATE) AS q_start,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_weekend,
       ROUND(AVG(dayofyear(ts)), 4) AS avg_doy,
       CAST(MAX(weekofyear(ts)) AS BIGINT) AS max_week,
       CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
            AS BIGINT) AS span_days
FROM events
GROUP BY event_type, q_start
ORDER BY event_type, q_start
"""


# --- q139: interval overlap join ---------------------------------------------

CAMPAIGNS = (
    ("new_year", "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
    ("week2_flash", "2024-01-08 12:00:00", "2024-01-09 12:00:00"),
    ("mid_month", "2024-01-14 00:00:00", "2024-01-17 00:00:00"),
    ("month_end", "2024-01-28 00:00:00", "2024-01-31 00:00:00"),
)


def q139_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP join — the interval-algebra shape the
    suite's range joins don't cover (q34 is point-in-interval, as-of is
    point-to-nearest): user session intervals (q32's sessionization,
    shared frame) against campaign windows, per campaign emitting the
    overlapping-session count, distinct users, and the EXACT total
    overlap in microseconds (unix_micros/epoch_us on both engines — no
    fractional-second epoch() doubles, no truncation ambiguity).

    Scale shape: sessions are one session_window shuffle (shared with
    q32); the campaign side is a literal broadcast, so the overlap
    predicate is a broadcast nested-loop over |campaigns| intervals per
    session — the q34 posture; for a LARGE interval dimension the
    technique switches to interval bucketing (floor(start/width) grid
    keys + residual filter), documented here, unnecessary for 4
    windows."""
    sessions = user_sessions_frame(spark, sf_dir)
    camp = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("campaign"),
                        F.lit(s).cast("timestamp_ntz").alias("c_start"),
                        F.lit(e).cast("timestamp_ntz").alias("c_end"),
                    )
                    for n, s, e in CAMPAIGNS
                ]
            )
        ).alias("c")
    ).select("c.*")
    j = sessions.join(
        F.broadcast(camp),
        (F.col("session_start") < F.col("c_end"))
        & (F.col("c_start") < F.col("session_end")),
    )
    overlap_us = F.unix_micros(
        F.least("session_end", "c_end").cast("timestamp")
    ) - F.unix_micros(F.greatest("session_start", "c_start").cast("timestamp"))
    return (
        j.groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(overlap_us).alias("overlap_us"),
        )
        .orderBy("campaign")
    )


def _q139_oracle() -> str:
    values = ", ".join(
        f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in CAMPAIGNS
    )
    return f"""
WITH {SESS_CTES},
camp(campaign, c_start, c_end) AS (VALUES {values})
SELECT campaign, COUNT(*) AS n_sessions,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(epoch_us(LEAST(session_end, c_end))
                - epoch_us(GREATEST(session_start, c_start)))
            AS BIGINT) AS overlap_us
FROM sessions JOIN camp
  ON session_start < c_end AND c_start < session_end
GROUP BY campaign
ORDER BY campaign
"""


# --- q142: event-type transition census --------------------------------------

def q142_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census: for every adjacent pair of
    events in a user's timeline, count (from_type -> to_type) — the
    behavioral-model audit behind "what do users do after X" (distinct
    from q73's as-of-with-tolerance, which finds the next event of ONE
    type within a time budget; this is the unconditional adjacency
    matrix). n_from rides along so P(to|from) = n / n_from is two
    exact integers — no float probabilities to diverge.

    Scale shape: one (user_id, ts) window shuffle + sort for the lead,
    then a |types|² groupBy — tiny; the per-from totals are a window
    over the aggregated matrix, not the events."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    m = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return (
        m.withColumn("n_from", F.sum("n").over(wf))
        .orderBy("from_type", "to_type")
    )


Q142_ORACLE = """
WITH t AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
m AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM t WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
FROM m
ORDER BY from_type, to_type
"""


# --- q143: user burstiness (Fano factor) -------------------------------------

def q143_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness of hourly activity: the Fano factor
    (variance/mean of events-per-active-hour) — the dispersion audit
    that separates steady drips (~Poisson, F≈1) from bursty bots and
    batch imports (F>>1); the per-user sibling of q87's global trend
    and q111's key-skew audit.

    Determinism without rounding: the moments come from EXACT integer
    sums (Σc, Σc² over hourly counts), and the Fano expression applies
    the identical IEEE op sequence on both engines — the q132 lesson
    says a final ROUND(x, 2) is the only step that can diverge (Spark
    rounds the shortest-decimal repr, DuckDB the binary value), so the
    double ships unrounded and hashes bit-for-bit.

    Scale shape: two map-side-combinable groupBys (hourly counts, then
    per-user moments); no windows, no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    m1 = F.col("n_events").cast("double") / F.col("n_hours")
    m2 = F.col("s2").cast("double") / F.col("n_hours")
    return (
        m.select(
            "user_id",
            "n_hours",
            "n_events",
            ((m2 - m1 * m1) / m1).alias("fano"),
        )
        .orderBy("user_id")
    )


Q143_ORACLE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY user_id, h
),
m AS (
  SELECT user_id, COUNT(*) AS n_hours, SUM(c) AS n_events,
         SUM(c * c) AS s2
  FROM hourly GROUP BY user_id
)
SELECT user_id,
       n_hours,
       CAST(n_events AS BIGINT) AS n_events,
       ((CAST(s2 AS DOUBLE) / n_hours)
        - (CAST(n_events AS DOUBLE) / n_hours)
          * (CAST(n_events AS DOUBLE) / n_hours))
       / (CAST(n_events AS DOUBLE) / n_hours) AS fano
FROM m
ORDER BY user_id
"""


# --- q136: longest activity streak (gaps and islands) ------------------------

def q136_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, summarized as
    a (streak_length, n_users) histogram — the canonical gaps-and-
    islands problem (island id = date - row_number() days: consecutive
    dates share it, any gap starts a new island), the one classic
    window idiom the suite's lag/lead/rank coverage didn't yet include.

    FP-free (pure date/integer arithmetic). Scale shape: one distinct
    aggregate, one per-user window (partition bounded by a user's
    active-day count), two tiny groupBys; the histogram keeps the
    output bounded by the longest streak, not the user count."""
    from pyspark.sql.window import Window

    d = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = d.withColumn(
        "island", F.date_sub("d", F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("streak"))
    return (
        longest.groupBy("streak")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("streak")
    )


Q136_ORACLE = """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
islands AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS island
  FROM d
),
streaks AS (
  SELECT user_id, island, COUNT(*) AS len
  FROM islands GROUP BY user_id, island
),
longest AS (SELECT user_id, MAX(len) AS streak FROM streaks GROUP BY user_id)
SELECT streak, COUNT(*) AS n_users
FROM longest
GROUP BY streak
ORDER BY streak
"""


# --- q148: CUSUM mean-shift drift detector -----------------------------------

def q148_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM drift statistic over the daily value
    series: S_k = Σ_{i≤k}(x_i − mean), the classic mean-shift change
    detector (Page 1954) — a feed whose daily spend drifts mid-history
    shows a large |S_k| peak at the change point, while white noise
    around a stable mean keeps every partial sum near zero. The audit
    that tells "this source's volume regime changed on day D" from
    "this source is just noisy" (q143 measures dispersion; this
    measures WHEN the level moved).

    Determinism: multiply through by n so the statistic stays integer —
    n·S_k = n·prefix_k − k·total over integer daily cents; max |n·S_k|
    and its argmax day are exact on both engines, no FP anywhere.

    Scale shape: one map-side-combinable daily aggregate over the raw
    events (the only full-data pass), then two windows over the tiny
    calendar-bounded (type × day) frame — thousands of rows at any SF,
    so the window partitions never concentrate raw-event volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("x")
    )
    return cusum_tail(daily)


def cusum_tail(daily: DataFrame) -> DataFrame:
    """CUSUM statistic over any (event_type, d, x) daily frame — shared
    by batch q148 and the q153 streaming twin so stream==batch is a
    property of the daily aggregate alone (the tail is deterministic
    integer window arithmetic over the tiny calendar-bounded frame)."""
    from pyspark.sql.window import Window

    wd = Window.partitionBy("event_type").orderBy("d")
    wt = Window.partitionBy("event_type")
    cur = (
        daily.withColumn("k", F.row_number().over(wd))
        .withColumn("prefix", F.sum("x").over(wd))
        .withColumn("n_days", F.count(F.lit(1)).over(wt))
        .withColumn("total_cents", F.sum("x").over(wt))
        .withColumn(
            "dev",
            F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total_cents"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("dev")).desc(), F.col("d").asc()
    )
    return (
        cur.withColumn("r", F.row_number().over(pick))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            "n_days",
            "total_cents",
            F.abs(F.col("dev")).alias("max_cusum_num"),
            F.to_date("d").alias("drift_day"),
        )
        .orderBy("event_type")
    )


Q148_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
  FROM events GROUP BY event_type, d
),
cur AS (
  SELECT event_type, d,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS k,
         SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS prefix,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days,
         SUM(x) OVER (PARTITION BY event_type) AS total_cents
  FROM daily
),
dev AS (
  SELECT event_type, d, n_days, total_cents,
         n_days * prefix - k * total_cents AS dev,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY ABS(n_days * prefix - k * total_cents) DESC, d ASC
         ) AS r
  FROM cur
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(total_cents AS BIGINT) AS total_cents,
       CAST(ABS(dev) AS BIGINT) AS max_cusum_num,
       CAST(d AS DATE) AS drift_day
FROM dev
WHERE r = 1
ORDER BY event_type
"""


# --- q149: DAU/WAU/MAU active-user ratios ------------------------------------

def q149_active_user_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily / trailing-7-day / trailing-30-day active users per
    calendar day, plus the DAU/MAU "stickiness" ratio in integer basis
    points — the product-analytics triple every events pipeline ships.

    Trailing COUNT(DISTINCT) cannot ride a window frame (distinct is
    holistic), so the classic exact shape is: dedup to the (user, day)
    frame first (map-side combinable, collapses raw volume by the
    events-per-user-day factor), then fan each activity day onto the
    anchor days it is visible from (<= 30 of them — a bounded
    row-multiplier, not a shuffle amplifier) and run three conditional
    distinct aggregates per anchor. At 100 TB the (user, day) frame is
    ~billions x 30 fan-out shuffled once on the anchor key; the
    approximate sibling is one HLL sketch per day merged over trailing
    windows (`sketch_hll_union` pins the mergeability), which drops
    the fan-out entirely — this query is the exact ladder rung.

    Stickiness ships as floor(10000 * dau / mau) — integer division of
    two exact counts, no FP anywhere."""
    ev = load_table(spark, sf_dir, "events")
    user_days = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .withColumn("dnum", F.unix_date("d"))
        .localCheckpoint(eager=False)  # one dedup pass feeds the fan-out + anchors
    )
    anchors = user_days.select(
        F.col("d").alias("anchor"), F.col("dnum").alias("anum")
    ).distinct()
    fan = anchors.join(
        user_days,
        (F.col("dnum") <= F.col("anum"))
        & (F.col("dnum") > F.col("anum") - 30),
    )
    return (
        fan.groupBy("anchor")
        .agg(
            F.count_distinct(
                F.when(F.col("dnum") == F.col("anum"), F.col("user_id"))
            ).alias("dau"),
            F.count_distinct(
                F.when(F.col("dnum") > F.col("anum") - 7, F.col("user_id"))
            ).alias("wau"),
            F.count_distinct("user_id").alias("mau"),
        )
        .withColumn(
            "stick_bp",
            F.floor(F.lit(10000) * F.col("dau") / F.col("mau")).cast("bigint"),
        )
        .orderBy("anchor")
    )


Q149_ORACLE = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dnum
  FROM events
),
anchors AS (SELECT DISTINCT d AS anchor, dnum AS anum FROM user_days)
SELECT anchor,
       COUNT(DISTINCT CASE WHEN dnum = anum THEN user_id END) AS dau,
       COUNT(DISTINCT CASE WHEN dnum > anum - 7 THEN user_id END) AS wau,
       COUNT(DISTINCT user_id) AS mau,
       CAST(floor(10000 * COUNT(DISTINCT CASE WHEN dnum = anum THEN user_id END)
                  / COUNT(DISTINCT user_id)) AS BIGINT) AS stick_bp
FROM anchors
JOIN user_days ON dnum <= anum AND dnum > anum - 30
GROUP BY anchor
ORDER BY anchor
"""


# --- q154: trailing 7-day rolling correlation --------------------------------

def q154_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation between daily event volume
    and daily revenue per event type — the rolling co-movement monitor
    (are spikes in traffic still converting to revenue?).

    Determinism contract: built-in ``corr`` accumulates co-moments in
    engine- and partition-order-specific fp order, so its 4th decimal
    is not portable. Instead both engines fold the day to EXACT
    integers (x = event count, y = whole-dollar revenue via
    floor(value + 0.5), the q148 cents trick one unit up) and the
    window carries five integer sums; the only fp ops are the final
    IEEE sqrt/divide on identical integers — bit-identical across
    engines.

    Scale shape: one groupBy collapses raw events to (type, day) —
    map-side combinable, output rows = types x days regardless of
    volume — then the ROWS-frame window sorts only that tiny frame.
    No window ever touches raw events."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.floor(F.col("value") + 0.5).cast("bigint")).alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    daily = daily.withColumn("xy", F.col("x") * F.col("y")).withColumn(
        "xx", F.col("x") * F.col("x")
    ).withColumn("yy", F.col("y") * F.col("y"))
    rolled = daily.select(
        "event_type",
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum("xy").over(w).alias("sxy"),
        F.sum("xx").over(w).alias("sxx"),
        F.sum("yy").over(w).alias("syy"),
    ).filter(F.col("n") == 7)
    dx = F.lit(7) * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.lit(7) * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.lit(7) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return (
        rolled.filter((dx > 0) & (dy > 0))
        .select(
            "event_type",
            "d",
            F.round(
                num / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
                4,
            ).alias("corr7"),
        )
        .orderBy("event_type", "d")
    )


Q154_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         COUNT(*) AS x,
         SUM(CAST(floor(value + 0.5) AS BIGINT)) AS y
  FROM events GROUP BY event_type, d
),
rolled AS (
  SELECT event_type, d,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx,
         SUM(y) OVER w AS sy,
         SUM(x * y) OVER w AS sxy,
         SUM(x * x) OVER w AS sxx,
         SUM(y * y) OVER w AS syy
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, d,
       ROUND(CAST(7 * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(7 * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(7 * syy - sy * sy AS DOUBLE))), 4) AS corr7
FROM rolled
WHERE n = 7 AND 7 * sxx - sx * sx > 0 AND 7 * syy - sy * sy > 0
ORDER BY event_type, d
"""


# --- q159: z-score anomaly days -----------------------------------------------

def q159_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue anomaly flags per event type: days whose exact
    whole-dollar total deviates more than 2 population-sigmas from the
    type's mean — the threshold sibling of the q148 CUSUM drift and
    q146 EWMA monitors (point anomalies vs mean shifts vs smoothing).

    Determinism: daily totals are exact integers; mean/sigma derive
    from the integer sums S and Q through ONE fixed expression tree
    (z = (x - S/n) / sqrt(Q/n - (S/n)^2)) written identically in both
    engines, so every double is reproduced bit-for-bit.

    Scale shape: groupBy to (type, day) — map-side combinable — then a
    broadcast-sized per-type stats frame joins back. No window over raw
    data, no global sort except the bounded output."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(F.floor(F.col("value") + 0.5).cast("bigint")).alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = F.col("q").cast("double") / F.col("n").cast("double") - mean * mean
    z = (F.col("x").cast("double") - mean) / F.sqrt(var)
    return (
        j.filter(var > 0)
        .select(
            "event_type", "d", "x", F.round(z, 4).alias("z")
        )
        .filter(F.abs(F.col("z")) > 2)
        .orderBy("event_type", "d")
    )


Q159_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY event_type, d
),
stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q
  FROM daily GROUP BY event_type
),
scored AS (
  SELECT d.event_type, d.d, d.x,
         ROUND((CAST(d.x AS DOUBLE)
                - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
               / sqrt(CAST(s.q AS DOUBLE) / CAST(s.n AS DOUBLE)
                      - (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
                        * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))),
               4) AS z
  FROM daily d JOIN stats s ON d.event_type = s.event_type
  WHERE CAST(s.q AS DOUBLE) / CAST(s.n AS DOUBLE)
        - (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
          * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)) > 0
)
SELECT event_type, d, x, z FROM scored
WHERE ABS(z) > 2
ORDER BY event_type, d
"""


# --- q161: behavioral trigram paths -------------------------------------------

SESSION_PATHS_TOP = 20


def q161_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigram paths: the census of three consecutive
    actions per user (view>click>purchase, ...) — the path-mining
    primitive behind funnel discovery and next-action models (the
    sequence sibling of q142's first-order Markov pairs).

    Determinism: lead() over (user, ts, event_id) — event_id breaks
    timestamp ties — and the top-k is fully tie-broken (n DESC, path
    ASC).

    Scale shape: one shuffle on user_id + per-user sort (the window),
    then a map-side-combinable path count; at most |types|^3 = 125
    groups. No self-joins — sequence extraction rides lead(), which
    never re-reads the partition."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    ).filter(F.col("e2").isNotNull())
    return (
        tri.select(
            F.concat_ws(">", "event_type", "e1", "e2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(SESSION_PATHS_TOP)
    )


Q161_ORACLE = f"""
WITH seq AS (
  SELECT event_type,
         LEAD(event_type, 1) OVER w AS e1,
         LEAD(event_type, 2) OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n
FROM seq
WHERE e2 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT {SESSION_PATHS_TOP}
"""


# --- q185: discrete retention hazard ------------------------------------------

def q185_retention_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time retention hazard (Kaplan-Meier-style life table):
    for each observed lifetime k (days between a user's first and last
    event), the number of users whose activity ENDED at day k and the
    number still at risk (lifetime >= k), with the hazard rate in
    basis points — the churn curve product teams read off any event
    log ("when do users actually stop?").

    Scale shape: one per-user min/max aggregate over the raw events
    (map-side combinable), then everything runs on the lifetime
    HISTOGRAM — a calendar-bounded frame (days in the observation
    window), never the data. The suffix-sum at-risk count uses the
    triangular broadcast self-join over that bounded frame (the q166
    pattern), so no Exchange SinglePartition window exists anywhere.

    Determinism: pure integer counts; hazard_bp is exact integer
    division."""
    life = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .groupBy("user_id")
        .agg(F.datediff(F.max("d"), F.min("d")).cast("bigint").alias("k"))
    )
    # Both sides of the triangular suffix-sum join consume this frame —
    # pin it so the events scan + per-user aggregate runs once (the
    # q166/q182 shared-frame rule; ADVICE r8).
    hist = (
        life.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_churned"))
        .localCheckpoint(eager=False)
    )
    return (
        hist.alias("a")
        .join(F.broadcast(hist.alias("b")), F.col("b.k") >= F.col("a.k"))
        .groupBy(F.col("a.k").alias("k"),
                 F.col("a.n_churned").alias("n_churned"))
        .agg(F.sum("b.n_churned").alias("n_at_risk"))
        .select(
            "k",
            "n_churned",
            "n_at_risk",
            F.expr("n_churned * 10000 div n_at_risk").alias("hazard_bp"),
        )
        .orderBy("k")
    )


Q185_ORACLE = """
WITH life AS (
  SELECT user_id,
         CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                        MAX(CAST(ts AS DATE))) AS BIGINT) AS k
  FROM events GROUP BY user_id
),
hist AS (SELECT k, COUNT(*) AS n_churned FROM life GROUP BY k)
SELECT a.k, a.n_churned,
       CAST(SUM(b.n_churned) AS BIGINT) AS n_at_risk,
       CAST(a.n_churned * 10000 // SUM(b.n_churned) AS BIGINT) AS hazard_bp
FROM hist a JOIN hist b ON b.k >= a.k
GROUP BY a.k, a.n_churned
ORDER BY a.k
"""


# --- q186: per-user behavioral entropy ----------------------------------------

ENTROPY_SCALE = 10**6  # fixed-point units per c*ln(c) term (q158 pattern)


def q186_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Shannon entropy (nats): how predictable is
    each user's behavior? H = ln(n) - (1/n) * sum c*ln(c) over the
    user's event-type counts — near 0 = a single-action bot shape,
    near ln(V) = uniform usage. The per-user predictability complement
    to q142's global transition census and q143's temporal burstiness.

    Scale shape: one (user, type) count aggregate, then one per-user
    rollup — both map-side combinable; type cardinality bounds the
    inner frame at |users| x |event types|.

    Determinism: each c*ln(c) term is quantized to integer 1e-6 units
    before the per-user sum (q158's fixed-point recipe); ln(n) is one
    IEEE call on an exact integer, identical in both engines."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = F.round(
        F.col("c").cast("double")
        * F.log(F.col("c").cast("double"))
        * ENTROPY_SCALE
    ).cast("bigint")
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(term).alias("s_u"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.round(
                F.log(F.col("n_events").cast("double"))
                - F.col("s_u").cast("double")
                / ENTROPY_SCALE
                / F.col("n_events").cast("double"),
                4,
            ).alias("h_nats"),
        )
        .orderBy("user_id")
    )


Q186_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
),
u AS (
  SELECT user_id, SUM(c) AS n_events, COUNT(*) AS n_types,
         SUM(CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                        * {ENTROPY_SCALE}) AS BIGINT)) AS s_u
  FROM c GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_types AS BIGINT) AS n_types,
       ROUND(LN(CAST(n_events AS DOUBLE))
             - CAST(s_u AS DOUBLE) / {ENTROPY_SCALE}
               / CAST(n_events AS DOUBLE), 4) AS h_nats
FROM u
ORDER BY user_id
"""


# --- q191: trailing-hour range-frame average ------------------------------------

def q191_trailing_hour_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event, the average event value over the user's trailing ONE
    HOUR — a RANGE (time-interval) window frame, the idiom the suite's
    other windows (rows-based lag/lead/moving averages) don't cover:
    the frame is defined by a timestamp distance, not a row count, so
    bursty minutes widen the frame and quiet hours shrink it.

    Scale shape: window partitioned by user_id (parallel, no global
    sort); the range key is epoch MICROseconds, so Spark's numeric
    rangeBetween and the oracle's RANGE INTERVAL frame see identical
    boundaries.

    Determinism: values are summed as exact integer cents inside the
    frame (fp accumulation order within a frame is engine-internal —
    integers make it irrelevant); the average is one rounded division."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # ts is TIMESTAMP_NTZ; the cast interprets it in the session TZ
        # — a CONSTANT offset, and a range frame depends only on
        # timestamp DIFFERENCES, so the frame set matches the oracle's
        # naive-timestamp INTERVAL frame exactly.
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum("cents").over(w).alias("win_cents"),
            F.count(F.lit(1)).over(w).alias("n_win"),
        )
        .select(
            "event_id",
            "user_id",
            "n_win",
            F.round(
                F.col("win_cents").cast("double")
                / 100.0
                / F.col("n_win").cast("double"),
                4,
            ).alias("avg_val"),
        )
        .orderBy("event_id")
    )


Q191_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
win AS (
  SELECT event_id, user_id,
         SUM(cents) OVER w AS win_cents,
         COUNT(*) OVER w AS n_win
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_win,
       ROUND(CAST(win_cents AS DOUBLE) / 100.0 / CAST(n_win AS DOUBLE), 4)
         AS avg_val
FROM win
ORDER BY event_id
"""


def q222_time_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-day activity profile on Spark 4's ANSI TIME type:
    timestamps are projected onto a date-less clock value with
    ``make_time(hour, minute, second)``, truncated to the hour with
    ``time_trunc``, and aggregated — the wall-clock seasonality query a
    date_trunc bucketing (q14) cannot express because it keeps the date.

    TIME is conf-gated in this build (``spark.sql.timeType.enabled``,
    default off — UNSUPPORTED_TIME_TYPE without it): the builder enables
    it for plan ANALYSIS and restores the previous value; execution of
    the analyzed plan does not re-check the flag (pinned in
    tests/properties/test_r14_candidate_probes.py, along with the
    rendering agreement with DuckDB's native TIME). The output casts
    TIME to its ISO string so the driver hash is type-stable; DuckDB has
    no time_trunc over TIME, so the oracle replays the trunc
    arithmetically (seconds/minutes zeroed inside make_time).

    Concurrency caveat (ADVICE r14): the set/restore of the
    session-global conf is NOT reentrant or thread-safe — a concurrent
    builder on the shared SparkSession could observe the flag flipped
    or have its own analysis gated by the restore. The suite builds
    queries sequentially (registry iteration, bench, parity are all
    single-threaded), which is the assumption this builder relies on;
    serialize conf-mutating builders before ever parallelizing builds.

    Scale shape: identical to q14 — one hash aggregate keyed on
    (hour-of-day, event_type), 24×|types| groups, partial map-side
    combine; the TIME projection is codegen arithmetic on the timestamp
    fields, no Python.
    """
    prev = spark.conf.get("spark.sql.timeType.enabled")
    spark.conf.set("spark.sql.timeType.enabled", "true")
    try:
        return spark.sql(
            """
SELECT CAST(time_trunc('HOUR',
            make_time(hour(ts), minute(ts), second(ts))) AS STRING) AS tod,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM {events}
GROUP BY tod, event_type
ORDER BY tod, event_type
""",
            events=load_table(spark, sf_dir, "events"),
        )
    finally:
        spark.conf.set("spark.sql.timeType.enabled", prev)


Q222_ORACLE = """
SELECT CAST(make_time(CAST(hour(ts) AS INT), 0, 0.0) AS VARCHAR) AS tod,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY tod, event_type
ORDER BY tod, event_type
"""


def q232_try_timestamp_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe temporal ingestion census with ``try_to_timestamp`` —
    the q223 try_* family's TEMPORAL member (VERDICT r15 item 2b): a
    raw string feed is rebuilt from the events table (each timestamp
    rendered 'yyyy-MM-dd HH:mm:ss'; every 13th event deterministically
    corrupted with a '??' prefix — the malformed stratum a real crawler
    feed carries), then re-parsed with the NULL-on-error form and
    audited per event type: volume, parse-failure count, and the
    first/last successfully parsed timestamps.

    The plain to_timestamp would throw on the first corrupt row and
    kill the job; try_to_timestamp quarantines record-level faults as
    NULLs so one bad row costs one row, not the pipeline — the
    record-level analog of the reference's process-level fault
    tolerance (crash.go:20-33 dies and the task is rescheduled; here
    the datum "dies" and the audit counts it). NULL semantics pinned in
    tests/properties/test_r16_candidate_probes.py; the DuckDB twin is
    ``try_strptime``, and both render via the engine's own formatter
    (second-truncated, so the round trip is bit-stable).

    Scale shape: render, corrupt, and parse are row-local codegen
    expressions; ONE hash aggregate keyed on event_type (4 groups) with
    COUNT/MIN/MAX partial state map-side — shuffle carries a few rows
    per task at any corpus size."""
    return spark.sql(
        """
WITH feed AS (
  SELECT event_type,
         CASE WHEN event_id % 13 = 0
              THEN concat('??', date_format(ts, 'yyyy-MM-dd HH:mm:ss'))
              ELSE date_format(ts, 'yyyy-MM-dd HH:mm:ss') END AS ts_raw
  FROM {events}
), parsed AS (
  SELECT event_type,
         try_to_timestamp(ts_raw, 'yyyy-MM-dd HH:mm:ss') AS ts_ok
  FROM feed
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE ts_ok IS NULL) AS n_bad,
       MIN(ts_ok) AS first_ok,
       MAX(ts_ok) AS last_ok
FROM parsed GROUP BY event_type ORDER BY event_type
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q232_ORACLE = """
WITH feed AS (
  SELECT event_type,
         CASE WHEN event_id % 13 = 0
              THEN '??' || strftime(ts, '%Y-%m-%d %H:%M:%S')
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS ts_raw
  FROM events
), parsed AS (
  SELECT event_type,
         try_strptime(ts_raw, '%Y-%m-%d %H:%M:%S') AS ts_ok
  FROM feed
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE ts_ok IS NULL) AS n_bad,
       MIN(ts_ok) AS first_ok,
       MAX(ts_ok) AS last_ok
FROM parsed GROUP BY event_type ORDER BY event_type
"""


# --- q239: calendar-extension month-end report --------------------------------


def q239_calendar_eom_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end calendar census with the calendar extensions staged in
    the r17 probe file: ``last_day`` buckets every event to its
    month-end settlement date, ``dayofweek`` flags weekend traffic,
    ``dayofyear``/``weekofyear`` carry the intra-year coordinates, and
    ``make_date(year, month, day)`` re-derives the event date from its
    extracted parts as a live identity check (n_rebuilt == n proves the
    part-extraction round trip on every row, not a sample).

    DAYOFWEEK TRAP honored (pinned in
    tests/properties/test_r17_candidate_probes.py): Spark counts
    Sunday=1..Saturday=7 while DuckDB counts Sunday=0..Saturday=6, so
    the oracle replays the weekend test as ``dayofweek(ts) + 1 IN
    (1,7)``; make_date's INT parts are CAST to BIGINT on the DuckDB
    side (its year()/month() return BIGINT).

    Scale shape: every calendar function is a row-local codegen
    expression on the scan; ONE hash aggregate keyed on (month_end,
    event_type) — a few dozen groups per year of data regardless of
    corpus size, COUNT/MIN/MAX partials map-side. The distinct-user
    count is the only holistic term and shuffles (month_end, type,
    user) triples — bounded by active users per month, the same
    cardinality class q149 already carries.

    Reference lineage: the multi-counter census shape of
    /root/reference/src/mrapps/jobcount.go:22-46, keyed by derived
    calendar buckets instead of task ids."""
    return spark.sql(
        """
SELECT last_day(CAST(ts AS DATE)) AS month_end, event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) FILTER (WHERE dayofweek(ts) IN (1, 7)) AS n_weekend,
       CAST(MAX(dayofyear(ts)) AS BIGINT) AS max_doy,
       CAST(MIN(weekofyear(ts)) AS BIGINT) AS min_week,
       COUNT(*) FILTER (WHERE make_date(year(ts), month(ts), day(ts))
                              = CAST(ts AS DATE)) AS n_rebuilt
FROM {events}
GROUP BY month_end, event_type ORDER BY month_end, event_type
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q239_ORACLE = """
SELECT last_day(CAST(ts AS DATE)) AS month_end, event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) FILTER (WHERE dayofweek(ts) + 1 IN (1, 7)) AS n_weekend,
       CAST(MAX(dayofyear(ts)) AS BIGINT) AS max_doy,
       CAST(MIN(weekofyear(ts)) AS BIGINT) AS min_week,
       COUNT(*) FILTER (WHERE make_date(CAST(year(ts) AS BIGINT),
                              CAST(month(ts) AS BIGINT),
                              CAST(day(ts) AS BIGINT))
                              = CAST(ts AS DATE)) AS n_rebuilt
FROM events
GROUP BY month_end, event_type ORDER BY month_end, event_type
"""


# --- q241: LOCF gap-fill via IGNORE NULLS windows ------------------------------


def q241_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap-fill audit with window
    ``IGNORE NULLS`` — the SQL surface of the LOCF idiom asof.py uses
    through the DataFrame API (``F.last(ignorenulls=True)``): a sensor
    feed with a deterministic missing stratum (every 5th event's cents
    value nulled) is repaired per user from the nearest earlier
    non-NULL reading (``lag(cents) IGNORE NULLS``), falling back to the
    next later one (``lead``), and audited per event type: gap volume,
    how many gaps LOCF could fill, orphans no direction could fill, and
    the exact repaired-cents mass.

    GRAMMAR PIN (tests/properties/test_r17_candidate_probes.py): Spark
    spells the modifier after the call — ``lag(v) IGNORE NULLS OVER`` —
    while DuckDB puts it inside the parens — ``lag(v IGNORE NULLS)
    OVER``; values agree. Cents use the suite's exact-integer idiom
    (``floor(value*100 + 0.5)``) so the repaired mass hashes bit-stable.

    Scale shape: ONE shuffle on user_id with a per-partition sort
    (ts, event_id) serving both window directions — Spark evaluates
    lag and lead over the same sorted run, no second exchange — then a
    4-group hash aggregate with COUNT/SUM partials map-side. The state
    per row is one machine word each direction; at 100 TB this is the
    canonical time-series repair pass, and the same expression runs
    incrementally under the streaming state operators.

    Reference lineage: the ordered merge-fold the reference applies to
    sorted intermediate keys (/root/reference/src/mr/worker.go:197-212)
    — here the fold carries the last-seen value forward instead of
    reducing a group."""
    return spark.sql(
        """
WITH feed AS (
  SELECT event_type, user_id, ts, event_id,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
  FROM {events}
), filled AS (
  SELECT event_type, cents,
         lag(cents) IGNORE NULLS OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_known,
         lead(cents) IGNORE NULLS OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS next_known
  FROM feed
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE cents IS NULL) AS n_gap,
       COUNT(*) FILTER (WHERE cents IS NULL AND prev_known IS NOT NULL)
         AS n_locf,
       COUNT(*) FILTER (WHERE cents IS NULL AND prev_known IS NULL
                          AND next_known IS NULL) AS n_orphan,
       CAST(SUM(coalesce(cents, prev_known, next_known, 0)) AS BIGINT)
         AS filled_cents
FROM filled GROUP BY event_type ORDER BY event_type
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q241_ORACLE = """
WITH feed AS (
  SELECT event_type, user_id, ts, event_id,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
  FROM events
), filled AS (
  SELECT event_type, cents,
         lag(cents IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_known,
         lead(cents IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS next_known
  FROM feed
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE cents IS NULL) AS n_gap,
       COUNT(*) FILTER (WHERE cents IS NULL AND prev_known IS NOT NULL)
         AS n_locf,
       COUNT(*) FILTER (WHERE cents IS NULL AND prev_known IS NULL
                          AND next_known IS NULL) AS n_orphan,
       CAST(SUM(coalesce(cents, prev_known, next_known, 0)) AS BIGINT)
         AS filled_cents
FROM filled GROUP BY event_type ORDER BY event_type
"""


# --- q242: civil-time rollout report -------------------------------------------


def q242_local_time_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Civil-time traffic report: UTC event times are converted to
    America/New_York wall-clock with ``from_utc_timestamp`` (two DST
    regimes inside any multi-month corpus), bucketed by rendered
    weekday and month names (``date_format`` 'EEEE'/'MMMM' — the
    locale-pinned rendering surface, unlike to_char's ruled-out
    separators), and spanned with the unit form ``date_diff(MINUTE|
    HOUR, ...)``.

    Two cross-engine pins from tests/properties/test_r17_candidate_probes.py:
    (1) the from_utc_timestamp replay needs BOTH timezone hops on the
    DuckDB side — ``CAST(timezone(tz, ts AT TIME ZONE 'UTC') AS
    TIMESTAMP)``; (2) Spark's ``date_diff(UNIT, a, b)`` returns
    COMPLETE elapsed units (floor of the difference) while DuckDB's
    ``date_diff`` counts BOUNDARY CROSSINGS — on unaligned timestamps
    they differ by one (probed: 1 vs 2 across a 1m59s span), so the
    oracle replays the spans as floor(epoch_us delta / unit), never
    DuckDB's own date_diff.

    Scale shape: timezone conversion and name rendering are row-local
    codegen; ONE hash aggregate on (event_type, dow_name, month_name)
    — at most 7 x 12 x |types| groups ever, MIN/MAX partials map-side.
    The group-then-span shape is how a 100 TB ops dashboard slices
    traffic by civil time without a second scan.

    Reference lineage: the wall-clock instrumentation of
    /root/reference/src/mrapps/mtiming.go:54-65, promoted from
    process-local time.Now() samples to corpus-wide civil-time
    analytics."""
    return spark.sql(
        """
WITH loc AS (
  SELECT event_type,
         from_utc_timestamp(ts, 'America/New_York') AS lts, ts
  FROM {events}
)
SELECT event_type,
       date_format(lts, 'EEEE') AS dow_name,
       date_format(lts, 'MMMM') AS month_name,
       COUNT(*) AS n,
       CAST(date_diff(MINUTE, MIN(ts), MAX(ts)) AS BIGINT) AS span_min,
       CAST(date_diff(HOUR, MIN(lts), MAX(lts)) AS BIGINT) AS span_h
FROM loc GROUP BY event_type, dow_name, month_name
ORDER BY event_type, dow_name, month_name
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q242_ORACLE = """
WITH loc AS (
  SELECT event_type,
         CAST(timezone('America/New_York', ts AT TIME ZONE 'UTC')
              AS TIMESTAMP) AS lts, ts
  FROM events
)
SELECT event_type,
       dayname(lts) AS dow_name,
       monthname(lts) AS month_name,
       COUNT(*) AS n,
       CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 60000000)
            AS BIGINT) AS span_min,
       CAST(floor((epoch_us(MAX(lts)) - epoch_us(MIN(lts))) / 3600000000)
            AS BIGINT) AS span_h
FROM loc GROUP BY event_type, dow_name, month_name
ORDER BY event_type, dow_name, month_name
"""


# --- q244: per-class dynamic-gap session policy --------------------------------

# Interactive event classes session out quickly; everything else gets the
# long-tail policy. Shared by the Spark statement and the oracle replay.
FAST_SESSION_TYPES = ("click", "view")
FAST_SESSION_GAP_MINUTES = 10
SLOW_SESSION_GAP_MINUTES = 40


def q244_session_policy_dynamic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class session policies via the DYNAMIC-GAP form of
    ``session_window(ts, CASE ...)`` — q226 generalized from one global
    inactivity gap to a gap expression evaluated per key: interactive
    classes (click/view) session out after 10 minutes, everything else
    after 40. The form was pinned working in
    tests/properties/test_r17_candidate_probes.py (per-key gap
    expressions merge/split exactly as the per-class constant would).

    Because the gap expression depends only on grouping columns, the
    oracle replays it as q226's gaps-and-islands with the same CASE
    folded into the lag comparison — the closed-boundary rule
    (break on STRICTLY > gap) and the end = last-event + gap convention
    carry over unchanged. Durations and window masses are integer
    epoch-microseconds, so every column hashes exactly.

    Scale shape: identical to q226 — ONE shuffle on (user_id,
    event_type) followed by the per-key window merge; no self-join, no
    second pass. The dynamic gap costs nothing extra: it's a row-local
    CASE evaluated before the merge. At 100 TB the same expression runs
    under readStream + watermark with per-class state eviction — the
    policy table could equally be a broadcast dim.

    Reference lineage: none — the reference has no temporal operators
    at all (SURVEY §2.3); this is the Spark-native capability the
    non-port argument rests on, extended to heterogeneous policies."""
    fast = ", ".join(f"'{t}'" for t in FAST_SESSION_TYPES)
    return spark.sql(
        f"""
WITH sess AS (
  SELECT user_id, event_type,
         timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',
                       session_window.start) AS s_us,
         timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',
                       session_window.end) AS e_us,
         COUNT(*) AS n_in_session,
         timestampdiff(MICROSECOND, MIN(ts), MAX(ts)) AS dur_us
  FROM {{events}}
  GROUP BY user_id, event_type,
           session_window(ts, CASE WHEN event_type IN ({fast})
                                   THEN '{FAST_SESSION_GAP_MINUTES} minutes'
                                   ELSE '{SLOW_SESSION_GAP_MINUTES} minutes'
                              END)
)
SELECT event_type,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_in_session) AS BIGINT) AS n_events,
       CAST(MAX(n_in_session) AS BIGINT) AS max_events,
       CAST(SUM(dur_us) AS BIGINT) AS dur_mass_us,
       CAST(SUM(e_us - s_us) AS BIGINT) AS win_mass_us
FROM sess GROUP BY event_type ORDER BY event_type
""",
        events=load_table(spark, sf_dir, "events"),
    )


def _q244_oracle() -> str:
    fast = ", ".join(f"'{t}'" for t in FAST_SESSION_TYPES)
    gap_case = (
        f"CASE WHEN event_type IN ({fast})"
        f" THEN INTERVAL {FAST_SESSION_GAP_MINUTES} MINUTE"
        f" ELSE INTERVAL {SLOW_SESSION_GAP_MINUTES} MINUTE END"
    )
    return f"""
WITH e AS (
  SELECT user_id, event_type, ts, {gap_case} AS gap,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > ({gap_case})
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)
), i AS (
  SELECT user_id, event_type, ts, gap,
         SUM(brk) OVER (PARTITION BY user_id, event_type ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM e
), sess AS (
  SELECT user_id, event_type,
         epoch_us(MIN(ts)) AS s_us,
         epoch_us(MAX(ts) + ANY_VALUE(gap)) AS e_us,
         COUNT(*) AS n_in_session,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
  FROM i GROUP BY user_id, event_type, island
)
SELECT event_type,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_in_session) AS BIGINT) AS n_events,
       CAST(MAX(n_in_session) AS BIGINT) AS max_events,
       CAST(SUM(dur_us) AS BIGINT) AS dur_mass_us,
       CAST(SUM(e_us - s_us) AS BIGINT) AS win_mass_us
FROM sess GROUP BY event_type ORDER BY event_type
"""


# --- q253: null-safe comparison census -----------------------------------------


def q253_null_safe_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe comparison census — ``equal_null`` (the function
    spelling, r16 probe pin 6), ``IS DISTINCT FROM`` (r15 pin 9) and
    the ``<=>`` operator over two deterministically-degraded copies of
    the cents column (independent NULL strata at mod 5 and mod 7, so
    rows split into both-present / one-null / both-null classes with
    known sizes): agreement count, difference count, both-null
    agreements, and one-sided nulls, per event type.

    This is the change-data-capture comparison kernel: a naive
    ``a = b`` silently drops every NULL row from BOTH counts, and a
    100 TB snapshot-diff built on it undercounts drift exactly where
    the data is dirtiest. The DuckDB replay spells all three Spark
    surfaces as ANSI IS [NOT] DISTINCT FROM.

    Scale shape: row-local codegen comparisons, ONE 4-group hash
    aggregate, COUNT partials map-side — the q100 snapshot-diff
    posture reduced to its comparison primitive.

    Reference lineage: /root/reference/src/mr/worker.go:197-212 — the
    reducer's adjacent-key equality scan is an implicit non-null
    comparison; the null-safe forms are what it needs the moment keys
    can be NULL."""
    return spark.sql(
        """
WITH p AS (
  SELECT event_type,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS a,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS b
  FROM {events}
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE equal_null(a, b)) AS n_same,
       COUNT(*) FILTER (WHERE a IS DISTINCT FROM b) AS n_diff,
       COUNT(*) FILTER (WHERE a <=> b AND a IS NULL) AS n_both_null,
       COUNT(*) FILTER (WHERE (a IS NULL) != (b IS NULL)) AS n_one_null
FROM p GROUP BY event_type ORDER BY event_type
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q253_ORACLE = """
WITH p AS (
  SELECT event_type,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS a,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS b
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE a IS NOT DISTINCT FROM b) AS n_same,
       COUNT(*) FILTER (WHERE a IS DISTINCT FROM b) AS n_diff,
       COUNT(*) FILTER (WHERE a IS NOT DISTINCT FROM b AND a IS NULL)
         AS n_both_null,
       COUNT(*) FILTER (WHERE (a IS NULL) != (b IS NULL)) AS n_one_null
FROM p GROUP BY event_type ORDER BY event_type
"""


# --- q256: error-safe structured-parse report -----------------------------------


def q256_error_safe_parse_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured-ingest parse report completing the error-safe family
    on its two remaining axes (after q223 numeric, q232 temporal, q237
    arithmetic, q238 binary): ``try_parse_json`` (NULL-on-error VARIANT
    parse, r17 second-batch pin 15 — every 11th props payload is
    corrupted with a non-JSON prefix and must quarantine as one NULL,
    not a job abort) and ``from_csv`` with an explicit schema (typed
    struct extraction, pin 20 — the line format a crawler side-channel
    actually ships), with the struct fields audited per event type.

    DuckDB replays: json_valid CASE for the VARIANT member;
    split_part + CASTs for the typed CSV fields.

    Scale shape: both parsers are row-local (from_csv is a JVM-side
    UnivocityParser per batch, no Python); ONE 4-group aggregate.
    Fault isolation at record grain, priced at a CASE.

    Reference lineage: the reference trusts its JSON intermediate
    files absolutely (/root/reference/src/mr/worker.go:174-189 kills
    the worker on any Decode error); try_parse_json is that decode
    with the blast radius shrunk from process to row."""
    return spark.sql(
        # '{{' is a literal brace: the text is a format string.
        """
WITH feed AS (
  SELECT event_type,
         CASE WHEN event_id % 11 = 0 THEN concat('x{{', props)
              ELSE props END AS j,
         concat(CAST(event_id AS STRING), ',', event_type, ',',
                CAST(floor(value * 100 + 0.5) AS BIGINT)) AS line
  FROM {events}
), parsed AS (
  SELECT event_type,
         try_parse_json(j) AS v,
         from_csv(line, 'id BIGINT, et STRING, cents BIGINT') AS rec
  FROM feed
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE v IS NULL) AS n_bad_json,
       CAST(SUM(rec.cents) AS BIGINT) AS cents_mass,
       COUNT(*) FILTER (WHERE rec.et = event_type) AS n_et_ok,
       MAX(rec.id) AS max_id
FROM parsed GROUP BY event_type ORDER BY event_type
""",
        events=load_table(spark, sf_dir, "events"),
    )


Q256_ORACLE = """
WITH feed AS (
  SELECT event_type,
         CASE WHEN event_id % 11 = 0 THEN 'x{' || props
              ELSE props END AS j,
         CAST(event_id AS VARCHAR) || ',' || event_type || ',' ||
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS line
  FROM events
), parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(j) THEN j END AS v,
         CAST(split_part(line, ',', 1) AS BIGINT) AS rec_id,
         split_part(line, ',', 2) AS rec_et,
         CAST(split_part(line, ',', 3) AS BIGINT) AS rec_cents
  FROM feed
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE v IS NULL) AS n_bad_json,
       CAST(SUM(rec_cents) AS BIGINT) AS cents_mass,
       COUNT(*) FILTER (WHERE rec_et = event_type) AS n_et_ok,
       MAX(rec_id) AS max_id
FROM parsed GROUP BY event_type ORDER BY event_type
"""


QUERIES = [
    QuerySpec("q191_trailing_hour_avg", q191_trailing_hour_avg,
              Q191_ORACLE,
              "trailing 1-hour RANGE-interval window average per user "
              "(exact integer cents inside the frame)",
              ("events", "window", "temporal")),
    QuerySpec("q185_retention_hazard", q185_retention_hazard, Q185_ORACLE,
              "discrete-time retention hazard life table off the "
              "lifetime histogram (triangular broadcast suffix sum)",
              ("events", "stats", "retention")),
    QuerySpec("q186_user_entropy", q186_user_entropy, Q186_ORACLE,
              "per-user event-type Shannon entropy in quantized nats "
              "(behavioral predictability score)",
              ("events", "stats", "quality")),
    QuerySpec("q136_activity_streaks", q136_activity_streaks, Q136_ORACLE,
              "longest consecutive-day streak per user as a histogram "
              "(gaps-and-islands window idiom)",
              ("events", "window", "stats")),
    QuerySpec("q226_micro_sessions", q226_micro_sessions, Q226_ORACLE,
              "10-minute-gap micro-sessions hash-checked at epoch-"
              "microsecond grain (closed-boundary session_window)",
              ("events", "window", "temporal")),
    QuerySpec("q139_interval_overlap", q139_interval_overlap,
              _q139_oracle(),
              "session x campaign interval-overlap join with exact "
              "microsecond overlap mass (broadcast interval dim)",
              ("events", "join", "temporal")),
    QuerySpec("q142_event_transitions", q142_event_transitions, Q142_ORACLE,
              "first-order Markov transition census of adjacent event "
              "types per user (exact n / n_from)",
              ("events", "window", "stats")),
    QuerySpec("q143_user_burstiness", q143_user_burstiness, Q143_ORACLE,
              "per-user Fano factor of hourly activity from exact "
              "integer moments (bot/burst audit)",
              ("events", "stats", "profile")),
    QuerySpec("q123_temporal_sweep", q123_temporal_sweep, Q123_ORACLE,
              "calendar-function sweep (quarter/isodow/doy/ISO week/"
              "datediff) per type x quarter",
              ("events", "temporal", "scalar")),
    QuerySpec("q14_hourly_windows", q14_hourly_windows, Q14_ORACLE,
              "tumbling 1h event windows (batch twin of the streaming path)",
              ("events", "window", "streaming-twin")),
    QuerySpec("q15_json_extract", q15_json_extract, Q15_ORACLE,
              "JSON property extraction + aggregation over events.props",
              ("events", "json")),
    QuerySpec("q52_props_map", q52_props_map, Q52_ORACLE,
              "typed-map path: from_json map + element_at + map_keys",
              ("events", "json", "map")),
    QuerySpec("q203_variant_json", q203_variant_json, Q203_ORACLE,
              "VARIANT semi-structured path: parse_json once, typed "
              "variant_get multi-extraction rollup (q15's scale twin)",
              ("events", "json", "variant")),
    QuerySpec("q206_variant_roundtrip", q206_variant_roundtrip,
              Q206_ORACLE,
              "VARIANT storage round trip: parse once, write parquet, "
              "read back, typed probes over the stored encoding",
              ("events", "json", "variant", "sink")),
    QuerySpec("q59_hourly_gapfill", q59_hourly_gapfill, Q59_ORACLE,
              "sparse-to-dense hourly grid with zero-filled empty buckets",
              ("events", "timeseries")),
    QuerySpec("q32_user_sessions", q32_user_sessions, Q32_ORACLE,
              "gap-based sessionization (session_window, 6h gap)",
              ("events", "session", "streaming-twin")),
    QuerySpec("q74_multires_rollup", q74_multires_rollup, Q74_ORACLE,
              "daily aggregates derived from the hourly rollup layer",
              ("events", "rollup")),
    QuerySpec("q39_sliding_windows", q39_sliding_windows, Q39_ORACLE,
              "sliding 2h/1h event windows (each event in two windows)",
              ("events", "window", "streaming-twin")),
    QuerySpec("q85_funnel_stages", q85_funnel_stages, Q85_ORACLE,
              "ordered view->click->purchase funnel via stacked windows",
              ("events", "funnel")),
    QuerySpec("q87_value_trend", q87_value_trend, Q87_ORACLE,
              "per-type OLS trend of value over time (regr_* aggregates)",
              ("events", "regression")),
    QuerySpec("q97_cdc_snapshot", q97_cdc_snapshot, Q97_ORACLE,
              "CDC latest-row snapshot per key via struct-max partial "
              "aggregate (the MERGE/upsert compaction shape)",
              ("events", "cdc", "upsert")),
    QuerySpec("q102_winsorize", q102_winsorize, Q102_ORACLE,
              "per-type [p1,p99] winsorization with clip counts and "
              "raw-vs-clipped means",
              ("events", "robust-stats")),
    QuerySpec("q106_mad_dispersion", q106_mad_dispersion, Q106_ORACLE,
              "median absolute deviation + robust sigma vs stddev per "
              "event type",
              ("events", "robust-stats")),
    QuerySpec("q148_cusum_drift", q148_cusum_drift, Q148_ORACLE,
              "per-type CUSUM mean-shift statistic over daily cents "
              "(integer-exact change-point audit: max |n*S_k| + drift day)",
              ("events", "drift", "robust-stats")),
    QuerySpec("q149_active_user_ratios", q149_active_user_ratios, Q149_ORACLE,
              "DAU/WAU/MAU + stickiness basis points per day (exact "
              "trailing-distinct via bounded 30-day fan-out; HLL sketch "
              "union is the approximate scale path)",
              ("events", "product-analytics", "distinct")),
    QuerySpec("q154_rolling_correlation", q154_rolling_correlation,
              Q154_ORACLE,
              "trailing-7-day Pearson corr of daily volume vs revenue "
              "per type (integer window sums; fp only at final sqrt)",
              ("events", "window", "stats")),
    QuerySpec("q159_zscore_anomaly", q159_zscore_anomaly, Q159_ORACLE,
              "daily revenue >2-sigma anomaly days per type from exact "
              "integer moments (point-anomaly sibling of CUSUM/EWMA)",
              ("events", "drift", "robust-stats")),
    QuerySpec("q161_session_paths", q161_session_paths, Q161_ORACLE,
              "top event-type trigram paths via lead() windows "
              "(path-mining census, fully tie-broken top-k)",
              ("events", "window", "funnel")),
    QuerySpec("q222_time_of_day_profile", q222_time_of_day_profile,
              Q222_ORACLE,
              "wall-clock time-of-day rollup on the conf-gated ANSI TIME "
              "type (make_time + time_trunc, date-less seasonality)",
              ("events", "time", "sql-surface")),
    QuerySpec("q232_try_timestamp_census", q232_try_timestamp_census,
              Q232_ORACLE,
              "try_to_timestamp error-safe temporal census: corrupt-feed "
              "re-parse audited per event type (NULL-on-error, q223's "
              "temporal member)",
              ("events", "temporal", "error-safe")),
    QuerySpec("q239_calendar_eom_report", q239_calendar_eom_report,
              Q239_ORACLE,
              "last_day/dayofweek/dayofyear/weekofyear/make_date month-end "
              "census with the dayofweek +1 oracle replay",
              ("events", "temporal", "calendar")),
    QuerySpec("q241_locf_gapfill", q241_locf_gapfill, Q241_ORACLE,
              "IGNORE NULLS lag/lead LOCF gap-fill audit per event type "
              "(exact repaired-cents mass, one shuffle both directions)",
              ("events", "window", "timeseries")),
    QuerySpec("q242_local_time_report", q242_local_time_report,
              Q242_ORACLE,
              "from_utc_timestamp civil-time report by rendered weekday/"
              "month names with floor-of-unit span replays",
              ("events", "temporal", "timezone")),
    QuerySpec("q244_session_policy_dynamic", q244_session_policy_dynamic,
              _q244_oracle(),
              "dynamic-gap session_window: per-class inactivity policies "
              "(10m interactive / 40m other) hash-checked at micro grain",
              ("events", "window", "temporal")),
    QuerySpec("q253_null_safe_census", q253_null_safe_census,
              Q253_ORACLE,
              "equal_null / IS DISTINCT FROM / <=> census over planted "
              "NULL strata (the CDC comparison kernel)",
              ("events", "scalar", "sql-surface")),
    QuerySpec("q256_error_safe_parse_report", q256_error_safe_parse_report,
              Q256_ORACLE,
              "try_parse_json + from_csv typed parse audit (error-safe "
              "family's VARIANT and CSV members)",
              ("events", "error-safe", "json")),
]
