"""Structural invariants of the round-14 additions (q220–q224).

The oracle parity gate pins VALUE equality against DuckDB; these tests
pin the contracts the SQL twin cannot see: q220's bitmaps are
genuinely mergeable (OR of overlapping sub-slices reproduces the
registered rollup, idempotently) and the scan partial-aggregates
map-side, q221's value hash rests on a verified exact-regime
precondition (per-source audience ≪ the 32768 nominal entries) and its
sketches merge, q222 restores the TIME conf and its analyzed plan
survives execution with the conf OFF, q223 is ANSI-proof (the whole
point of try_* — the plain spellings would raise DIVIDE_BY_ZERO /
CAST_INVALID_INPUT under ANSI mode), and q224's shorthand resolves to
the longhand plan shape (same single-aggregate, same exchange count)
with identical rows.
"""

from pyspark.sql import functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q220_bitmaps_merge_idempotently(spark, sf_dir):
    """OR-merging bucket bitmaps built from two OVERLAPPING row slices
    must reproduce q220's all-flags distinct exactly — the property
    that makes the bucket frame a materialize-once rollup (re-ingest
    or late data can be OR'd in without double counting)."""
    from distributed_map_reduce_spark.operators.sketches import (
        q220_bitmap_distinct_rollup,
    )

    rows = q220_bitmap_distinct_rollup(spark, sf_dir).collect()
    want_all = rows[0].distinct_parts_all
    assert all(r.distinct_parts_all == want_all for r in rows), (
        "the all-flags rollup must be one scalar broadcast to every row"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    merged = spark.sql(
        """
SELECT CAST(SUM(bitmap_count(mb)) AS BIGINT) AS nd FROM (
  SELECT bkt, bitmap_or_agg(b) AS mb FROM (
    SELECT slice, bitmap_bucket_number(l_partkey) AS bkt,
           bitmap_construct_agg(bitmap_bit_position(l_partkey)) AS b
    FROM (
      SELECT 0 AS slice, l_partkey FROM {li} WHERE l_orderkey % 3 != 2
      UNION ALL
      SELECT 1 AS slice, l_partkey FROM {li} WHERE l_orderkey % 3 != 0
    ) GROUP BY slice, bkt
  ) GROUP BY bkt)
""",
        li=li,
    ).collect()[0].nd
    assert merged == want_all, "overlapping-slice OR-merge double-counted"


def test_q220_partial_aggregation_reaches_the_plan(spark, sf_dir):
    """The bitmap construct must partial-aggregate map-side (the whole
    economic argument vs COUNT DISTINCT). q220's executed plan hides the
    construct behind the shared-frame localCheckpoint barrier (the q24
    pattern — PLANS.md note), so the pin audits the bucket frame's OWN
    plan: the identical expression q220 checkpoints."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_partkey"
    )
    buckets = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias(
            "b"
        )
    )
    plan = _plan(buckets)
    assert "partial_bitmap_construct_agg" in plan.replace(" ", ""), (
        "no map-side partial bitmap construction in the plan"
    )
    assert "ReadSchema: struct<l_partkey:bigint,l_returnflag:string>" in plan, (
        "bucket-frame scan stopped pruning to the two needed columns"
    )


def test_q221_exact_regime_precondition_and_mergeability(spark, sf_dir):
    """The q221 hash is honest only while every sketch retains all ids:
    verify the per-source audience sizes are far below the 32768
    nominal entries at the gated scale, and that theta state MERGES
    (union of two per-half sketches == the one-shot union estimate)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_audience = (
        docs.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_audience < 32768 // 2, (
        f"per-source audience {max_audience} approaches the lgk=15 "
        "nominal 32768 — q221 must move to the rows-only-with-floor "
        "family (the HLL rule)"
    )
    one_shot, merged = spark.sql(
        """
SELECT CAST(theta_sketch_estimate(theta_sketch_agg(doc_id, 15)) AS BIGINT)
         AS one_shot,
       (SELECT CAST(theta_sketch_estimate(theta_union_agg(s, 15)) AS BIGINT)
        FROM (SELECT doc_id % 2 AS half,
                     theta_sketch_agg(doc_id, 15) AS s
              FROM {docs} GROUP BY half)) AS merged
FROM {docs}
""",
        docs=docs,
    ).collect()[0]
    assert one_shot == merged, "theta sketches stopped merging exactly"


def test_q222_conf_restored_and_plan_survives_execution(spark, sf_dir):
    """The builder must leave ``spark.sql.timeType.enabled`` exactly as
    it found it, and the DataFrame it returned must still execute with
    the conf OFF (analysis-time gate only — the driver collects the
    frame long after the builder returned)."""
    from distributed_map_reduce_spark.operators.events import (
        q222_time_of_day_profile,
    )

    before = spark.conf.get("spark.sql.timeType.enabled")
    df = q222_time_of_day_profile(spark, sf_dir)
    assert spark.conf.get("spark.sql.timeType.enabled") == before
    rows = df.collect()  # executes with the conf restored (default off)
    assert rows, "empty time-of-day profile"
    hours = {r.tod for r in rows}
    assert len(hours) <= 24
    assert all(t.endswith(":00:00") and 0 <= int(t[:2]) < 24 for t in hours)


def test_q223_is_ansi_proof(spark, sf_dir):
    """try_* is exactly the ANSI-safety story: the registered query must
    return IDENTICAL rows with ANSI mode forced on (the plain ``/`` and
    ``to_number`` spellings would raise DIVIDE_BY_ZERO /
    CAST_INVALID_INPUT on the same corpus)."""
    from distributed_map_reduce_spark.operators.textanalysis import (
        q223_try_quality_guards,
    )

    prev = spark.conf.get("spark.sql.ansi.enabled")
    base = [tuple(r) for r in q223_try_quality_guards(spark, sf_dir).collect()]
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        ansi = [
            tuple(r) for r in q223_try_quality_guards(spark, sf_dir).collect()
        ]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert base == ansi
    # the guards are doing real work on this corpus: at least one
    # source has an undefined metric (NULL try_divide or try_to_number)
    assert any(r[2] > 0 or r[4] > 0 for r in base), (
        "corpus has no undefined-metric rows — the guard census is vacuous"
    )


def test_q224_shorthand_equals_longhand(spark, sf_dir):
    """GROUP BY ALL / * EXCEPT / ORDER BY ALL / lateral aliases are
    resolver sugar: the shorthand's rows AND aggregate/exchange plan
    shape must equal the explicit longhand spelling."""
    from distributed_map_reduce_spark.operators.relational import (
        q224_report_group_by_all,
    )
    from distributed_map_reduce_spark.sources import load_table

    df = q224_report_group_by_all(spark, sf_dir)
    longhand = spark.sql(
        """
SELECT o_orderpriority, o_orderstatus, n, avg_cents, avg_dollars FROM (
  SELECT o_orderpriority, o_orderstatus, n,
         total_cents DIV n AS avg_cents,
         (total_cents DIV n) DIV 100 AS avg_dollars
  FROM (
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents
    FROM {orders}
    GROUP BY o_orderpriority, o_orderstatus
  )
)
ORDER BY o_orderpriority, o_orderstatus, n, avg_cents, avg_dollars
""",
        orders=load_table(spark, sf_dir, "orders"),
    )
    assert df.columns == longhand.columns
    assert [tuple(r) for r in df.collect()] == [
        tuple(r) for r in longhand.collect()
    ]
    p_short, p_long = _plan(df), _plan(longhand)
    for op in ("HashAggregate", "Exchange"):
        assert p_short.count(op) == p_long.count(op), (
            f"shorthand planned a different number of {op} nodes"
        )
