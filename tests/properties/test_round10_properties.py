"""Structural invariants of the round-10 additions (q205–q208).

The oracle parity gate pins VALUE equality against DuckDB at two
scales; these tests pin the contracts the SQL twin shares and
therefore cannot check: the table function's plan-time inlining, the
VARIANT round trip's type preservation and losslessness, the streaming
sketch's agreement with the batch sketch path, and pipe syntax
lowering to the identical ANSI plan.
"""

import re

from distributed_map_reduce_spark.operators.events import (
    q206_variant_roundtrip,
)
from distributed_map_reduce_spark.operators.relational import q208_sql_pipe
from distributed_map_reduce_spark.sources import load_table
from distributed_map_reduce_spark.operators.sketches import (
    KMV_SKETCH_K,
    q197_kmv_distinct,
)
from distributed_map_reduce_spark.operators.udaf import (
    q205_sql_table_function,
)
from distributed_map_reduce_spark.streaming.documents_stream import (
    q207_streaming_theta_twin,
)


def test_sql_table_function_inlines_per_invocation(spark, sf_dir):
    """q205's table function must be INLINED like a parameterized view:
    no function node survives to the physical plan, and BOTH
    invocations' aggregates are planned with partial aggregation —
    the zero-invocation-cost claim, q204's test in table shape."""
    plan = (
        q205_sql_table_function(spark, sf_dir)
        ._jdf.queryExecution()
        .toString()
    )
    physical = plan.split("== Physical Plan ==")[-1]
    assert "q205_seg_orders" not in physical, physical
    assert physical.count("partial_count") >= 2, physical
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in physical, physical


def test_variant_roundtrip_preserves_type_and_values(spark, sf_dir):
    """The q206 storage hop must write a real VARIANT column (not a
    stringified fallback) and be lossless: the rollup over the
    read-back frame equals the same rollup computed directly over the
    in-memory parse (no storage hop). The schema assertion reads the
    store q206 itself just wrote (no second full-table write)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import VariantType

    from distributed_map_reduce_spark.session import app_scratch_dir
    from distributed_map_reduce_spark.sources import load_table

    a = sorted(map(tuple, q206_variant_roundtrip(spark, sf_dir).collect()))
    back = spark.read.parquet(app_scratch_dir(spark, sf_dir, "q206_variant"))
    assert isinstance(back.schema["v"].dataType, VariantType), back.schema

    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    direct = (
        ev.groupBy("event_type")
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
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_streaming_theta_matches_batch_kmv(spark, sf_dir):
    """The streaming sketch state must converge to exactly the batch
    KMV sketch: q207's per-source estimate equals q197's (same hash,
    same K, same estimator — one maintained incrementally in stream
    state, one computed by a batch top-K window), and the sketch size
    is min(n_exact, K)."""
    batch = {
        r["source"]: r for r in q197_kmv_distinct(spark, sf_dir).collect()
    }
    stream = q207_streaming_theta_twin(spark, sf_dir).collect()
    assert len(stream) == len(batch)
    for r in stream:
        twin = batch[r["source"]]
        assert r["n_kmv"] == twin["n_kmv"], (r, twin)
        assert r["n_sketch"] == min(twin["n_exact"], KMV_SKETCH_K), (r, twin)


def test_sql_pipe_lowers_to_identical_ansi_plan(spark, sf_dir):
    """Pipe syntax must be pure parse-time sugar: the optimized plan of
    the |> query equals the optimized plan of the hand-written ANSI
    equivalent, modulo expression IDs."""
    pipe = (
        q208_sql_pipe(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # The ANSI twin spells the EXTEND stage as the derived-table
    # projection it desugars to (a pipe EXTEND == a subquery SELECT *,
    # expr AS name); everything else is the standard nested form.
    ansi = (
        spark.sql(
            """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
                   ROUND(SUM(disc_price), 2) AS revenue
            FROM (
                SELECT *,
                       l_extendedprice * (1.0 - l_discount) AS disc_price
                FROM {lineitem}
                WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
            )
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
            """,
            lineitem=load_table(spark, sf_dir, "lineitem"),
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )

    def norm(p: str) -> str:
        return re.sub(r"#\d+L?", "#", p)

    assert norm(pipe) == norm(ansi), (pipe, ansi)


def test_correlated_table_function_limit_quirk_still_present(spark, sf_dir):
    """Documents WHY q205 pins only the plain invocation form: in this
    Spark build a correlated LATERAL table-function call whose body
    ends in ORDER BY ... LIMIT returns wrong rows (the LIMIT lands
    globally after decorrelation; groups are dropped). The plain call
    and the LIMIT-free correlated call are both correct. If this test
    FAILS, the build fixed the quirk — extend q205 with the correlated
    form and delete this probe."""
    spark.range(10).selectExpr("id", "id % 3 AS g").createOrReplaceTempView(
        "__q205_quirk_t"
    )
    try:
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION __q205_quirk_top(grp BIGINT)"
            " RETURNS TABLE (id BIGINT) RETURN SELECT id FROM __q205_quirk_t"
            " WHERE g = grp ORDER BY id DESC LIMIT 2"
        )
        plain = spark.sql("SELECT * FROM __q205_quirk_top(0)").collect()
        assert sorted(r["id"] for r in plain) == [6, 9]  # plain form: correct

        correlated = spark.sql(
            "SELECT s.g2, f.id"
            " FROM (SELECT DISTINCT g AS g2 FROM __q205_quirk_t) s,"
            " LATERAL __q205_quirk_top(s.g2) f ORDER BY s.g2, f.id"
        ).collect()
        correct = [(0, 6), (0, 9), (1, 4), (1, 7), (2, 5), (2, 8)]
        assert [(r["g2"], r["id"]) for r in correlated] != correct, (
            "the correlated ORDER BY/LIMIT table-function quirk is FIXED in "
            "this Spark build — extend q205 with the correlated form and "
            "remove this probe"
        )
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS __q205_quirk_top")
        spark.catalog.dropTempView("__q205_quirk_t")


def test_streaming_theta_is_microbatch_invariant(spark, sf_dir, tmp_path):
    """The flagship q207 claim — the sketch merge is associative and
    idempotent, so the drained result is independent of micro-batching
    — exercised for real: the same documents split into 4 parquet
    files and streamed with maxFilesPerTrigger=1 (4 micro-batches,
    state merged across batches, overflow re-truncated per batch) must
    produce exactly the single-batch q207 result. The production
    single-file drain never enters the state.exists branch; this does."""
    from distributed_map_reduce_spark.sources import load_table
    from distributed_map_reduce_spark.streaming.documents_stream import (
        drain_theta_sketch_stream,
        theta_sketch_stream,
    )

    one_batch = sorted(
        map(tuple, q207_streaming_theta_twin(spark, sf_dir).collect())
    )

    tmp = str(tmp_path / "split")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    split_stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(tmp)
    )
    multi_batch = sorted(
        map(
            tuple,
            drain_theta_sketch_stream(
                theta_sketch_stream(split_stream)
            ).collect(),
        )
    )
    assert multi_batch == one_batch
