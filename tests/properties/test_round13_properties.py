"""Structural invariants of the round-13 additions (q215–q219).

The oracle parity gate pins VALUE equality against DuckDB; these tests
pin the contracts the SQL twin cannot see: q215's rank cap actually
reaches the plan as a WindowGroupLimit (the bounded-group posture the
docstring promises), q216's session variables constant-fold into the
registered query's own optimized plan (not just the probe's), q217's
round trip preserves every projected row exactly (not only in
aggregate), q218's EXECUTE IMMEDIATE result equals the equivalent
directly-parameterized statement, and q219's drain is genuinely
MULTI-batch with the union of batch directories equal to the corpus
(no loss/duplication across batchIds) and a second invocation a
zero-new-batch checkpoint catch-up.
"""

import contextlib
import glob
import os

from pyspark.sql import functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def _views(spark, sf_dir, prefix, tables):
    """Register ``<prefix>_<table>`` views for a name-bound statement
    (the builders drop theirs once built) and drop them after."""
    from distributed_map_reduce_spark.sources import load_table

    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{prefix}_{t}")
    try:
        yield
    finally:
        for t in tables:
            spark.catalog.dropTempView(f"{prefix}_{t}")


def test_q215_rank_cap_plans_window_group_limit(spark, sf_dir):
    """The top-5 cap must reach the physical plan as WindowGroupLimit
    (the per-group pre-sort cut), so listagg state can never exceed 5
    rows per group regardless of corpus size."""
    from distributed_map_reduce_spark.operators.relational import (
        q215_listagg_topk_report,
    )

    df = q215_listagg_topk_report(spark, sf_dir)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, "rank cap fell off the plan"
    rows = df.collect()
    assert all(r.n_top <= 5 for r in rows)
    # the listagg order contract: each list is sorted by (cents desc,
    # key asc) — verify the list is consistent with n_top
    assert all(len(r.top_keys.split(",")) == r.n_top for r in rows)


def test_q216_variables_constant_fold_in_registered_query(spark, sf_dir):
    """The probe pins folding on a toy query; this pins it on q216's
    OWN parameterized statement: after the query runs (setting the
    variables), the script's inner SELECT compiled standalone shows the
    bound literals, not variable references — planning-time pruning at
    100 TB."""
    from distributed_map_reduce_spark.operators.relational import (
        q216_sql_script_maintenance,
    )

    q216_sql_script_maintenance(spark, sf_dir)  # sets vars; FURNITURE last
    with _views(spark, sf_dir, "__q216", ("orders", "customer")):
        inner = spark.sql(
            """
            SELECT COUNT(*) AS n
            FROM IDENTIFIER(q216_tbl) o
            JOIN __q216_customer c ON c.c_custkey = o.o_custkey
            WHERE c.c_mktsegment = q216_seg AND o.o_orderdate >= q216_cutoff
            """
        )
    plan = inner._jdf.queryExecution().optimizedPlan().toString()
    assert "FURNITURE" in plan and "q216_seg" not in plan, (
        "session variable no longer constant-folds in the registered shape"
    )


def test_q217_roundtrip_preserves_every_row(spark, sf_dir):
    """Aggregate hashes could in principle mask offsetting row errors;
    pin the row level: the XML-written frame read back equals the
    projected source frame exactly (including the specials-laced probe
    string)."""
    from distributed_map_reduce_spark.session import app_scratch_dir
    from distributed_map_reduce_spark.sources.xmlsource import (
        q217_xml_roundtrip,
    )

    q217_xml_roundtrip(spark, sf_dir)  # writes + reads the store
    path = app_scratch_dir(spark, sf_dir, "q217_xml")
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(
            "doc_id bigint, source string, lang string, n_chars bigint,"
            " probe string"
        )
        .load(path)
        .select("doc_id", "source", "lang", "n_chars", "probe")
    )
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    want = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.concat(
            F.col("source"), F.lit(' <&"> '), F.col("doc_id").cast("string")
        ).alias("probe"),
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_q218_equals_direct_parameterized_statement(spark, sf_dir):
    """EXECUTE IMMEDIATE through a variable-held statement + USING must
    equal the same text submitted directly with positional args — the
    dynamic path adds dispatch, never semantics."""
    from distributed_map_reduce_spark.operators.relational import (
        _Q218_STMT,
        q218_execute_immediate,
    )

    via_exec = q218_execute_immediate(spark, sf_dir).collect()
    with _views(spark, sf_dir, "__q218", ("customer", "nation", "region")):
        direct = (
            spark.sql(_Q218_STMT, args=["EUROPE", "EUROPE", 1000.0])
            .unionAll(spark.sql(_Q218_STMT, args=["ASIA", "ASIA", 5000.0]))
            .orderBy("region", "n_name")
            .collect()
        )
    assert via_exec == direct


def test_q219_multibatch_and_checkpoint_catchup(spark, sf_dir):
    """Three pins: (a) the drain lands MULTIPLE batchId directories
    (the rate limit forces a walk — a single-batch drain would make
    the exactly-once claim vacuous); (b) the union of the committed
    directories is exactly the corpus, no loss or duplication across
    batch boundaries; (c) a second invocation recovers the checkpoint
    and writes NO new batch directories (zero-new-data catch-up)."""
    from distributed_map_reduce_spark.streaming.documents_stream import (
        _q219_run_dirs,
        q219_foreachbatch_exactly_once,
    )

    first = q219_foreachbatch_exactly_once(spark, sf_dir)
    first.collect()
    _, out = _q219_run_dirs(sf_dir, spark)
    dirs = sorted(glob.glob(os.path.join(out, "b*")))
    assert len(dirs) >= 2, "rate limit should force a multi-batch walk"
    written = spark.read.parquet(*dirs)
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    assert written.count() == docs.count()
    assert written.select("doc_id").distinct().count() == docs.count()

    again = q219_foreachbatch_exactly_once(spark, sf_dir)
    again.collect()
    assert sorted(glob.glob(os.path.join(out, "b*"))) == dirs, (
        "checkpoint catch-up must not write new batch directories"
    )
