"""Watch-list probes de-risking the round-13 intake candidates.

Same discipline as q205's correlated-LATERAL probe (commit a187b14):
before a surface becomes a registry query, pin how THIS Spark build
behaves on it — the working form, the trap, and the oracle-matchability
evidence — so the intake round composes queries instead of debugging
binders. Eleven candidates, all verified available in pyspark 4.1.2
here:

1. ``listagg`` — bare listagg's order is partition-dependent; only the
   ``WITHIN GROUP (ORDER BY ...)`` form is deterministic. DuckDB twin:
   ``string_agg(x, ',' ORDER BY ...)``.
2. ``collate('UNICODE_CI')`` — CI grouping matches DuckDB ``lower()``
   grouping on this ASCII corpus, BUT the Spark group key retains an
   arbitrary representative's original case: an oracle-hashed query
   must surface ``lower(key)``, never the raw collated key.
3. ``hll_sketch_agg`` (Datasketches HLL, lgK=14) — NOT exact even at
   sf0.01 shingle cardinality (~3.7k/source: est 3735 vs exact 3746),
   so an HLL registry entry is rows-only with an error-bound property,
   or must sit on a small domain where sparse mode is exact (tokens,
   ~31/source). ``hll_union_agg`` over per-bucket sketches is
   deterministic for a FIXED bucketing but does NOT reproduce the
   one-shot sketch estimate, and changing the bucket geometry shifts
   the estimate (the union goes through Datasketches' HLL_8 gadget) —
   so a merged-sketch query must fix its bucketing explicitly and can
   only be oracled via an error bound, never a value hash.
4. ``from_xml`` — schema-projected extraction; oracle replays with
   regexp. Malformed input degrades to NULL fields (PERMISSIVE), not
   an error.
5. ``EXECUTE IMMEDIATE ... USING`` — positional binding works here
   (unlike '?' inside IDENTIFIER(), q211's pinned quirk).
6. ``foreachBatch`` + batchId-keyed overwrite — the exactly-once file
   sink recipe: a crash-before-commit replay re-delivers the SAME
   batchId and the overwrite absorbs it. Gotcha pinned: simulating the
   crash by deleting ``commits/N`` must also delete the local
   filesystem's ``.N.crc`` sidecar, or the replay's rename fails and
   surfaces as a misleading "multiple streaming queries" error.
7. SQL scripting (``BEGIN ... END``, Spark 4.0) — DECLARE/SET, WHILE,
   FOR-over-query, and IF all execute here; the script returns ONLY
   the final statement's result (earlier SELECTs are discarded), so a
   registry query must put its whole answer in the last statement.
   Oracle shape: replay the loop's closed form in plain SQL.
8. Session variables (``DECLARE VARIABLE`` / ``SET VAR``) — values
   CONSTANT-FOLD into the plan (a variable in a WHERE clause prunes
   like a hand-inlined literal at 100 TB), ``SET VAR x = ?`` binds
   positionally, and a variable inside ``IDENTIFIER()`` RESOLVES —
   the exact composition q211 pinned as broken for positional ``?``
   markers. Variables are the working path for parameterized table
   names + positional submission.
9. Native XML DataSource (``format("xml")`` read AND write) — the
   file-level sibling of the ``from_xml`` probe above: round trip
   through files preserves values including XML-special characters
   (``< & "`` are escaped on write, unescaped on read).
10. ``approx_top_k`` — counts are EXACT while distinct items tracked
    stay under maxItemsTracked (default 10000), but the returned
    array's order among EQUAL counts is arbitrary, so an oracle-hashed
    query must explode and re-sort by (count DESC, item) rather than
    trust the sketch's tie order.
11. Arrow-optimized Python UDF (``udf(..., useArrow=True)``) — plans
    as ``ArrowEvalPython`` (Arrow batch transfer) where the row form
    plans ``BatchEvalPython`` (pickled rows); results agree with the
    row form and the equivalent built-in expression. The registry's
    UDF-demonstration surfaces should default to the Arrow form.
"""

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _drop_probe_views(spark):
    """Drop the views a probe registers once it has run, so none
    outlives its test in the shared session."""
    yield
    for name in ("probe_docs", "probe_shingles"):
        spark.catalog.dropTempView(name)


def _docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    df.createOrReplaceTempView("probe_docs")
    return df


def _duck(sf_dir, sql):
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir.rstrip('/')}/documents.parquet'"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_listagg_within_group_matches_duckdb_string_agg(spark, sf_dir):
    """Only the WITHIN GROUP form is deterministic: bare listagg
    concatenates in partition-arrival order. The ordered form must
    hash-match DuckDB's ordered string_agg exactly."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT source, listagg(CAST(doc_id AS STRING), ',') "
        "WITHIN GROUP (ORDER BY doc_id) AS ids "
        "FROM probe_docs GROUP BY source ORDER BY source"
    ).collect()
    want = _duck(
        sf_dir,
        "SELECT source, string_agg(CAST(doc_id AS VARCHAR), ',' "
        "ORDER BY doc_id) AS ids FROM documents GROUP BY source "
        "ORDER BY source",
    )
    assert [(r.source, r.ids) for r in got] == want


def test_collate_ci_grouping_needs_lower_for_oracle(spark, sf_dir):
    """UNICODE_CI grouping agrees with lower() grouping on this ASCII
    corpus (same groups, same counts) — but the collated group KEY is
    an arbitrary-case representative, so the oracle-safe surface is
    lower(key). Assert the lower()-projected form matches DuckDB."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT lower(k) AS k, n FROM ("
        "  SELECT collate(substr(text, 1, 2), 'UNICODE_CI') AS k, "
        "         count(*) AS n FROM probe_docs GROUP BY k"
        ") ORDER BY k"
    ).collect()
    want = _duck(
        sf_dir,
        "SELECT lower(substr(text, 1, 2)) AS k, count(*) AS n "
        "FROM documents GROUP BY k ORDER BY k",
    )
    assert [(r.k, r.n) for r in got] == want


def test_hll_error_bound_and_union_mergeability(spark, sf_dir):
    """Three pins: (a) the lgK=14 estimate is NOT exact at shingle
    cardinality (so any registry entry is rows-only + this error
    bound); (b) unioning per-bucket sketches stays within the same
    bound of exact — mergeability is what makes HLL a linear scan at
    100 TB; (c) the merged estimate does NOT equal the one-shot
    estimate in this build (HLL_8 union gadget), so the one-shot path
    can never serve as the merged path's oracle."""
    _docs(spark, sf_dir)
    shingles = spark.sql(
        "SELECT source, doc_id % 4 AS bucket, "
        "explode(transform(sequence(1, greatest(length(text)-7, 0)), "
        "        i -> substr(text, i, 8))) AS sh "
        "FROM probe_docs"
    )
    shingles.createOrReplaceTempView("probe_shingles")
    one_shot = {
        r.source: (r.est, r.exact)
        for r in spark.sql(
            "SELECT source, "
            "hll_sketch_estimate(hll_sketch_agg(sh, 14)) AS est, "
            "count(DISTINCT sh) AS exact "
            "FROM probe_shingles GROUP BY source"
        ).collect()
    }
    for src, (est, exact) in one_shot.items():
        assert abs(est - exact) <= max(0.03 * exact, 3), (src, est, exact)
    merged = {
        r.source: r.est
        for r in spark.sql(
            "SELECT source, hll_sketch_estimate(hll_union_agg(sk)) AS est "
            "FROM (SELECT source, bucket, hll_sketch_agg(sh, 14) AS sk "
            "      FROM probe_shingles GROUP BY source, bucket) "
            "GROUP BY source"
        ).collect()
    }
    for src, est in merged.items():
        exact = one_shot[src][1]
        assert abs(est - exact) <= max(0.03 * exact, 3), (src, est, exact)
    # the union gadget shifts estimates: merged != one-shot for at
    # least some sources at this cardinality (if this ever flips to
    # all-equal on a Spark upgrade, the one-shot oracle becomes viable)
    assert any(
        merged[src] != est for src, (est, _) in one_shot.items()
    ), "HLL union now reproduces one-shot estimates — revisit oracle design"


def test_from_xml_extraction_matches_regexp_oracle(spark, sf_dir):
    """Schema-projected from_xml over synthesized XML equals the
    regexp replay (the DuckDB oracle shape for an r13 XML query), and
    malformed XML degrades to NULL fields, not an error."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT x.id AS id, x.src AS src FROM ("
        "  SELECT from_xml(concat('<r><id>', doc_id, '</id><src>', "
        "                         source, '</src></r>'), "
        "                  'id BIGINT, src STRING') AS x "
        "  FROM probe_docs) ORDER BY id"
    ).collect()
    want = _duck(
        sf_dir,
        "SELECT doc_id AS id, source AS src FROM documents ORDER BY id",
    )
    assert [(r.id, r.src) for r in got] == want
    bad = spark.sql(
        "SELECT from_xml('<r><id>oops', 'id BIGINT, src STRING') AS x"
    ).collect()[0].x
    assert bad.src is None


def test_execute_immediate_positional_using_binds(spark, sf_dir):
    """EXECUTE IMMEDIATE's USING clause binds positional values in this
    build (value slots only — the IDENTIFIER() interaction stays on
    q211's watch list, tests/properties/test_round11_properties.py)."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT count(*) AS n FROM probe_docs WHERE doc_id < ?' USING 10"
    ).collect()[0].n
    want = _duck(sf_dir, "SELECT count(*) FROM documents WHERE doc_id < 10")[0][0]
    assert got == want


def test_foreachbatch_batchid_overwrite_is_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch's exactly-once recipe: write each batch to a
    batchId-keyed path with mode=overwrite. Three pins over the
    docrange source with an availableNow drain: (a) the drain delivers
    the corpus once; (b) a crash-before-commit (commits/N removed —
    with its .crc sidecar, or the replay's rename fails with a
    misleading concurrent-queries error) replays the SAME batchId, and
    the overwrite absorbs the re-delivery; (c) a further restart over
    the completed checkpoint invokes the sink zero times."""
    from distributed_map_reduce_spark.sources.pystreamsource import (
        register_docrange,
    )

    register_docrange(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    os.makedirs(out)
    calls = []

    def sink(df, batch_id):
        df.write.mode("overwrite").parquet(os.path.join(out, f"b{batch_id}"))
        calls.append(batch_id)

    def drain():
        src = (
            spark.readStream.format("docrange")
            .option("path", f"{sf_dir.rstrip('/')}/documents.parquet")
            .option("progressDir", ckpt)
            .load()
        )
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert calls == [0]
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    calls.clear()
    drain()
    assert calls == [0], "uncommitted batch must replay under the same id"
    written = spark.read.parquet(*glob.glob(os.path.join(out, "b*")))
    n_docs = spark.read.parquet(
        f"{sf_dir.rstrip('/')}/documents.parquet"
    ).count()
    assert written.count() == n_docs
    assert written.select("doc_id").distinct().count() == n_docs
    calls.clear()
    drain()
    assert calls == []


def test_sql_scripting_loop_and_final_result(spark, sf_dir):
    """SQL scripting executes DECLARE/SET/FOR here and a script
    returns ONLY its final statement's result — the earlier SELECT is
    discarded, so a registry query must stage its whole answer into
    the last statement. The FOR-loop fold must equal the closed-form
    aggregate (the DuckDB oracle shape for a scripting query)."""
    _docs(spark, sf_dir)
    rows = spark.sql(
        """
BEGIN
  DECLARE total BIGINT DEFAULT 0;
  SELECT 'discarded' AS note;
  FOR grp AS SELECT count(*) AS n FROM probe_docs GROUP BY source DO
    SET total = total + grp.n;
  END FOR;
  SELECT total;
END
"""
    ).collect()
    want = _duck(sf_dir, "SELECT count(*) FROM documents")[0][0]
    assert len(rows) == 1 and rows[0][0] == want
    assert rows[0].asDict().keys() == {"total"}, (
        "script returned a non-final statement's result"
    )


def test_session_variables_fold_bind_and_identify(spark, sf_dir):
    """Three pins on session variables: (a) a variable in a WHERE
    clause constant-folds into the optimized plan (literal pruning at
    100 TB, same posture as q211's named args); (b) ``SET VAR x = ?``
    binds positionally; (c) a variable inside ``IDENTIFIER()``
    RESOLVES — the working counterpart of q211's pinned
    positional-?-in-IDENTIFIER ParseException."""
    _docs(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE r13_lim BIGINT DEFAULT 10")
    spark.sql("SET VAR r13_lim = ?", args=[25])
    df = spark.sql(
        "SELECT count(*) AS n FROM probe_docs WHERE doc_id < r13_lim"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "25" in plan and "r13_lim" not in plan, (
        "session variable no longer constant-folds"
    )
    want = _duck(sf_dir, "SELECT count(*) FROM documents WHERE doc_id < 25")
    assert df.collect()[0].n == want[0][0]
    spark.sql(
        "DECLARE OR REPLACE VARIABLE r13_tbl STRING DEFAULT 'probe_docs'"
    )
    got = spark.sql("SELECT count(*) AS n FROM IDENTIFIER(r13_tbl)")
    assert got.collect()[0].n == _duck(
        sf_dir, "SELECT count(*) FROM documents"
    )[0][0]


def test_xml_datasource_roundtrip_escapes(spark, sf_dir, tmp_path):
    """The native XML DataSource (file-level sibling of from_xml):
    write then read preserves every value, including XML-special
    characters — ``< & "`` are escaped on write and unescaped on
    read, so arbitrary document text survives the format."""
    docs = _docs(spark, sf_dir)
    src = docs.selectExpr(
        "doc_id", "concat(source, ' <&\"> ', doc_id) AS s"
    )
    path = str(tmp_path / "xmlrt")
    src.write.format("xml").option("rowTag", "row").save(path)
    back = spark.read.format("xml").option("rowTag", "row").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_approx_top_k_exact_counts_arbitrary_tie_selection(spark, sf_dir):
    """Two pins: (a) under maxItemsTracked the sketch's COUNTS are
    exact and the returned array is a valid top-5 set (tie-robust
    check, since the corpus regenerates between rounds); (b) when a
    COUNT TIE crosses the k boundary, even the SELECTION is arbitrary
    (not just the order), so an oracle-hashed registry query needs a
    count floor above tie depth or a deterministic re-rank."""
    _docs(spark, sf_dir)
    n_toks = spark.sql(
        "SELECT count(DISTINCT tok) AS n FROM "
        "(SELECT explode(split(text, ' ')) AS tok FROM probe_docs)"
    ).collect()[0].n
    assert n_toks < 10000, "corpus outgrew the sketch's exact regime"
    got = spark.sql(
        "SELECT e.item, e.count AS c FROM ("
        "  SELECT approx_top_k(tok, 5) AS tk FROM "
        "  (SELECT explode(split(text, ' ')) AS tok FROM probe_docs)"
        ") LATERAL VIEW explode(tk) AS e ORDER BY c DESC, e.item"
    ).collect()
    exact = dict(
        _duck(
            sf_dir,
            "SELECT tok, count(*) AS c FROM "
            "(SELECT unnest(string_split(text, ' ')) AS tok "
            " FROM documents) GROUP BY tok",
        )
    )
    # Tie-robust against corpus regeneration: every returned count is
    # exact, and the returned set is A valid top-5 (no item outside it
    # beats the smallest returned count — at a boundary TIE the
    # sketch's pick among equals is arbitrary, per pin (b) below).
    assert len(got) == 5
    for r in got:
        assert exact[r.item] == r.c, (r.item, r.c, exact[r.item])
    kth = min(r.c for r in got)
    n_ge = sum(1 for c in exact.values() if c > kth)
    assert n_ge <= 5, "sketch omitted an item strictly above its k-th count"
    tie = spark.sql(
        "SELECT approx_top_k(x, 2) AS tk "
        "FROM VALUES ('a'), ('a'), ('b'), ('c') t(x)"
    ).collect()[0].tk
    assert (tie[0].item, tie[0]["count"]) == ("a", 2)
    assert tie[1].item in {"b", "c"} and tie[1]["count"] == 1


def test_arrow_udf_plans_arrow_eval_and_agrees(spark, sf_dir):
    """``udf(..., useArrow=True)`` plans as ArrowEvalPython (Arrow
    batch transfer) where the row form plans BatchEvalPython (pickled
    rows); both agree with the built-in expression. Pins the perf
    posture for any r13 UDF-demonstration surface: default to the
    Arrow form, never the row form."""
    from pyspark.sql.functions import udf

    docs = _docs(spark, sf_dir)
    arrow_f = udf(lambda s: len(s.split(" ")), "int", useArrow=True)
    row_f = udf(lambda s: len(s.split(" ")), "int", useArrow=False)
    via_arrow = docs.select("doc_id", arrow_f("text").alias("n"))
    via_row = docs.select("doc_id", row_f("text").alias("n"))
    assert "ArrowEvalPython" in (
        via_arrow._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" in (
        via_row._jdf.queryExecution().executedPlan().toString()
    )
    builtin = {
        r.doc_id: r.n
        for r in docs.selectExpr(
            "doc_id", "size(split(text, ' ')) AS n"
        ).collect()
    }
    assert {r.doc_id: r.n for r in via_arrow.collect()} == builtin
    assert {r.doc_id: r.n for r in via_row.collect()} == builtin
