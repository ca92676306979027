"""Watch-list probes de-risking the round-14 intake candidates.

Same discipline as the r13 probe file (which de-risked q215–q219 a
round before they were registered): before a surface becomes a registry
query, pin how THIS Spark build behaves — the working form, the trap,
and the oracle-matchability evidence. Ten candidates, all verified
available in pyspark 4.1.2 here (scouted 2026-08-16):

1. Bitmap aggregates (``bitmap_construct_agg`` / ``bitmap_or_agg`` /
   ``bitmap_count``) — EXACT distinct counting as mergeable 32768-bit
   bucket bitmaps: the strongest-oracle candidate (== COUNT DISTINCT,
   value-hashable), and the 100 TB shape is the Snowflake-style
   pre-aggregated bitmap rollup (count distinct over any group slice
   without rescanning rows).
2. Datasketches THETA sketches (``theta_sketch_agg`` + union /
   intersection / ``theta_difference``) — unlike HLL, theta supports
   set INTERSECTION and DIFFERENCE (q201's KMV does this manually).
   In the sub-k exact regime the estimates are EXACT (oracle-safe);
   past it they are error-bound only, same posture as HLL.
3. TIME type (``make_time`` / ``time_trunc`` / ``current_time``) —
   conf-gated behind ``spark.sql.timeType.enabled``; DuckDB has a
   native TIME so the oracle is value-matchable.
4. ``to_xml`` — the column-level write half of q217's file round trip;
   escapes on write, ``from_xml`` unescapes back.
5. ``try_*`` error-safe family — NULL-on-error semantics
   (``try_divide``/0, ``try_sum`` overflow, ``try_to_number``
   mismatch); oracle shape: CASE WHEN guards in DuckDB.
6. ``mode()`` — tie SELECTION is arbitrary (like approx_top_k's tie
   pick), so an oracle-hashed query needs a unique-mode domain or a
   deterministic re-rank; the ``WITHIN GROUP`` spelling works here.
7. Seeded ``uniform()``/``randstr()`` — stable across identical
   replays but a function of (seed, partition, row-position): any
   repartition reshuffles the values, so the md5-as-RNG discipline
   (q62/q95) stays the registry's sampling posture; seeded builtins
   are only safe downstream of a FIXED partitioning.
8. ``regexp_extract_all`` — strong oracle (DuckDB has the same
   function, same extraction semantics).
9. ``percentile_disc(...) WITHIN GROUP`` — discrete percentile;
   DuckDB twin is ``quantile_disc``.
10. ``approx_top_k_accumulate``/``_combine``/``_estimate`` — the
    sketch-state variant of approx_top_k; BUILD QUIRK pinned below:
    ``approx_top_k_estimate(approx_top_k_accumulate(col, k), k)``
    returns an EMPTY array in this build — the working composition
    goes through ``approx_top_k_combine``.

Second scouting batch (also 2026-08-16):

11. ``GROUP BY ALL`` / ``ORDER BY ALL`` — resolve to the non-aggregate
    projection / full select list; DuckDB (which originated the
    syntax) agrees, so a registered query is value-hashable.
12. ``SELECT * EXCEPT (cols)`` — projection-level column exclusion
    (DuckDB spells it ``EXCLUDE``); same rows, same remaining columns.
13. Lateral column aliases — a SELECT item can reference an alias
    defined earlier in the same list; equals the nested-subquery
    rewrite (the DuckDB oracle shape).
14. ``avg()`` over day-time INTERVALs — typed interval arithmetic;
    cross-engine matchable via epoch-seconds extraction (string casts
    render differently between engines).
15. ``TABLESAMPLE (BUCKET x OUT OF y) REPEATABLE (seed)`` — replays
    identically for an identical plan, but the sampled SET is
    partition-bound like seeded uniform(): repartitioning changes the
    selection. md5-as-RNG (q62) remains the oracle-safe sampling path.
16. ``histogram_numeric`` — NOT stable under repartition (bin centers
    depend on merge order): rows-only/approx family only, never
    hash-checked.
17. Environment/feature rule-outs pinned as raising probes:
    ``MERGE INTO`` on a parquet v1 catalog table
    (UNSUPPORTED_FEATURE.TABLE_OPERATION — no v2 row-level-ops
    catalog deployed here), and the ANSI window frame ``EXCLUDE
    CURRENT ROW`` clause (PARSE_SYNTAX_ERROR in this build).
"""

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _drop_probe_views(spark):
    """Drop the views a probe registers once it has run, so none
    outlives its test in the shared session."""
    yield
    for name in ("probe14_docs", "probe14_docs_repart"):
        spark.catalog.dropTempView(name)


def _docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    df.createOrReplaceTempView("probe14_docs")
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


def test_bitmap_rollup_is_exact_and_mergeable(spark, sf_dir):
    """The bucket-bitmap recipe: per (group, bitmap_bucket_number(id))
    build a bitmap, OR-merge the buckets, sum the counts — the result
    must EQUAL count(DISTINCT id) (exact, not approximate), and the
    merge must also absorb overlapping sub-bitmaps built from
    different slices (idempotent OR — what makes the rollup a
    pre-aggregation at 100 TB)."""
    _docs(spark, sf_dir)
    # note: bitmap_or_agg(bitmap_construct_agg(...)) in ONE grouping
    # level is a NESTED_AGGREGATE_FUNCTION error — each agg needs its
    # own query block (construct per bucket, OR-merge per bucket in an
    # outer block, count-sum at the top)
    got = spark.sql(
        "SELECT source, CAST(SUM(bitmap_count(b)) AS BIGINT) AS nd FROM ("
        "  SELECT source, bitmap_bucket_number(doc_id) AS bkt,"
        "         bitmap_construct_agg(bitmap_bit_position(doc_id)) AS b"
        "  FROM probe14_docs GROUP BY source, bkt"
        ") GROUP BY source ORDER BY source"
    ).collect()
    want = _duck(
        sf_dir,
        "SELECT source, COUNT(DISTINCT doc_id) FROM documents "
        "GROUP BY source ORDER BY source",
    )
    assert [(r.source, r.nd) for r in got] == want
    # overlapping slices OR to the same bitmap: distinct over the union
    merged = spark.sql(
        "SELECT CAST(SUM(bitmap_count(b)) AS BIGINT) AS nd FROM ("
        "  SELECT bkt, bitmap_or_agg(sb) AS b FROM ("
        "    SELECT slice, bitmap_bucket_number(doc_id) AS bkt,"
        "           bitmap_construct_agg(bitmap_bit_position(doc_id)) AS sb"
        "    FROM ("
        "      SELECT 0 AS slice, doc_id FROM probe14_docs"
        "      WHERE doc_id % 3 != 2"
        "      UNION ALL"
        "      SELECT 1 AS slice, doc_id FROM probe14_docs"
        "      WHERE doc_id % 3 != 0"
        "    ) GROUP BY slice, bkt"
        "  ) GROUP BY bkt)"
    ).collect()[0].nd
    exact = _duck(sf_dir, "SELECT COUNT(DISTINCT doc_id) FROM documents")
    assert merged == exact[0][0]


def test_theta_sketch_set_ops_exact_regime(spark, sf_dir):
    """Theta sketches support the set ops HLL cannot: in the sub-k
    exact regime (corpus doc_ids ≪ the default nominal 4096 entries)
    union, intersection AND difference estimates are EXACT, so a
    registry query restricted to this regime is value-hashable; past
    the regime only an error-bound oracle is honest (the HLL rule)."""
    _docs(spark, sf_dir)
    row = spark.sql(
        "SELECT CAST(theta_sketch_estimate(theta_union(a, b)) AS BIGINT)"
        "         AS u,"
        "       CAST(theta_sketch_estimate(theta_intersection(a, b))"
        "         AS BIGINT) AS i,"
        "       CAST(theta_sketch_estimate(theta_difference(a, b))"
        "         AS BIGINT) AS d"
        " FROM (SELECT"
        "   theta_sketch_agg(CASE WHEN doc_id < 300 THEN doc_id END) AS a,"
        "   theta_sketch_agg(CASE WHEN doc_id >= 200 THEN doc_id END) AS b"
        "   FROM probe14_docs)"
    ).collect()[0]
    lo, hi, total = _duck(
        sf_dir,
        "SELECT COUNT(DISTINCT CASE WHEN doc_id < 300 THEN doc_id END),"
        "       COUNT(DISTINCT CASE WHEN doc_id >= 200 THEN doc_id END),"
        "       COUNT(DISTINCT doc_id) FROM documents",
    )[0]
    inter = lo + hi - total
    assert (row.u, row.i, row.d) == (total, inter, lo - inter)


def test_time_type_is_conf_gated_and_duckdb_matchable(spark, sf_dir):
    """TIME is OFF by default in this build (UNSUPPORTED_TIME_TYPE)
    and turns on via spark.sql.timeType.enabled; once on, make_time /
    time_trunc values match DuckDB's native TIME arithmetic — so a
    registry query must set (and restore) the conf around its plan."""
    from pyspark.errors import AnalysisException

    _docs(spark, sf_dir)
    assert spark.conf.get("spark.sql.timeType.enabled") == "false"
    with pytest.raises(AnalysisException):
        spark.sql("SELECT make_time(1, 2, 3.0)").collect()
    spark.conf.set("spark.sql.timeType.enabled", "true")
    try:
        # time_trunc('MINUTE', t) on the Spark side vs seconds-zeroed
        # make_time on the DuckDB side (DuckDB's date_trunc does not
        # bind on TIME — the oracle replays the trunc arithmetically);
        # integral seconds avoid fraction-rendering differences in the
        # string casts
        got = spark.sql(
            "SELECT CAST(time_trunc('MINUTE',"
            "  make_time(CAST(doc_id % 24 AS INT),"
            "            CAST(doc_id % 60 AS INT), 7.0)) AS STRING) AS t"
            " FROM probe14_docs ORDER BY doc_id LIMIT 5"
        ).collect()
        want = _duck(
            sf_dir,
            "SELECT CAST("
            "  make_time(CAST(doc_id % 24 AS INT),"
            "            CAST(doc_id % 60 AS INT), 0.0) AS VARCHAR)"
            " FROM documents ORDER BY doc_id LIMIT 5",
        )
        assert [r.t for r in got] == [w[0] for w in want]
    finally:
        spark.conf.set("spark.sql.timeType.enabled", "false")


def test_to_xml_from_xml_column_roundtrip(spark, sf_dir):
    """to_xml is the column-level write half (q217 pinned the FILE
    level): struct -> XML string escapes `< & "`, and from_xml
    re-extracts the original typed values for every row."""
    docs = _docs(spark, sf_dir)
    rt = docs.select(
        "doc_id",
        "source",
        F.from_xml(
            F.to_xml(
                F.struct(
                    F.col("doc_id").alias("id"),
                    F.concat(
                        F.col("source"), F.lit(' <&"> '), F.col("doc_id")
                    ).alias("probe"),
                )
            ),
            "id BIGINT, probe STRING",
        ).alias("x"),
    )
    bad = rt.filter(
        (F.col("x.id") != F.col("doc_id"))
        | (
            F.col("x.probe")
            != F.concat(F.col("source"), F.lit(' <&"> '), F.col("doc_id"))
        )
    ).count()
    assert bad == 0


def test_try_family_nulls_on_error(spark, sf_dir):
    """try_divide / try_sum / try_to_number return NULL where the
    plain forms would error or wrap — the oracle shape is a CASE WHEN
    guard, so every try_* query is value-hashable."""
    rows = spark.sql(
        "SELECT try_divide(1, 0) AS a,"
        "       try_to_number('x12', '999') AS b,"
        "       (SELECT try_sum(x) FROM VALUES (9223372036854775807), (1)"
        "        t(x)) AS c"
    ).collect()[0]
    assert rows.a is None and rows.b is None and rows.c is None
    # per-row FLOOR before the sum: summing raw double quotients is
    # order-sensitive in the last unit across engines (the established
    # integer-cents rule), floored per-row integers are exact
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT CAST(SUM(CAST(FLOOR(try_divide(n_chars, doc_id % 5))"
        "  AS BIGINT)) AS BIGINT) AS s FROM probe14_docs"
    )
    want = _duck(
        sf_dir,
        "SELECT CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN NULL "
        "ELSE CAST(FLOOR(n_chars / (doc_id % 5)) AS BIGINT) END)"
        "  AS BIGINT) FROM documents",
    )
    assert got.collect()[0].s == want[0][0]


def test_mode_tie_selection_is_arbitrary(spark, sf_dir):
    """mode() picks ONE of the tied values arbitrarily (both the
    direct and WITHIN GROUP spellings) — an oracle-hashed registry
    query needs a unique-mode domain or a deterministic re-rank
    (count-then-row_number), never raw mode() over tie-prone data."""
    tie = spark.sql(
        "SELECT mode(x) AS m FROM VALUES ('a'), ('a'), ('b'), ('b') t(x)"
    ).collect()[0].m
    assert tie in {"a", "b"}
    unique = spark.sql(
        "SELECT mode(x) AS m, mode() WITHIN GROUP (ORDER BY x) AS mw "
        "FROM VALUES ('a'), ('a'), ('b') t(x)"
    ).collect()[0]
    assert unique.m == "a" and unique.mw == "a"


def test_seeded_uniform_replays_but_is_partition_bound(spark, sf_dir):
    """Seeded uniform() replays identically for an IDENTICAL plan, but
    the value is a function of (seed, partition, row position) — after
    a repartition the per-row values change, so seeded builtins are
    only deterministic downstream of a fixed partitioning. The
    md5-as-RNG discipline (q62/q95) remains the registry's sampling
    posture; this pin documents why."""
    a = [r.u for r in spark.sql(
        "SELECT uniform(0, 1000000, 42) AS u FROM range(0, 64, 1, 4)"
    ).collect()]
    b = [r.u for r in spark.sql(
        "SELECT uniform(0, 1000000, 42) AS u FROM range(0, 64, 1, 4)"
    ).collect()]
    assert a == b, "identical plan must replay identical values"
    c = sorted(
        r.u
        for r in spark.range(0, 64, 1, 4)
        .repartition(7)
        .selectExpr("uniform(0, 1000000, 42) AS u")
        .collect()
    )
    assert sorted(a) != c, (
        "uniform() became partitioning-independent — revisit the posture"
    )


def test_regexp_extract_all_matches_duckdb(spark, sf_dir):
    """Same function name, same semantics in DuckDB — strong oracle."""
    _docs(spark, sf_dir)
    got = spark.sql(
        r"SELECT doc_id, size(regexp_extract_all(text, '(\\w{7,})', 1))"
        "  AS n7 FROM probe14_docs ORDER BY doc_id LIMIT 50"
    ).collect()
    want = _duck(
        sf_dir,
        r"SELECT doc_id, len(regexp_extract_all(text, '(\w{7,})', 1))"
        "  AS n7 FROM documents ORDER BY doc_id LIMIT 50",
    )
    assert [(r.doc_id, r.n7) for r in got] == want


def test_percentile_disc_matches_duckdb_quantile_disc(spark, sf_dir):
    """percentile_disc returns an ACTUAL data value (vs cont's
    interpolation); DuckDB's quantile_disc is the twin. Matchable at
    several cut points per group."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT source,"
        "  percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,"
        "  percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50,"
        "  percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS p90 "
        "FROM probe14_docs GROUP BY source ORDER BY source"
    ).collect()
    want = _duck(
        sf_dir,
        "SELECT source, quantile_disc(n_chars, 0.25),"
        "       quantile_disc(n_chars, 0.5), quantile_disc(n_chars, 0.9)"
        " FROM documents GROUP BY source ORDER BY source",
    )
    assert [(r.source, r.p25, r.p50, r.p90) for r in got] == [
        (s, float(a), float(b), float(c)) for s, a, b, c in want
    ]


def test_approx_top_k_accumulate_needs_combine(spark, sf_dir):
    """BUILD QUIRK: estimating an UN-combined accumulate state returns
    an EMPTY array in this build; the working composition is
    accumulate -> combine -> estimate. If the direct form starts
    working on an upgrade, this probe fails and the quirk note in any
    registered query gets dropped."""
    _docs(spark, sf_dir)
    direct = spark.sql(
        "SELECT approx_top_k_estimate("
        "  approx_top_k_accumulate(source, 3), 3) AS tk FROM probe14_docs"
    ).collect()[0].tk
    assert direct == [], "direct estimate now works — drop the quirk note"
    combined = spark.sql(
        "SELECT approx_top_k_estimate(approx_top_k_combine(st), 3) AS tk"
        " FROM (SELECT doc_id % 4 AS g,"
        "              approx_top_k_accumulate(source, 3) AS st"
        "       FROM probe14_docs GROUP BY g)"
    ).collect()[0].tk
    exact = dict(
        _duck(
            sf_dir,
            "SELECT source, COUNT(*) FROM documents GROUP BY source",
        )
    )
    assert len(combined) == 3
    for item in combined:
        assert exact[item.item] == item["count"], (
            "combined counts left the exact regime"
        )


def test_group_by_all_order_by_all_matches_duckdb(spark, sf_dir):
    """GROUP BY ALL groups on the full non-aggregate projection and
    ORDER BY ALL sorts by the full select list — the DuckDB-originated
    shorthand resolves identically in both engines."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT source, lang, COUNT(*) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS total "
        "FROM probe14_docs GROUP BY ALL ORDER BY ALL"
    ).collect()
    want = _duck(
        sf_dir,
        "SELECT source, lang, COUNT(*) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS total "
        "FROM documents GROUP BY ALL ORDER BY ALL",
    )
    assert [tuple(r) for r in got] == want


def test_select_star_except_matches_duckdb_exclude(spark, sf_dir):
    """SELECT * EXCEPT (cols) drops the named columns and keeps the
    rest in schema order — DuckDB's EXCLUDE twin returns the same
    frame, so projection-exclusion queries are hashable."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT * EXCEPT (text) FROM probe14_docs ORDER BY doc_id LIMIT 20"
    )
    want = _duck(
        sf_dir,
        "SELECT * EXCLUDE (text) FROM documents ORDER BY doc_id LIMIT 20",
    )
    assert [tuple(r) for r in got.collect()] == want
    assert "text" not in got.columns


def test_lateral_column_alias_equals_nested_rewrite(spark, sf_dir):
    """A select item referencing an earlier alias in the SAME list
    must equal the nested-subquery rewrite (the oracle shape — DuckDB
    also supports the lateral form directly)."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT doc_id, n_chars + 1 AS a, a * 2 AS b, b - n_chars AS c "
        "FROM probe14_docs ORDER BY doc_id LIMIT 20"
    ).collect()
    rewrite = spark.sql(
        "SELECT doc_id, a, b, b - n_chars AS c FROM ("
        "  SELECT doc_id, n_chars, a, a * 2 AS b FROM ("
        "    SELECT doc_id, n_chars, n_chars + 1 AS a FROM probe14_docs"
        ")) ORDER BY doc_id LIMIT 20"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in rewrite]


def test_interval_avg_matchable_via_epoch_seconds(spark, sf_dir):
    """avg() over day-time intervals is typed interval arithmetic;
    the cross-engine surface is epoch-seconds extraction (string
    renderings differ between engines)."""
    _docs(spark, sf_dir)
    got = spark.sql(
        "SELECT source, CAST(unix_micros(TIMESTAMP '1970-01-01 00:00:00'"
        "  + avg(INTERVAL '1' SECOND * (doc_id % 7))) / 1000000.0"
        "  AS DOUBLE) AS avg_s"
        " FROM probe14_docs GROUP BY source ORDER BY source"
    ).collect()
    # DuckDB has no avg(INTERVAL) — the oracle replays the closed
    # form: the average interval in seconds IS the average of the
    # scalar second counts
    want = _duck(
        sf_dir,
        "SELECT source, CAST(AVG(doc_id % 7) AS DOUBLE) AS avg_s"
        " FROM documents GROUP BY source ORDER BY source",
    )
    assert [(r.source, round(r.avg_s, 6)) for r in got] == [
        (s, round(v, 6)) for s, v in want
    ]


def test_tablesample_repeatable_replays_but_partition_bound(spark, sf_dir):
    """TABLESAMPLE ... REPEATABLE replays the same selection for an
    identical plan, but the selection is partition-bound (same trap as
    seeded uniform()): a repartitioned source samples a different set.
    md5-as-RNG (q62/q84) stays the oracle-safe sampling path."""
    docs = _docs(spark, sf_dir)
    sql = (
        "SELECT doc_id FROM probe14_docs"
        " TABLESAMPLE (BUCKET 1 OUT OF 4) REPEATABLE (7) ORDER BY doc_id"
    )
    a = [r.doc_id for r in spark.sql(sql).collect()]
    b = [r.doc_id for r in spark.sql(sql).collect()]
    assert a == b, "identical plan must replay the identical sample"
    docs.repartition(13).createOrReplaceTempView("probe14_docs_repart")
    c = [
        r.doc_id
        for r in spark.sql(
            "SELECT doc_id FROM probe14_docs_repart"
            " TABLESAMPLE (BUCKET 1 OUT OF 4) REPEATABLE (7)"
            " ORDER BY doc_id"
        ).collect()
    ]
    assert a != c, (
        "sampling became partitioning-independent — revisit the posture"
    )


def test_histogram_numeric_unstable_under_repartition(spark, sf_dir):
    """histogram_numeric's bin centers depend on the merge order, so
    the result changes under repartitioning — approx/rows-only family
    only, never a value hash."""
    docs = _docs(spark, sf_dir)
    a = spark.sql(
        "SELECT histogram_numeric(n_chars, 3) AS h FROM probe14_docs"
    ).collect()[0].h
    b = docs.repartition(13).selectExpr(
        "histogram_numeric(n_chars, 3) AS h"
    ).collect()[0].h
    assert [tuple(r) for r in a] != [tuple(r) for r in b], (
        "histogram_numeric became partition-independent — oracle upgrade "
        "possible"
    )
    # counts still conserve the row total in both geometries
    n = docs.count()
    assert sum(r.y for r in a) == n and sum(r.y for r in b) == n


def test_merge_into_and_window_exclude_are_ruled_out(spark, sf_dir):
    """Rule-out pins (the Avro discipline): MERGE INTO needs a v2
    catalog with row-level ops (none deployed here — parquet v1 tables
    raise UNSUPPORTED_FEATURE), and the ANSI window frame EXCLUDE
    clause does not parse in this build. If either starts working on
    an upgrade, the probe fails and the surface joins the candidate
    list."""
    import pytest
    from pyspark.errors import ParseException

    spark.sql("DROP TABLE IF EXISTS probe14_merge_t")
    spark.sql("CREATE TABLE probe14_merge_t (k INT, v INT) USING parquet")
    try:
        # raises UnsupportedOperationException (not AnalysisException)
        with pytest.raises(Exception, match="TABLE_OPERATION"):
            spark.sql(
                "MERGE INTO probe14_merge_t t USING (SELECT 1 AS k, 2 AS v) s"
                " ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"
                " WHEN NOT MATCHED THEN INSERT *"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS probe14_merge_t")
    _docs(spark, sf_dir)
    with pytest.raises(ParseException):
        spark.sql(
            "SELECT sum(n_chars) OVER (ORDER BY doc_id"
            " ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING"
            " EXCLUDE CURRENT ROW) FROM probe14_docs"
        )
