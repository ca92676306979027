"""Watch-list probes de-risking the round-16 intake candidates.

Same discipline as the r13/r14/r15 probe files: before a surface
becomes a registry query, pin how THIS Spark build behaves — the
working form, the trap, and the oracle-matchability evidence. Scouted
2026-08-16 on pyspark 4.1.2 / DuckDB; eleven candidates + three
convention/rule-out pins. (The r15 probe file's still-unlanded
candidates — bitwise aggregates, md5/sha2/base64 fingerprints,
split_part/translate/overlay, sequence, posexplode, IS DISTINCT FROM —
remain staged there; this file pins only NEW surfaces.)

1.  3-arg ``levenshtein(l, r, threshold)`` — returns -1 the moment the
    distance exceeds the threshold (early-abandon, O(k·min(len))
    instead of O(len²)): the verify-stage perf lever for q225's
    near-dup rung. DuckDB has no 3-arg form; the oracle shape is
    ``CASE WHEN levenshtein(...) <= k THEN ... ELSE -1 END``.
2.  ``percentile_disc(p) WITHIN GROUP`` — exact DISCRETE percentile
    (an actual element, never interpolated) == DuckDB
    ``quantile_disc``; TYPE pin: Spark returns DOUBLE where DuckDB
    keeps the element type — the oracle casts.
3.  ``nth_value`` over a full-frame window — value-identical in DuckDB
    (same name, same 1-based n, both need the explicit UNBOUNDED
    frame to see past the current row).
4.  Interval ``avg()`` — works over DayTimeIntervalType; the hashable
    posture is extracting seconds (closed-form replay: AVG of
    epoch differences).
5.  ``regexp_count`` / ``regexp_substr`` — DuckDB replays:
    ``len(regexp_extract_all(...))`` and ``regexp_extract(...)``
    (with the empty-match→NULL convention pinned).
6.  ``equal_null`` — the function spelling of IS NOT DISTINCT FROM
    (r15 probe); value-identical replay.
7.  ``try_to_timestamp`` — NULL-on-error temporal parsing, the q223
    error-safe family's temporal member; DuckDB twin ``try_strptime``.
8.  Higher-order ``forall`` / ``exists`` / ``filter`` — DuckDB replay
    via ``list_filter`` lengths (list_bool_and/or also exist).
9.  ``conv(s, 10, 16)`` == DuckDB ``to_base(n, 16)`` (the from-base
    direction has no DuckDB twin — one-direction oracle only).
10. ``array_compact`` / ``array_insert`` / ``inline`` — list surgery
    with exact DuckDB replays; ``inline`` == UNNEST-of-structs.
11. ``array_distinct`` ORDER TRAP: Spark preserves first-seen order,
    DuckDB's ``list_distinct`` does NOT (observed [1,1,2]→[2,1]) — any
    registered query must sort the result array on both sides.

Convention / rule-out pins:

12. ``bit_count`` WIDTH TRAP: Spark's integer literals are INT but
    bit_count(-1) returns 64 (it widens to BIGINT); DuckDB's
    bit_count(-1::INT) is 32 — always CAST to BIGINT on both sides.
13. ``bround`` (HALF_EVEN) vs round: Spark bround(2.5)=2, round(2.5)=3;
    DuckDB's round on DECIMAL is half-up (round(2.5)=3) and it has no
    banker's-rounding builtin — a bround oracle must replay the
    even-check arithmetically.
14. ``crc32`` / ``xxhash64`` POSTURE: work in Spark, no DuckDB twin
    (DuckDB's hash() is a different function family) — Spark-internal
    fingerprints only; md5/sha2 (pinned in the r15 file) are the
    portable content-address surfaces.
"""

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _drop_probe_views(spark):
    """Drop the views a probe registers once it has run, so none
    outlives its test in the shared session."""
    yield
    for name in ("probe16_docs",):
        spark.catalog.dropTempView(name)


def _duck(sql):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _duck_on(sf_dir, sql, tables=("documents",)):
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{sf_dir.rstrip('/')}/{t}.parquet'"
            )
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_levenshtein_threshold_form(spark, sf_dir):
    """The 3-arg early-abandon form: -1 past the threshold, the true
    distance at or under it — and it agrees with the 2-arg form gated
    by CASE (the DuckDB oracle shape) over real document pairs."""
    r = spark.sql(
        "SELECT levenshtein('kitten','sitting', 2) a,"
        "       levenshtein('kitten','sitting', 3) b,"
        "       levenshtein('abc','abc', 0) c"
    ).collect()[0]
    assert (r.a, r.b, r.c) == (-1, 3, 0)
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    docs.createOrReplaceTempView("probe16_docs")
    rows = spark.sql(
        """
SELECT levenshtein(substr(a.text,1,60), substr(b.text,1,60), 10) AS thr,
       CASE WHEN levenshtein(substr(a.text,1,60), substr(b.text,1,60)) <= 10
            THEN levenshtein(substr(a.text,1,60), substr(b.text,1,60))
            ELSE -1 END AS gated
FROM probe16_docs a JOIN probe16_docs b
  ON a.doc_id + 1 = b.doc_id AND a.doc_id < 40
"""
    ).collect()
    assert rows and all(r.thr == r.gated for r in rows)


def test_percentile_disc_matches_quantile_disc(spark, sf_dir):
    """Exact discrete percentile: both engines return an ACTUAL element
    of the group (never interpolated). TYPE pin: Spark widens to
    DOUBLE, DuckDB keeps the element type — oracle casts."""
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    docs.createOrReplaceTempView("probe16_docs")
    got = spark.sql(
        "SELECT source,"
        " percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50,"
        " percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS p90"
        " FROM probe16_docs GROUP BY source ORDER BY source"
    ).collect()
    want = _duck_on(
        sf_dir,
        "SELECT source,"
        " CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS p50,"
        " CAST(quantile_disc(n_chars, 0.9) AS DOUBLE) AS p90"
        " FROM documents GROUP BY source ORDER BY source",
    )
    assert [tuple(r) for r in got] == want
    # discreteness: every value is an actual n_chars value
    vals = {
        r.n_chars
        for r in docs.select("n_chars").distinct().collect()
    }
    assert all(r.p50 in vals and r.p90 in vals for r in got)


def test_nth_value_matches_duckdb(spark, sf_dir):
    sql = (
        "SELECT doc_id,"
        " nth_value(n_chars, 3) OVER (PARTITION BY source ORDER BY doc_id"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS v3"
        " FROM {t} ORDER BY doc_id LIMIT 100"
    )
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    docs.createOrReplaceTempView("probe16_docs")
    got = spark.sql(sql.format(t="probe16_docs")).collect()
    want = _duck_on(sf_dir, sql.format(t="documents"))
    assert [tuple(r) for r in got] == want


def test_interval_avg_and_seconds_extraction(spark):
    """avg() over DayTimeIntervalType works; the hashable spelling is
    seconds extraction, replayable as AVG of epoch diffs."""
    r = spark.sql(
        "SELECT CAST(extract(SECOND FROM avg(i)) AS DOUBLE) s,"
        "       extract(HOUR FROM avg(i)) h"
        " FROM VALUES (INTERVAL '1' HOUR), (INTERVAL '2' HOUR) t(i)"
    ).collect()[0]
    assert (r.h, r.s) == (1, 30 * 60 % 60)  # 1h30m -> hour=1, second=0
    r2 = spark.sql(
        "SELECT avg(b - a) AS d FROM VALUES"
        " (TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 01:00:00'),"
        " (TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 02:00:00')"
        " t(a, b)"
    ).collect()[0].d
    assert r2.total_seconds() == 5400.0


def test_regexp_count_and_substr_replays(spark):
    got = spark.sql(
        "SELECT regexp_count('a1b22c333', '[0-9]+') n,"
        "       regexp_substr('a1b22c333', '[0-9]+') s,"
        "       regexp_substr('abc', '[0-9]+') miss"
    ).collect()[0]
    want = _duck(
        "SELECT len(regexp_extract_all('a1b22c333', '[0-9]+')),"
        "       regexp_extract('a1b22c333', '[0-9]+'),"
        "       CASE WHEN regexp_matches('abc', '[0-9]+')"
        "            THEN regexp_extract('abc', '[0-9]+') END"
    )[0]
    # no-match: Spark regexp_substr -> NULL; DuckDB regexp_extract -> ''
    # (the CASE above is the replay)
    assert (got.n, got.s, got.miss) == want


def test_equal_null_is_not_distinct_from(spark):
    rows = spark.sql(
        "SELECT equal_null(a, b) e, a IS NOT DISTINCT FROM b d"
        " FROM VALUES (NULL, NULL), (1, NULL), (1, 1), (NULL, 2) t(a, b)"
    ).collect()
    assert all(r.e == r.d for r in rows)


def test_try_to_timestamp_null_on_error(spark):
    """The q223 error-safe family's temporal member: NULL instead of a
    raise on unparseable input, in both engines."""
    got = spark.sql(
        "SELECT try_to_timestamp('2024-13-01') bad,"
        "       try_to_timestamp('2024-01-02') good,"
        "       try_to_timestamp('n/a', 'yyyy-MM-dd') fmt_bad"
    ).collect()[0]
    want = _duck(
        "SELECT try_strptime('2024-13-01', '%Y-%m-%d'),"
        "       try_strptime('2024-01-02', '%Y-%m-%d'),"
        "       try_strptime('n/a', '%Y-%m-%d')"
    )[0]
    assert (got.bad, got.good, got.fmt_bad) == tuple(want)


def test_higher_order_bool_functions_replay(spark):
    got = spark.sql(
        "SELECT forall(array(1,2,3), x -> x > 0) fa,"
        "       exists(array(1,2,3), x -> x > 2) ex,"
        "       size(filter(array(1,2,3), x -> x > 1)) nf"
    ).collect()[0]
    want = _duck(
        "SELECT len(list_filter([1,2,3], x -> x > 0)) = 3,"
        "       len(list_filter([1,2,3], x -> x > 2)) > 0,"
        "       len(list_filter([1,2,3], x -> x > 1))"
    )[0]
    assert tuple(got) == want


def test_conv_to_base_one_direction(spark):
    """conv(s, 10, 16) == DuckDB to_base(n, 16); the from-base
    direction (conv('ff', 16, 10)) has NO DuckDB twin — one-direction
    oracle only."""
    got = spark.sql("SELECT conv('255', 10, 16) h").collect()[0].h
    want = _duck("SELECT to_base(255, 16)")[0][0]
    assert got == want == "FF"


def test_array_surgery_and_inline(spark):
    got = spark.sql(
        "SELECT array_compact(array(1, NULL, 2)) c,"
        "       array_insert(array(1, 3), 2, 2) i"
    ).collect()[0]
    want = _duck(
        "SELECT list_filter([1, NULL, 2], x -> x IS NOT NULL),"
        "       [1, 2, 3]"
    )[0]
    assert (got.c, got.i) == (want[0], want[1])
    rows = spark.sql(
        "SELECT * FROM (SELECT inline(array("
        "  named_struct('a', 1, 'b', 'x'),"
        "  named_struct('a', 2, 'b', 'y'))))"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "x"), (2, "y")]


def test_array_distinct_order_trap(spark):
    """Spark array_distinct preserves FIRST-SEEN order; DuckDB's
    list_distinct does not (observed reordering) — a registered query
    must array_sort both sides before hashing."""
    got = spark.sql("SELECT array_distinct(array(3,1,3,2)) d").collect()[0].d
    assert got == [3, 1, 2]  # first-seen order
    dd = _duck("SELECT list_distinct([3,1,3,2])")[0][0]
    assert sorted(dd) == [1, 2, 3]  # content equal, order NOT contractual
    s_sorted = spark.sql(
        "SELECT array_sort(array_distinct(array(3,1,3,2))) d"
    ).collect()[0].d
    d_sorted = _duck("SELECT list_sort(list_distinct([3,1,3,2]))")[0][0]
    assert s_sorted == d_sorted


def test_bit_count_width_convention(spark):
    """WIDTH TRAP: Spark bit_count(-1) counts 64 bits on an int literal
    (widens); DuckDB counts the declared type's width (32 for INT).
    Always CAST to BIGINT on both sides."""
    got = spark.sql(
        "SELECT bit_count(-1) w, bit_count(CAST(-1 AS BIGINT)) b,"
        "       bit_count(7) s"
    ).collect()[0]
    assert (got.w, got.b, got.s) == (64, 64, 3)
    want = _duck(
        "SELECT bit_count(-1), bit_count(CAST(-1 AS BIGINT)), bit_count(7)"
    )[0]
    assert want == (32, 64, 3)  # the INT-width divergence, pinned
    assert (got.b, got.s) == (want[1], want[2])  # BIGINT-cast agreement


def test_bround_half_even_has_no_duckdb_builtin(spark):
    """Spark bround = HALF_EVEN (banker's); DuckDB round on DECIMAL is
    half-up and there is no banker's builtin — an oracle must replay
    the even-check arithmetically. If DuckDB's round ever goes
    half-even, this pin fails and the replay note gets dropped."""
    got = spark.sql(
        "SELECT bround(2.5) a, bround(3.5) b, round(2.5) c"
    ).collect()[0]
    assert (float(got.a), float(got.b), float(got.c)) == (2.0, 4.0, 3.0)
    want = _duck("SELECT round(2.5), round(3.5)")[0]
    assert (float(want[0]), float(want[1])) == (3.0, 4.0)


# --- second scouting batch (also 2026-08-16) ----------------------------------
#
# 15. UTF-8 length trio: length (chars) / octet_length==strlen (bytes) /
#     bit_length agree on multibyte text — the byte-budget surfaces a
#     tokenizer-cost estimator needs are portable.
# 16. luhn_check — no DuckDB builtin, but the check is pure arithmetic
#     and the digit-sum replay is exact (pinned on valid + invalid +
#     non-card inputs): registrable with a replay oracle.
# 17. json_array_length / json_object_keys — same names in DuckDB and
#     the KEY ORDER agrees (document insertion order, both engines).
# 18. stack(n, ...) == UNNEST-of-pairs replay.
# 19. element_at negative index and try_element_at out-of-bounds agree
#     with DuckDB list indexing ([-1] from the end, NULL past the end).
#     (The known trap — element_at with a runtime-NULL index returns
#     the LAST element in this build — is documented in
#     training.py _mix_keep; nullable indexes use CASE chains.)
# 20. map_filter / transform_values / map_concat work; registrable only
#     through sorted map_entries projections (map order is an
#     implementation detail — the str_to_map pin, r15 probe file).
# 21. chr/ascii/lpad(multi-char pad)/repeat — all value-identical.
# 22. to_json preserves struct FIELD order identically in both engines
#     (hashable for integer/string payloads; float rendering inside
#     JSON stays out per the q49 posture).
# Rule-outs / postures: initcap and soundex have NO DuckDB twin
# (replay-less — Spark-side only); format_number renders with locale
# group separators (the to_char trap, r15) — never hash it;
# try_validate_utf8 returns NULL on invalid bytes (error-safe family).


def test_utf8_length_trio_agrees(spark):
    got = spark.sql(
        "SELECT length('héllo') c, octet_length('héllo') o,"
        "       bit_length('héllo') b"
    ).collect()[0]
    want = _duck(
        "SELECT length('héllo'), strlen('héllo'), bit_length('héllo')"
    )[0]
    assert tuple(got) == want == (5, 6, 48)


def test_luhn_check_arithmetic_replay(spark):
    cases = ["79927398713", "79927398714", "4539148803436467", "1234"]
    vals = ", ".join(f"('{c}')" for c in cases)
    got = {
        r.s: r.ok
        for r in spark.sql(
            f"SELECT s, luhn_check(s) AS ok FROM VALUES {vals} t(s)"
        ).collect()
    }
    want = dict(
        _duck(
            f"""
WITH nums(s) AS (VALUES {vals}),
digits AS (
  SELECT s, u.i, CAST(substr(reverse(s), u.i, 1) AS INT) AS dgt
  FROM nums, UNNEST(range(1, len(s) + 1)) u(i)
),
scored AS (
  SELECT s, CASE WHEN i % 2 = 0
                 THEN CASE WHEN dgt * 2 > 9 THEN dgt * 2 - 9
                      ELSE dgt * 2 END
                 ELSE dgt END AS v
  FROM digits
)
SELECT s, SUM(v) % 10 = 0 FROM scored GROUP BY s
"""
        )
    )
    assert got == want
    assert got["79927398713"] is True and got["79927398714"] is False


def test_json_shape_functions_match_duckdb(spark):
    got = spark.sql(
        "SELECT json_array_length('[1,2,3]') l,"
        "       json_object_keys('{\"b\":1,\"a\":2}') k"
    ).collect()[0]
    want = _duck(
        "SELECT json_array_length('[1,2,3]'),"
        "       json_keys('{\"b\":1,\"a\":2}')"
    )[0]
    assert (got.l, got.k) == want
    assert got.k == ["b", "a"]  # insertion order, both engines


def test_stack_matches_unnest_replay(spark):
    got = spark.sql(
        "SELECT k, v FROM (SELECT stack(2, 'a', 1, 'b', 2) AS (k, v))"
        " ORDER BY k"
    ).collect()
    want = _duck(
        "SELECT u.x.k, u.x.v FROM UNNEST("
        "[{'k':'a','v':1}, {'k':'b','v':2}]) u(x) ORDER BY 1"
    )
    assert [tuple(r) for r in got] == want


def test_element_at_edges_match_duckdb(spark):
    got = spark.sql(
        "SELECT element_at(array(1,2,3), -1) a,"
        "       try_element_at(array(1,2,3), 5) b"
    ).collect()[0]
    want = _duck("SELECT ([1,2,3])[-1], list_extract([1,2,3], 5)")[0]
    assert (got.a, got.b) == want == (3, None)


def test_map_higher_order_functions_work(spark):
    r = spark.sql(
        "SELECT map_filter(map('a',1,'b',2), (k,v) -> v > 1) f,"
        "       transform_values(map('a',1), (k,v) -> v*10) t,"
        "       map_concat(map('a',1), map('b',2)) c"
    ).collect()[0]
    assert r.f == {"b": 2} and r.t == {"a": 10} and r.c == {"a": 1, "b": 2}


def test_string_scalar_batch_agrees(spark):
    got = spark.sql(
        "SELECT char(65) c, ascii('A') a, lpad('7', 4, 'ab') p,"
        "       repeat('ab', 3) r"
    ).collect()[0]
    want = _duck(
        "SELECT chr(65), ascii('A'), lpad('7', 4, 'ab'), repeat('ab', 3)"
    )[0]
    assert tuple(got) == want


def test_to_json_preserves_field_order_both_engines(spark):
    got = spark.sql(
        "SELECT to_json(named_struct('b', 1, 'a', 'x')) j"
    ).collect()[0].j
    want = _duck("SELECT to_json({'b': 1, 'a': 'x'})")[0][0]
    assert got == want == '{"b":1,"a":"x"}'


def test_initcap_soundex_have_no_duckdb_twin(spark):
    """Rule-out: both work in Spark, neither exists in DuckDB —
    Spark-side only (no replay worth its complexity for initcap's
    word-boundary rules; soundex is algorithmic but niche)."""
    r = spark.sql(
        "SELECT initcap('hello wORLD') i, soundex('Robert') s"
    ).collect()[0]
    assert (r.i, r.s) == ("Hello World", "R163")
    import duckdb as _d

    con = _d.connect()
    try:
        with pytest.raises(_d.CatalogException):
            con.execute("SELECT initcap('x')")
        with pytest.raises(_d.CatalogException):
            con.execute("SELECT soundex('x')")
    finally:
        con.close()


def test_try_validate_utf8_error_safe(spark):
    r = spark.sql(
        "SELECT is_valid_utf8('abc') v, try_validate_utf8(x'C3') bad,"
        "       try_validate_utf8('ok') good"
    ).collect()[0]
    assert (r.v, r.bad, r.good) == (True, None, "ok")


def test_crc32_xxhash64_are_spark_internal_only(spark):
    """POSTURE pin: crc32/xxhash64 work in Spark but have no DuckDB
    twin — usable as Spark-internal fingerprints (shuffle keys, salts)
    only, never in a hash-checked output column; md5/sha2 (r15 probe)
    are the portable content addresses."""
    r = spark.sql(
        "SELECT crc32(encode('abc', 'UTF-8')) c, xxhash64('abc') x"
    ).collect()[0]
    assert r.c == 891568578  # stable across sessions
    assert isinstance(r.x, int)
