"""Structural invariants of the round-12 additions (q212–q214).

The oracle parity gate pins VALUE equality against DuckDB; these tests
pin the contracts the SQL twin cannot see: the streaming DataSource's
offset walk (multi-batch == single-batch, recovery re-read invariant,
exact partition tiling), the UDTF's plan-time analyze() (schema width
follows the literal argument; the function itself requests its input
partitioning), and the statestore read's agreement with the live drain
plus its checkpoint reuse across invocations.
"""

import tempfile

import pytest

from distributed_map_reduce_spark.sources.pystreamsource import (
    _DocRangeStreamReader,
    _read_row_range,
    register_docrange,
)


def _docs_path(sf_dir):
    return f"{sf_dir.rstrip('/')}/documents.parquet"


def test_docrange_multibatch_drain_equals_batch_scan(spark, sf_dir):
    """With rowsPerBatch set, latestOffset advances in steps, so the
    drain is many micro-batches — and the union of all of them must be
    exactly the batch scan's rows (no loss, no duplication across the
    offset walk)."""
    register_docrange(spark)
    src = (
        spark.readStream.format("docrange")
        .option("path", _docs_path(sf_dir))
        .option("rowsPerBatch", "37")
        .option("partitionRows", "11")
        .load()
    )
    q = (
        src.writeStream.format("memory")
        .queryName("q212_mb")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="q212_mb_"))
        .start()
    )
    q.processAllAvailable()
    batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    assert batches > 1, "rate limit should force a multi-batch walk"
    streamed = sorted(map(tuple, spark.table("q212_mb").collect()))
    batch = sorted(
        map(
            tuple,
            spark.read.parquet(_docs_path(sf_dir))
            .select("doc_id", "source", "lang", "n_chars")
            .collect(),
        )
    )
    assert streamed == batch


def test_docrange_range_split_is_recovery_invariant(sf_dir):
    """[a, c) == [a, b) ∪ [b, c) for any split — the property Spark's
    failure recovery relies on when it re-reads a committed offset
    range (readBetweenOffsets semantics). Pure Python, no session."""
    path = _docs_path(sf_dir)

    def rows(a, b):
        # flatten the Arrow batches: the invariant is about the ROW
        # stream; batch boundaries differ between whole and split reads
        import pyarrow as pa

        batches = list(_read_row_range(path, a, b))
        return pa.Table.from_batches(batches).to_pylist() if batches else []

    one = rows(0, 60)
    assert len(one) == 60
    assert one == rows(0, 1) + rows(1, 60)
    assert one == rows(0, 31) + rows(31, 60)
    assert rows(17, 17) == []


def test_docrange_partitions_tile_the_offset_range(sf_dir):
    """partitions(start, end) must tile [start, end) exactly: contiguous,
    non-overlapping, fully covering — the planner half of the recovery
    invariant."""
    r = _DocRangeStreamReader({"path": _docs_path(sf_dir), "partitionRows": "7"})
    parts = r.partitions({"row": 3}, {"row": 45})
    spans = [(p.begin, p.end) for p in parts]
    assert spans[0][0] == 3 and spans[-1][1] == 45
    for (_, e0), (b1, _) in zip(spans, spans[1:]):
        assert e0 == b1
    assert all(b < e for b, e in spans)


def test_udtf_analyze_schema_follows_literal_arg(spark, sf_dir):
    """The WHOLE POINT of analyze(): the output schema is computed from
    the call's literal k — k=2 yields s1..s2, k=4 yields s1..s4 — and
    the requested partitioning means one terminate() row per priority
    without any PARTITION BY at the call site."""
    from pyspark.sql import functions as F

    from distributed_map_reduce_spark.operators.udaf import (
        Q213_MOD,
        q213_udtf_analyze,
    )
    from distributed_map_reduce_spark.sources import load_table

    # registers q213_power_sums on the session (k=3 headline invocation)
    base = q213_udtf_analyze(spark, sf_dir)
    assert base.columns == ["o_orderpriority", "n", "s1", "s2", "s3"]
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % Q213_MOD == 0
    )
    for k in (2, 4):
        df = spark.sql(
            f"""
            SELECT * FROM q213_power_sums({k}, TABLE(
                SELECT o_orderpriority,
                       CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS kd
                FROM {{orders}}))
            """,
            orders=orders,
        )
        assert df.columns == ["o_orderpriority", "n"] + [
            f"s{i}" for i in range(1, k + 1)
        ]
    rows = spark.sql(
        """
        SELECT * FROM q213_power_sums(2, TABLE(
            SELECT o_orderpriority,
                   CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS kd
            FROM {orders}))
        """,
        orders=orders,
    ).collect()
    keys = [r["o_orderpriority"] for r in rows]
    assert sorted(keys) == sorted(set(keys)), "one row per requested partition"


def test_udtf_analyze_rejects_bad_k(spark, sf_dir):
    """analyze() runs at PLAN time, so a bad literal fails the query
    before any execution — the schema contract is enforced where a
    fixed-schema UDTF could not enforce it."""
    from pyspark.errors import AnalysisException

    from distributed_map_reduce_spark.operators.udaf import q213_udtf_analyze
    from distributed_map_reduce_spark.sources import load_table

    q213_udtf_analyze(spark, sf_dir)  # ensure registration
    with pytest.raises(AnalysisException):
        spark.sql(
            """
            SELECT * FROM q213_power_sums(0, TABLE(
                SELECT o_orderpriority, CAST(1 AS BIGINT) AS kd
                FROM {orders}))
            """,
            orders=load_table(spark, sf_dir, "orders"),
        ).collect()


@pytest.mark.parametrize(
    "with_cursor,stop_batch",
    [(True, 0), (True, 2), (False, 2)],
    ids=["cursor-earliest-stop", "cursor-midway", "in-memory-marks"],
)
def test_docrange_restart_is_exactly_once(spark, sf_dir, with_cursor, stop_batch):
    """Stop the rate-limited stream mid-way and restart from the same
    checkpoint: the drain must deliver every row exactly once. Both
    restart postures are covered — the WAL survives a restart while the
    reader's memory may go EITHER way: a fresh planner process starts
    below the WAL (without the fix, the first latestOffset re-covered
    committed rows: measured 587 for a 500-row file), a reused one
    starts above the commit log (without the committed-mark clip, the
    uncommitted-batch replay was silently dropped: measured 471). With
    ``progressDir`` the reader recovers a durable cursor from the WAL
    itself, which also closes the earliest-stop corner (WAL offset ==
    first probe → "no new data" stall), so that variant stops at the
    first opportunity; the in-memory variant stops past the corner's
    window (batch >= 2 ≫ one rowsPerBatch)."""
    import time

    register_docrange(spark)
    ckpt = tempfile.mkdtemp(prefix="q212_restart_ckpt_")
    out = tempfile.mkdtemp(prefix="q212_restart_out_")

    def start():
        src = (
            spark.readStream.format("docrange")
            .option("path", _docs_path(sf_dir))
            .option("rowsPerBatch", "29")
        )
        if with_cursor:
            src = src.option("progressDir", ckpt)
        return (
            src.load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    for _ in range(600):
        p = q.lastProgress
        if p and p["batchId"] >= stop_batch:
            break
        time.sleep(0.05)
    try:
        q.stop()
    except Exception:
        # stopping mid-batch IS the simulated crash; an interrupted
        # in-flight batch may surface its cancellation here
        pass
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.json(out)
    batch = spark.read.parquet(_docs_path(sf_dir))
    total = batch.count()
    n = got.count()
    n_distinct = got.select("doc_id").distinct().count()
    if n != total or n_distinct != total:
        # self-diagnosing failure: which ids, and what the WAL says
        import glob
        import os

        def last_line(f):
            try:
                with open(f, "r", encoding="utf-8") as fh:
                    lines = [ln for ln in (x.strip() for x in fh) if ln]
                return lines[-1] if lines else "<empty>"
            except OSError as e:
                return f"<unreadable: {e}>"

        have = {r["doc_id"] for r in got.select("doc_id").collect()}
        want = {r["doc_id"] for r in batch.select("doc_id").collect()}
        logs = {
            log: [
                (os.path.basename(f), last_line(f))
                for f in sorted(glob.glob(f"{ckpt}/{log}/*"))
                if not f.endswith(".tmp")
            ]
            for log in ("offsets", "commits")
        }
        raise AssertionError(
            f"rows={n} distinct={n_distinct} expected={total}; "
            f"missing={sorted(want - have)[:40]} "
            f"dup_or_extra={sorted(have - want)[:10]}; logs={logs}"
        )
    # the durable cursor reads the finished WAL as fully drained
    from distributed_map_reduce_spark.sources.pystreamsource import (
        _recover_wal_cursor,
    )

    planned, committed = _recover_wal_cursor(ckpt)
    assert planned == total and committed == total


def test_statestore_read_equals_live_drain_and_reuses_checkpoint(spark, sf_dir):
    """q214's offline state read must equal q207's live drain (same
    rows through a different physical path), and a second invocation
    must reuse the persistent checkpoint (catch-up, not AnalysisException
    — the memory sink cannot do this; the noop sink can)."""
    from distributed_map_reduce_spark.streaming.documents_stream import (
        q207_streaming_theta_twin,
        q214_statestore_reader,
    )

    offline = sorted(map(tuple, q214_statestore_reader(spark, sf_dir).collect()))
    live = sorted(map(tuple, q207_streaming_theta_twin(spark, sf_dir).collect()))
    assert offline == live
    again = sorted(map(tuple, q214_statestore_reader(spark, sf_dir).collect()))
    assert again == offline
