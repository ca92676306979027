"""Streaming/batch agreement: the Structured Streaming q14 twin must
produce exactly the batch q14 result once the backlog drains
(availableNow). This is the streaming analog of the reference's
sequential-vs-distributed differential."""

import pyspark.sql.functions as F

from distributed_map_reduce_spark.registry import all_queries
from distributed_map_reduce_spark.sources import load_table
from distributed_map_reduce_spark.streaming.events_stream import (
    RUNNING_TOTALS_OUT,
    deduped_stream,
    deduped_stream_within_watermark,
    click_purchase_stream_join,
    enriched_segment_stream,
    drain,
    hourly_windows_stream,
    sessionized_stream,
    user_running_totals,
)


def _canon(rows, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in rows)


def _redrain(stream_df, ckpt, name):
    """Complete-mode memory-sink drain over a checkpoint the CALLER
    keeps — for the tests that re-drain one checkpoint after new files
    land, which ``drain`` (one throwaway checkpoint per call) cannot."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def test_stream_equals_batch(spark, sf_dir):
    got = drain(hourly_windows_stream(spark, sf_dir)).collect()

    batch = all_queries()["q14_hourly_windows"].build(spark, sf_dir).collect()
    cols = ["w", "event_type", "n", "total"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert len(got) > 0


def test_sliding_stream_equals_batch(spark, sf_dir):
    """Streaming q39 twin: 2h/1h sliding windows drained with
    availableNow must equal the batch query."""
    stream_df = hourly_windows_stream(
        spark, sf_dir, window="2 hours", slide="1 hour"
    )
    got = drain(stream_df).collect()
    batch = all_queries()["q39_sliding_windows"].build(spark, sf_dir).collect()
    cols = ["w", "event_type", "n", "total"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert len(got) > 0


def test_session_stream_subset_of_batch(spark, sf_dir):
    """Append-mode sessions emit only once watermark-final, so a drained
    stream is exactly the batch q32 result minus sessions still open at
    the final watermark."""
    got = drain(sessionized_stream(spark, sf_dir), "append").collect()

    batch = all_queries()["q32_user_sessions"].build(spark, sf_dir).collect()
    cols = ["user_id", "session_start", "session_end", "n_events", "total"]
    got_c, batch_c = _canon(got, cols), _canon(batch, cols)
    assert set(got_c) <= set(batch_c)
    # nearly everything is watermark-final after the backlog drains
    assert len(got_c) >= 0.9 * len(batch_c) > 0


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment (events stream x customer dim) drained
    with availableNow must equal the same join+agg run in batch."""
    got = drain(enriched_segment_stream(spark, sf_dir)).collect()

    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    batch = (
        ev.join(dim, "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .collect()
    )
    cols = ["segment", "event_type", "n", "total"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert len(got) > 0


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (purchases x prior-hour clicks per
    user) drained with availableNow must equal the identical batch
    join: inner joins lose nothing once the backlog is processed."""
    got = drain(click_purchase_stream_join(spark, sf_dir), "append").collect()

    ev = load_table(spark, sf_dir, "events")
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
    batch = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            "purchase_ts",
            "click_ts",
            "value",
        )
        .collect()
    )
    cols = ["user_id", "purchase_id", "click_id", "purchase_ts", "click_ts", "value"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert len(got) > 0


def test_streaming_dedup_drops_replays(spark, sf_dir, tmp_path):
    """At-least-once input (the same event file delivered twice, plus a
    fresh file) must come out exactly-once: one row per distinct
    event_id, equal to the batch-distinct count."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    a, b = ev.randomSplit([0.5, 0.5], seed=11)
    src = str(tmp_path / "src")
    a.coalesce(1).write.mode("append").parquet(src)
    a.coalesce(1).write.mode("append").parquet(src)  # the replay
    b.coalesce(1).write.mode("append").parquet(src)

    out = drain(deduped_stream(spark, src), "append")
    assert out.count() == out.select("event_id").distinct().count() == ev.count()


def test_streaming_dedup_within_watermark_drops_replays(
    spark, sf_dir, tmp_path
):
    """Same replay corpus through dropDuplicatesWithinWatermark (state
    evicted by when a duplicate can still arrive, not by the key's own
    event time) — both dedup APIs must deliver the identical
    exactly-once output on an in-horizon replay."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    a, b = ev.randomSplit([0.5, 0.5], seed=11)
    src = str(tmp_path / "src")
    a.coalesce(1).write.mode("append").parquet(src)
    a.coalesce(1).write.mode("append").parquet(src)  # the replay
    b.coalesce(1).write.mode("append").parquet(src)

    out = drain(deduped_stream_within_watermark(spark, src), "append")
    assert (
        out.count()
        == out.select("event_id").distinct().count()
        == ev.count()
    )


def test_foreach_batch_sink_exactly_once_across_reruns(spark, sf_dir, tmp_path):
    """foreachBatch + checkpoint = exactly-once sink delivery: draining
    the same source twice over one checkpoint must not re-deliver any
    batch — the committed offsets make the second run a no-op. The
    streaming analog of the reference's skip-if-final-output-exists
    idempotency (worker.go:186)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    def drain():
        q = (
            spark.readStream.schema("event_id bigint, ts timestamp, value double")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out).count()
    assert first == ev.count()
    drain()  # same checkpoint, no new input -> no batches re-fire
    assert spark.read.parquet(out).count() == first


def test_stateful_state_survives_restart(spark, sf_dir, tmp_path):
    """Kill-and-resume: drain file A, stop, add file B, start a NEW query
    on the same checkpoint. Restored state must continue from A (final
    totals = A+B exactly once; reprocessing A would double-count)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    a, b = ev.randomSplit([0.5, 0.5], seed=7)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    a.coalesce(1).write.mode("append").parquet(src)

    def drain():
        # foreachBatch, not the memory sink: only recoverable sinks may
        # resume from a checkpoint
        emitted = []
        stream = spark.readStream.schema("user_id bigint, value double").parquet(src)
        q = (
            user_running_totals(stream)
            .writeStream.foreachBatch(
                lambda bdf, _id: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    drain()
    b.coalesce(1).write.mode("append").parquet(src)
    second = drain()

    got = {}
    for r in second:
        got[r["user_id"]] = max(got.get(r["user_id"], 0), r["n_events"])
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # second run emits only users touched by file B; those must land at
    # exactly the A+B total (state restored, A not reprocessed)
    assert got, "file B touched no users"
    assert all(want[u] == n for u, n in got.items())


def test_stateful_running_totals_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches:
    split events into 4 files, feed one per trigger, and require the
    final running totals to equal the batch groupBy."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    src = str(tmp_path / "events_split")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    log = drain(user_running_totals(stream), "update")
    # multiple updates per user (one per batch that touched it); the one
    # with the highest n_events is the final state
    got = (
        log.groupBy("user_id")
        .agg(F.max_by("total", "n_events").alias("total"),
             F.max("n_events").alias("n_events"))
        .collect()
    )
    want = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        .collect()
    )
    got_m = {r["user_id"]: (r["n_events"], round(r["total"], 6)) for r in got}
    want_m = {r["user_id"]: (r["n_events"], round(r["total"], 6)) for r in want}
    assert got_m == want_m
    # state really crossed batches: >1 distinct update row for some user
    n_updates = log.count()
    assert n_updates > len(want_m)


def test_user_stats_tws_gate(spark, sf_dir):
    """transformWithStateInPandas twin: its driver worker speaks
    protobuf (StateMessage_pb2), so the operator import-gates on
    google.protobuf. Without protobuf it must raise a readable
    ImportError BEFORE any stream starts; with protobuf it must build a
    streaming frame with the same schema as the old-API operator."""
    import pytest

    from distributed_map_reduce_spark.streaming.events_stream import (
        events_stream,
        user_stats_stateful,
        user_stats_tws,
    )

    stream = events_stream(spark, sf_dir)
    try:
        import google.protobuf  # noqa: F401

        has_pb = True
    except ImportError:
        has_pb = False
    if not has_pb:
        with pytest.raises(ImportError, match="protobuf"):
            user_stats_tws(stream)
    else:  # pragma: no cover - container has no protobuf
        df = user_stats_tws(stream)
        assert df.isStreaming
        assert df.schema == user_stats_stateful(stream).schema


def test_rocksdb_state_store_equals_default(spark, sf_dir):
    """The same stateful drain on the RocksDB state store provider —
    the production state backend once keyed state outgrows executor
    heap (100 TB/day streams hold millions of keys; HDFS-backed
    in-memory maps are the toy path). Results must be byte-identical
    to the default provider: the provider swap is an operational knob,
    never a semantics change."""
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    orig = spark.conf.get(key, None)
    spark.conf.set(key, provider)
    try:
        got = drain(hourly_windows_stream(spark, sf_dir)).collect()
    finally:
        if orig is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, orig)
    batch = all_queries()["q14_hourly_windows"].build(spark, sf_dir).collect()
    cols = ["w", "event_type", "n", "total"]
    assert _canon(got, cols) == _canon(batch, cols)
    assert len(got) > 0


def test_documents_stream_incremental_files(spark, sf_dir, tmp_path):
    """True incremental curation: drain the Gopher funnel over HALF the
    corpus, then drop the second half into the watched directory and
    re-drain FROM THE SAME CHECKPOINT — the aggregate state must carry
    over, and the final complete-mode output must equal the batch
    funnel over the whole corpus (the append-only crawl contract q114
    demonstrates in one trigger, here across two arrivals)."""
    from distributed_map_reduce_spark.operators.textanalysis import (
        gopher_funnel,
        gopher_rule_frame,
    )

    batch = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch.filter("doc_id % 2 = 0").write.mode("append").parquet(src)

    def drain(table):
        stream = (
            spark.readStream.schema(batch.schema).format("parquet").load(src)
        )
        return _redrain(gopher_funnel(gopher_rule_frame(stream)), ckpt, table)

    cols = ["source", "n_docs", "fail_short", "fail_long", "fail_wordlen",
            "fail_stop", "n_pass", "pass_rate"]
    partial = drain("inc_curation_1").collect()
    expected_half = gopher_funnel(
        gopher_rule_frame(batch.filter("doc_id % 2 = 0"))
    ).collect()
    assert _canon(partial, cols) == _canon(expected_half, cols)

    batch.filter("doc_id % 2 = 1").write.mode("append").parquet(src)
    full = drain("inc_curation_2").collect()
    expected_full = gopher_funnel(gopher_rule_frame(batch)).collect()
    assert _canon(full, cols) == _canon(expected_full, cols)
    assert _canon(full, cols) != _canon(partial, cols)


def test_streaming_bm25_incremental_equals_batch(spark, sf_dir, tmp_path):
    """q130's contract beyond the oracle gate: the incrementally
    maintained tf/dl state yields byte-identical top-k after EACH crawl
    drop — scoring the half-corpus state matches batch BM25 over the
    half corpus, and after the second drop the same checkpointed stream
    state converges to the full-corpus batch answer."""
    import pyspark.sql.functions as F

    from distributed_map_reduce_spark.functions.text import SPARK_TOKS_EXPR
    from distributed_map_reduce_spark.operators.retrieval import (
        bm25_query_terms,
        bm25_scores,
        bm25_topk,
    )
    from distributed_map_reduce_spark.sources import load_table

    batch = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    tf_ckpt = str(tmp_path / "tf_ckpt")
    batch.filter("doc_id % 2 = 0").write.mode("append").parquet(src)

    def drain(suffix):
        toks = (
            spark.readStream.schema(batch.schema).format("parquet").load(src)
            .select("doc_id", F.explode(F.expr(SPARK_TOKS_EXPR)).alias("token"))
        )
        # fresh lineage: a memory-sink view on both sides of the
        # tf-vs-its-own-df join trips analyzer reference conflicts.
        # dl is a derived view of the drained tf state (q130's posture).
        tf = _redrain(
            toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
            tf_ckpt, f"inc_bm25_tf_{suffix}",
        ).localCheckpoint()
        return tf, tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))

    def batch_topk(docs):
        toks = docs.select(
            "doc_id", F.explode(F.expr(SPARK_TOKS_EXPR)).alias("token")
        )
        tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
        dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        return bm25_topk(bm25_scores(tf, dl, bm25_query_terms(docs)))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    qterms_half = bm25_query_terms(batch.filter("doc_id % 2 = 0"))
    tf1, dl1 = drain(1)
    assert rows(bm25_topk(bm25_scores(tf1, dl1, qterms_half))) == rows(
        batch_topk(batch.filter("doc_id % 2 = 0"))
    )

    batch.filter("doc_id % 2 = 1").write.mode("append").parquet(src)
    tf2, dl2 = drain(2)
    got_full = rows(bm25_topk(bm25_scores(tf2, dl2, bm25_query_terms(batch))))
    assert got_full == rows(batch_topk(batch))
