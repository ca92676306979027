"""r17 optimization-round internals: the width-gated repartition helper,
pagerank's dangling-mass shape gate, q235's broadcast/arg guards, the
IVF quantizer-fit guards, and load_table's plan-level memoization.

Every gate here exists so a local-corpus fix does not become a
cluster-scale regression (VERDICT r16 items 1-2, ADVICE r16) — the
tests pin BOTH sides: local behavior unchanged, and the scale branch
well-defined."""

import pytest
from pyspark.sql import functions as F

from distributed_map_reduce_spark.functions.partitioning import (
    widen_for_rowlocal,
)


def test_widen_narrow_input_repartitions(spark, sf_dir):
    """A single-split scan (every sf table locally) still gets the
    round-robin exchange — the r16 fix is preserved byte-for-byte."""
    from distributed_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    widened = widen_for_rowlocal(docs)
    assert widened is not docs
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_widen_is_noop_on_already_wide_input(spark):
    """An input already at least defaultParallelism-wide comes back
    UNCHANGED (same object, no exchange) — the 100 TB posture, where an
    unconditional repartition would shuffle the full payload and cap
    the stage width."""
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 2)
    assert widen_for_rowlocal(wide) is wide
    exact = spark.range(1000).repartition(target)
    assert widen_for_rowlocal(exact) is exact


def test_widen_honors_explicit_target(spark):
    narrow = spark.range(100).coalesce(1)
    assert widen_for_rowlocal(narrow, nparts=3).rdd.getNumPartitions() == 3


def test_pagerank_dangling_branches_agree(spark):
    """The in-plan window branch and the distributed agg+broadcast
    branch (the PAGERANK_WINDOW_MAX_NODES fallback) sum the same
    addends per round — ranks must agree to float noise on a graph
    WITH a dangling node, and total mass must stay 1 in both."""
    from distributed_map_reduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        # 4 -> dangling (no out-edges); 1-2-3 form a cycle feeding 4
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4)],
        "src long, dst long",
    )
    a = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, "src", "dst", iters=5, inplane_dangling=True
        ).collect()
    }
    b = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, "src", "dst", iters=5, inplane_dangling=False
        ).collect()
    }
    assert set(a) == set(b) == {1, 2, 3, 4}
    for n in a:
        assert a[n] == pytest.approx(b[n], abs=1e-12)
    assert sum(a.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(b.values()) == pytest.approx(1.0, abs=1e-9)


def test_qgram_complete_rejects_custom_gram_width(spark):
    """The unigram count screen has no gram-width knob; a caller
    passing one must get an error, not a silently different screen
    (ADVICE r16)."""
    from distributed_map_reduce_spark.operators.dedup import (
        qgram_complete_pairs_frame,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha betb")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="gram-width"):
        qgram_complete_pairs_frame(docs, q=3)


def test_qgram_complete_broadcast_gate_constant_sane():
    """The broadcast budget must sit far inside Spark's hard broadcast
    cap (8 GB) — the gate exists to keep the hint from ever reaching
    it."""
    from distributed_map_reduce_spark.operators.dedup import (
        QGRAM_BROADCAST_MAX_BYTES,
    )

    assert 0 < QGRAM_BROADCAST_MAX_BYTES <= 1 * 1024**3


def test_ivf_fit_handles_short_sample(spark):
    """A sample smaller than IVF_K pads deterministically to exactly K
    centers (duplicate centers are harmless for argmin assignment);
    an empty sample raises a clear error (ADVICE r16)."""
    from distributed_map_reduce_spark.operators.similarity import (
        IVF_K,
        _ivf_fit_centers,
    )

    tiny = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    centers = _ivf_fit_centers(tiny)
    assert len(centers) == IVF_K
    assert all(len(c) == 2 for c in centers)

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no rows"):
        _ivf_fit_centers(empty)


def test_q130_update_log_max_equals_final_state(spark, tmp_path):
    """q130's r17 drain rides UPDATE mode + a max(tf) reduce of the
    update log. Pin the equivalence argument on the adversarial case:
    a (doc_id, token) key whose count GROWS across two micro-batches
    (same doc_id appended in a second crawl drop) emits two update
    rows, and max(tf) over the log equals the batch count — for any
    batching, because tf per key is monotone nondecreasing."""
    from distributed_map_reduce_spark.streaming.events_stream import drain

    src = str(tmp_path / "src")
    docs1 = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta")], "doc_id long, text string"
    )
    docs2 = spark.createDataFrame(
        [(1, "alpha gamma")], "doc_id long, text string"  # doc 1 again
    )
    docs1.write.mode("append").parquet(src)
    docs2.write.mode("append").parquet(src)

    # maxFilesPerTrigger=1 -> one micro-batch per drop: doc 1's tokens
    # arrive in BOTH batches, so its (doc, token) keys update twice.
    toks = (
        spark.readStream.schema(docs1.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    tf_log = drain(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
        "update",
    )
    got = {
        (r["doc_id"], r["token"]): r["tf"]
        for r in tf_log.groupBy("doc_id", "token")
        .agg(F.max("tf").alias("tf"))
        .collect()
    }
    batch = docs1.unionByName(docs2).select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    want = {
        (r["doc_id"], r["token"]): r["tf"]
        for r in batch.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    }
    assert got == want
    # the update log genuinely contained a twice-updated key: doc 1's
    # "alpha" count is 2 after drop 1 and 3 after drop 2 — two rows
    log = tf_log.filter(
        "doc_id = 1 AND token = 'alpha'"
    )
    assert sorted(r["tf"] for r in log.collect()) == [2, 3]


def test_load_table_memoizes_per_session_and_dir(spark, sf_dir):
    """Repeated loads of one (session, dir, table) return the SAME lazy
    DataFrame object (plan-level reuse — no data is cached; actions
    still scan parquet), and different tables/dirs stay distinct."""
    from distributed_map_reduce_spark.sources import load_table

    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b
    assert load_table(spark, sf_dir, "orders") is not a
    other = load_table(spark, "/root/testdata/sf0.01", "documents")
    assert other is not a
    # and the memoized frame still computes from disk: row count equals
    # a fresh un-memoized read
    from distributed_map_reduce_spark.sources.tables import (
        _load_table_uncached,
    )

    assert a.count() == _load_table_uncached(
        spark, sf_dir, "documents"
    ).count()


def test_load_table_cache_is_freed_with_its_session(spark, sf_dir):
    """The per-session table cache must not keep its session alive: a
    derived session that loaded a table is collected once unreferenced."""
    import gc
    import weakref

    from pyspark import RDD

    from distributed_map_reduce_spark.sources import load_table

    # Every SparkSession() rebinds RDD.toDF to a closure over itself;
    # put the fixture session's binding back so only the cache can hold
    # the derived session.
    to_df = RDD.toDF
    try:
        other = spark.newSession()
    finally:
        RDD.toDF = to_df
    load_table(other, sf_dir, "region")
    ref = weakref.ref(other)
    del other
    gc.collect()
    assert ref() is None
