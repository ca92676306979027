"""Streaming curation over the ``documents`` table.

The 100 TB reality of a pretraining corpus is append-only crawl drops,
so the curation passes (quality rules, PII, dedup) must run as
Structured Streaming jobs over arriving files — not only as batch
backfills. This module streams the documents parquet through the SAME
stateless rule expressions the batch operators use (the projection is
shared verbatim — one codepath, two execution modes) and drains it
through ``events_stream.drain`` (Trigger.availableNow into a memory
sink, self-cleaning) so the DuckDB oracle gate covers the streaming
path too (same twin methodology as streaming/events_stream.py; the
reference's analog is re-running its apps over a grown input set,
/root/reference/src/main/test-mr.sh re-invocations).

On a real cluster the only change is the source options (a directory
watched with maxFilesPerTrigger, or a message bus) and a file/table
sink instead of the in-memory test sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import app_scratch_dir
from .events_stream import drain, state_partitions, stream_schema


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table. Schema comes from
    one memoised batch footer read (streams cannot infer), matching the
    footer-adaptive posture of sources/tables.py."""
    root = sf_dir.rstrip("/")
    return (
        spark.readStream.schema(stream_schema(spark, root, "documents"))
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(root)
    )


def q114_streaming_quality_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality funnel on the STREAMING path: the q91 rule
    projection (stateless, shared expression tree) over a documents
    file stream, aggregated per source in complete mode and drained
    with availableNow — hash-checked against q91's batch oracle, so
    the gate proves streaming curation == batch curation.

    Scale shape: the rule projection is row-local (whole-stage codegen,
    no Python); the only state is the per-source aggregate — one row
    per source, bounded by the source vocabulary, no watermark needed
    (complete mode, monotone counts). This is the template for running
    every stateless curation pass (q91 rules, q96 PII, q30 lang-id)
    over an append-only crawl without a backfill."""
    from ..functions.partitioning import widen_for_rowlocal
    from ..operators.textanalysis import gopher_funnel, gopher_rule_frame

    # Widen the single-file micro-batch before the rule projection (the
    # theta-stream rationale; smaller effect here — the rules are
    # cheaper than shingle hashing — measured ~0.1 s, output identical:
    # the per-source aggregate is order-free).
    agged = gopher_funnel(
        gopher_rule_frame(widen_for_rowlocal(documents_stream(spark, sf_dir)))
    )
    return drain(agged).orderBy("source")


def q130_streaming_bm25_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 (VERDICT r5 item 6): the retrieval family's
    streaming twin. THE corpus-state frame — tf (doc x token counts,
    i.e. the posting list the reference's indexer app builds,
    src/mrapps/indexer.go:14-31) — is maintained as a STREAMING
    aggregate over the documents file stream and drained with
    availableNow; dl, df and the (N, avgdl) stats are derived views of
    that one state table (dl = sum of tf per doc, exactly how the
    batch path derives it), and the drained state is scored + ranked
    by the SAME ``bm25_scores``/``bm25_topk`` expression tree batch
    q93 uses, then hash-checked against q93's DuckDB oracle. Proves
    index-maintenance == index-rebuild for the newest family.

    Scale shape: each micro-batch updates only the (doc, token) state
    rows it touches — a crawl drop costs O(delta), not a corpus
    re-tokenization; the aggregate is map-side combinable before the
    state store, and ONE stream pass feeds every derived view (a
    second dl stream would re-read and re-tokenize the whole backlog
    for a frame tf already determines). Query terms come from a batch
    read (the query set is config, not stream state)."""
    from pyspark.sql import functions as F

    from ..functions.text import SPARK_TOKS_EXPR
    from ..operators.retrieval import bm25_query_terms, bm25_scores, bm25_topk

    # Repartition before the tokenizer: the file-source micro-batch is
    # one task (single parquet file), so the regexp split + explode
    # would otherwise run serially there; the state shuffle that
    # follows happens either way (guide §2.5; the _doc_shingles
    # rationale on the streaming path). widen_for_rowlocal falls back
    # to this unconditional repartition on streams (no planned width
    # before execution) — a micro-batch is a crawl drop, not the
    # corpus, so the exchange stays drop-sized at any scale.
    from ..functions.partitioning import widen_for_rowlocal

    toks = widen_for_rowlocal(
        documents_stream(spark, sf_dir).select("doc_id", "text")
    ).select(
        "doc_id", F.explode(F.expr(SPARK_TOKS_EXPR)).alias("token")
    )
    # UPDATE mode (r17; VERDICT r16 item 4): complete mode re-emits the
    # ENTIRE (doc, token) state table — the suite's largest streaming
    # state, ~260k rows at sf0.1 — into the memory sink every trigger.
    # Update mode emits only the groups a batch changed; since tf per
    # key is a monotone nondecreasing running count, the final state is
    # exactly max(tf) per key over the update log, reduced below before
    # scoring. Semantics-invariant for ANY micro-batching of the input
    # (measured at sf0.1: 3.4 -> 2.8 s; same oracle hash).
    tf_log = drain(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
        "update",
    )
    from ..sources import load_table

    qterms = bm25_query_terms(load_table(spark, sf_dir, "documents"))
    # localCheckpoint gives the drained state fresh lineage: bm25_scores
    # joins tf against its own df aggregate, and a memory-sink frame
    # reused on both sides of a join trips analyzer reference conflicts
    # (same pattern as the batch path's tf checkpoint in retrieval.py).
    tf = (
        tf_log.groupBy("doc_id", "token")
        .agg(F.max("tf").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return bm25_topk(bm25_scores(tf, dl, qterms))


def q207_streaming_theta_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE SKETCH STATE in a streaming aggregate — the streaming
    twin of q197/q201's theta-style KMV sketches. The shingle explode
    and the 60-bit md5-prefix hash (``sketches._kmv_hash``, shared with
    q197/q201 so the sketches stay bit-mergeable across the batch and
    streaming paths) run JVM-side on the document file stream; the only
    Python is the per-source ``applyInPandasWithState`` fold whose state
    IS a theta sketch: the K smallest distinct hashes plus an overflow
    bit. Each micro-batch set-merges its hashes into the sketch and
    re-truncates to K — the theta-sketch merge operation, associative
    and idempotent, so the drained result is independent of how the
    stream was micro-batched. State is O(K)=256 longs per source
    forever, regardless of corpus volume: this is how a 100 TB
    append-only crawl keeps live distinct-shingle estimates per source
    without a backfill (vs q130's tf-state, which is O(vocab)).

    The update log is reduced to each source's final state via
    ``max_by(_, n_rows)`` (n_rows strictly increases per invocation —
    a group is only invoked when it has data). Estimator and small-set
    rule are exactly q197's: not-overflowed means the sketch is the
    complete hash set (estimate = its size); overflowed means
    E = (K-1)*2^60 / h_(K), h_(K) = the sketch's max.

    Determinism: the final sketch is a set function of the input, so
    n_sketch/n_kmv are batching-invariant; n_rows counts raw
    (source, shingle) rows — also a pure input property. Cardinality
    is hash-level (a 60-bit md5-prefix collision is counted once),
    whereas batch q197 counts n_exact at TOKEN level — the two agree
    except under an intra-source hash collision (probability
    ~n²/2^61, negligible at any per-source vocabulary this engine
    targets, but the semantics are stated here exactly). The rounded
    estimate itself is computed in the drain with q197's identical
    Spark ``F.round`` expression, so the streaming, batch, and oracle
    paths share one rounding implementation (ADVICE r10).

    Reference lineage: none for sketches (SURVEY §2.3); the
    streaming-vs-batch twin methodology is this module's header."""
    return drain_theta_sketch_stream(
        theta_sketch_stream(documents_stream(spark, sf_dir))
    )


def theta_sketch_stream(docs: DataFrame) -> DataFrame:
    """The q207 pipeline over ANY documents stream: JVM-side shingle
    explode + KMV hash, then the per-source sketch-state fold.
    Factored out of q207 so tests can drive it with a MULTI-file source
    (maxFilesPerTrigger=1) and exercise the cross-micro-batch merge
    path the single-file production drain only hits on a growing
    directory."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import _SPARK_SHINGLES, _SPARK_TOKS
    from ..operators.sketches import KMV_SKETCH_K, _kmv_hash

    K = KMV_SKETCH_K
    # The fold emits the raw sketch summary (size, overflow bit, max
    # hash); the ROUNDED estimate is computed in the drain with q197's
    # exact Spark F.round expression — Python math.floor(x+0.5) can
    # disagree with BigDecimal HALF_UP when x+0.5 crosses an integer
    # under binary-float representation (ADVICE r10).
    out_schema = (
        "source string, n_rows bigint, n_sketch bigint, "
        "overflowed boolean, h_max bigint"
    )
    state_schema = "hashes array<bigint>, overflowed boolean, n_rows bigint"

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            hashes, overflowed, n_rows = state.get
            cur = set(hashes)
        else:
            cur, overflowed, n_rows = set(), False, 0
        for pdf in pdfs:
            n_rows += len(pdf)
            cur.update(int(x) for x in pdf["h"])
        if len(cur) > K:
            overflowed = True
            cur = set(sorted(cur)[:K])
        state.update((sorted(cur), bool(overflowed), n_rows))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_rows": [n_rows],
                "n_sketch": [len(cur)],
                "overflowed": [bool(overflowed)],
                # h_max is only consumed on the overflowed branch, where
                # cur is necessarily non-empty; guard anyway so a future
                # timeout-driven zero-row invocation can't raise.
                "h_max": [max(cur) if cur else 0],
            }
        )

    # Repartition before the shingle explode + md5 hash: a single-file
    # micro-batch is ONE task, so the widest JVM-side row work in this
    # stream (~500k shingle hashes at sf0.1) ran serially there (the
    # q130 tokenizer fix applied to the sketch path — r17; measured
    # 1.9-2.6 -> 1.4-2.2 s per drain, output bit-identical: the KMV
    # fold is a set function of its input, so row order is immaterial).
    # The grouped-state shuffle that follows happens either way.
    from ..functions.partitioning import widen_for_rowlocal

    return (
        widen_for_rowlocal(docs.select("source", "text"))
        .select("source", F.expr(_SPARK_TOKS).alias("toks"))
        .select("source", F.explode(F.expr(_SPARK_SHINGLES)).alias("token"))
        .select("source", _kmv_hash("token").alias("h"))
        .groupBy("source")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def drain_theta_sketch_stream(stream: DataFrame) -> DataFrame:
    """availableNow drain + final-state reduction for q207's update log
    (n_rows strictly increases per invocation, so max_by picks each
    source's last update). The KMV estimate is computed HERE, over the
    final sketch summary, with the same Spark ``F.round`` expression as
    batch q197 (sketches.py) — one rounding implementation across the
    streaming, batch, and DuckDB-ROUND oracle paths."""
    from pyspark.sql import functions as F

    final = drain(stream, "update").groupBy("source").agg(
        F.max("n_rows").alias("n_rows"),
        F.max_by("n_sketch", "n_rows").alias("n_sketch"),
        F.max_by("overflowed", "n_rows").alias("overflowed"),
        F.max_by("h_max", "n_rows").alias("h_max"),
    )
    return final.select(
        "source", "n_rows", "n_sketch", _kmv_estimate().alias("n_kmv")
    ).orderBy("source")


def _kmv_estimate():
    """The KMV estimate over a (n_sketch, overflowed, h_max) summary —
    q197's exact Spark ``F.round`` expression, shared by the live drain
    (q207) and the offline state read (q214) so every consumer of the
    sketch state rounds identically (ADVICE r10's single-rounding-path
    rule)."""
    from pyspark.sql import functions as F

    from ..operators.sketches import KMV_SKETCH_K, _POW60

    return F.when(~F.col("overflowed"), F.col("n_sketch")).otherwise(
        F.round(
            (KMV_SKETCH_K - 1) * _POW60 / F.col("h_max").cast("double")
        ).cast("bigint")
    )


def q214_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE STATE INSPECTION — ``spark.read.format("statestore")``
    over a streaming checkpoint: the state store q207's
    ``applyInPandasWithState`` fold persists (per-source theta/KMV
    sketch: hashes + overflow bit + row count) is read back as a batch
    DataFrame — ``key.source`` plus ``value.groupState.<state schema>``
    — WITHOUT the streaming query running, and re-derives exactly the
    live drain's output (same oracle as q207). Operationally this is
    how a 100 TB streaming job is debugged: inspect the checkpoint's
    state directly instead of instrumenting the job; it is also the
    recovery audit — what a restart would resume from IS what the
    sink shows.

    The sketch estimate is computed by the SHARED ``_kmv_estimate``
    expression (one rounding path across the live drain, this offline
    read, batch q197, and the DuckDB oracle). h_max falls out of the
    stored state for free: the fold keeps hashes sorted ascending, so
    ``element_at(hashes, -1)`` is the sketch maximum — but
    ``array_max`` is used so the read does not depend on that storage
    detail. n_sketch = size(hashes) likewise re-derives rather than
    trusts the update log.

    Scale shape: the state source plans one partition per state-store
    instance (= the stream's shuffle partitions), each reading its own
    RocksDB/HDFS-backed store files — no shuffle until the final tiny
    per-source projection; state volume is O(K) per source regardless
    of corpus size.

    Reference lineage: the reference's only durable state is the
    completed-task set inside the coordinator's memory
    (coordinator.go) — unreadable once the process exits; a
    checkpointed, offline-queryable state store is the declarative
    engine's upgrade (SURVEY §2.3)."""
    from pyspark.sql import functions as F

    # One checkpoint per (sf dir, application): repeated invocations
    # resume the SAME checkpoint (a no-new-data catch-up, not a
    # re-drain), because the whole point of the query is reading
    # PERSISTENT state.
    ckpt = app_scratch_dir(spark, sf_dir, "q214_ckpt")
    # Drain (first call) or catch up (no new files => no-op batch) the
    # sketch stream into the persistent checkpoint (``drain``'s
    # checkpoint is thrown away). The sink is noop: q214 reads the
    # STATE, not the sink — and unlike the memory sink, noop recovers
    # from an existing checkpoint, so re-invocations are cheap catch-ups
    # instead of an AnalysisException.
    stream = theta_sketch_stream(documents_stream(spark, sf_dir))
    writer = (
        stream.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    with state_partitions(stream):
        q = writer.start()
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    summary = state.select(
        F.col("key.source").alias("source"),
        F.col("value.groupState.n_rows").alias("n_rows"),
        F.size("value.groupState.hashes").alias("n_sketch"),
        F.col("value.groupState.overflowed").alias("overflowed"),
        F.array_max("value.groupState.hashes").alias("h_max"),
    )
    return summary.select(
        "source", "n_rows", "n_sketch", _kmv_estimate().alias("n_kmv")
    ).orderBy("source")


def _q207_oracle() -> str:
    from ..operators.dedup import _DUCK_SHINGLES
    from ..operators.sketches import KMV_SKETCH_K, _POW60, _DUCK_KMV_HASH

    K = KMV_SKETCH_K
    return f"""
WITH raw AS (
  SELECT source, unnest({_DUCK_SHINGLES}) AS token FROM documents
),
tok AS (SELECT DISTINCT source, token FROM raw),
h AS (
  SELECT DISTINCT source, {_DUCK_KMV_HASH.format(col='token')} AS h FROM tok
),
nrows AS (SELECT source, COUNT(*) AS n_rows FROM raw GROUP BY source),
exact AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source),
r AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
),
topk AS (SELECT source, MAX(h) AS kth FROM r WHERE rn <= {K} GROUP BY source)
SELECT n.source, n.n_rows,
       LEAST(e.n_exact, {K}) AS n_sketch,
       CASE WHEN e.n_exact <= {K} THEN e.n_exact
            ELSE CAST(ROUND({K - 1} * {_POW60}
                            / CAST(t.kth AS DOUBLE)) AS BIGINT)
       END AS n_kmv
FROM nrows n
JOIN exact e ON e.source = n.source
JOIN topk t ON t.source = n.source
ORDER BY n.source
"""


def q212_pydatasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python DataSource (Spark 4
    ``DataSourceStreamReader``) — the missing half of the pydatasource
    extension surface (batch ``mrtext`` landed round 5): the documents
    parquet streamed as row-index ranges through ``format("docrange")``
    (sources/pystreamsource.py), aggregated per (source, lang) in
    complete mode, drained with availableNow, and hash-checked against
    the plain batch oracle — proving rows that enter through the custom
    offset/partition/read contract are the same rows a batch scan sees.

    Scale shape: offsets are planned driver-side from one parquet
    FOOTER read (no data scan); each micro-batch fans out as
    range/partitionRows executor-side reads that touch only their
    overlapping row groups and materialize only the four needed
    columns. The aggregate state is one row per (source, lang) —
    bounded by the label vocabulary, not the corpus. The rate-limited
    multi-batch walk and the recovery invariant ([a,c) == [a,b) ∪
    [b,c)) are pinned in tests/properties/test_round12_properties.py.

    Reference lineage: the reference's input model is a static file
    list handed out once (rpc.go:219-228); a GROWING input needs this
    offset contract — re-run test-mr.sh vs resume-from-checkpoint."""
    from pyspark.sql import functions as F

    from ..sources.pystreamsource import STREAM_SCHEMA, register_docrange

    register_docrange(spark)
    src = (
        spark.readStream.schema(STREAM_SCHEMA).format("docrange")
        .option("path", f"{sf_dir.rstrip('/')}/documents.parquet")
        .load()
    )
    agged = src.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
        F.min("n_chars").alias("min_chars"),
    )
    return drain(agged).orderBy("source", "lang")


Q212_ORACLE = """
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MAX(doc_id) AS max_doc_id,
       MIN(n_chars) AS min_chars
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


def _q219_run_dirs(sf_dir: str, spark: SparkSession) -> tuple[str, str]:
    """Stable per-(sf-dir, app) checkpoint + output locations: the
    first invocation in a session drains the corpus, later invocations
    recover the checkpoint and catch up with zero new batches
    (foreachBatch supports checkpoint recovery, unlike the memory
    sink), re-reading the same committed files."""
    base = app_scratch_dir(spark, sf_dir, "q219")
    return os.path.join(base, "ckpt"), os.path.join(base, "out")


def q219_foreachbatch_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``foreachBatch`` with a batchId-keyed overwrite — the SINK-side
    exactly-once recipe, completing the story whose SOURCE side q212
    pins: each micro-batch lands at ``out/b<batchId>`` with
    ``mode("overwrite")``, so a crash-before-commit replay (which
    re-delivers the SAME batchId — pinned with the checkpoint-surgery
    chaos drill in tests/properties/test_r13_candidate_probes.py)
    overwrites its own partial output instead of duplicating rows.
    Idempotence comes from the batchId key, not from the sink being
    transactional — the file-sink analog of the reference's
    atomic-rename discipline (worker.go:184-216: temp file +
    os.Rename, duplicate attempts collapse onto one final name).

    The drain streams the documents parquet through the docrange
    source (rowsPerBatch = a third of the footer row count, so the
    walk is ~3 micro-batches and several batchIds land at EVERY scale
    — a fixed row cap would degrade to corpus/cap batches at 100 TB,
    paying the per-batch planning overhead thousands of times;
    progressDir makes the cursor durable), then the query re-reads
    every committed ``b*`` directory
    and aggregates per (source, lang) — hash-checked against the plain
    batch oracle, proving no batch was lost or doubled across the
    batched hand-offs. The walk uses the default micro-batch trigger +
    ``processAllAvailable()`` rather than availableNow: a Python
    DataSource has no SupportsTriggerAvailableNow hook, so availableNow
    degrades to ONE batch per start() for it (measured here: a 500-row
    corpus at rowsPerBatch=400 delivered only 400 rows) — the same
    reason the q212 multi-batch probe drains this way.

    Scale shape: per-batch output is a normal distributed parquet
    write (no driver funnel); the batchId directory key works at any
    executor count, and a real warehouse swaps the directory for a
    transactional table with the batchId as the idempotence key."""
    import glob

    from ..sources.pystreamsource import STREAM_SCHEMA, register_docrange

    import pyarrow.parquet as pq

    register_docrange(spark)
    ckpt, out = _q219_run_dirs(sf_dir, spark)
    os.makedirs(out, exist_ok=True)
    doc_path = f"{sf_dir.rstrip('/')}/documents.parquet"
    # one footer read (no data scan) sizes the rate limit to ~3 batches
    total = pq.ParquetFile(doc_path).metadata.num_rows
    src = (
        spark.readStream.schema(STREAM_SCHEMA).format("docrange")
        .option("path", doc_path)
        .option("rowsPerBatch", str(max(1, (total + 2) // 3)))
        .option("progressDir", ckpt)
        .load()
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"b{batch_id}")
        )

    q = (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    batch_dirs = sorted(glob.glob(os.path.join(out, "b*")))
    if not batch_dirs:
        # Zero-batch drain (empty corpus): parquet() with no paths
        # raises an opaque error — fail with the actual cause instead
        # (ADVICE r13).
        raise RuntimeError(
            f"q219: no committed batch directories under {out!r} — the "
            "docrange drain delivered zero micro-batches"
        )
    # Explicit schema: a b<N> left by an EMPTY micro-batch has no data
    # file to infer from; the declared stream schema reads it as 0 rows.
    written = spark.read.schema(src.schema).parquet(*batch_dirs)
    return (
        written.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("doc_id").alias("n_distinct_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "lang")
    )


Q219_ORACLE = """
SELECT source, lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT doc_id) AS n_distinct_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


# Dedup-key modulus for q236: small enough that every key repeats many
# times across the drain's micro-batches, large enough to exercise
# hundreds of state rows.
Q236_KEY_MOD = 100
# Event-time base (seconds): a query's INITIAL watermark is epoch 0,
# and a row landing exactly ON the watermark is dropped as late — at
# base 0 the k=0 row vanished (observed at registration; pinned in
# test_round16_properties.py). Any base above the delay keeps the whole
# key domain admissible. Shared by the builder, the oracle, and the
# property test so a future change stays one edit.
Q236_TS_BASE = 86400


def q236_watermark_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` in its ORACLE-SAFE regime — the
    streaming sibling of q16/q90's batch dedup (VERDICT r15 item 4):
    the documents parquet streams through the docrange source in ~3
    rate-limited micro-batches, each row keyed ``doc_id % 100``, and
    the operator keeps the first arrival per key while the watermark
    delay (an hour) exceeds the whole event span (100 s) — so state
    never expires mid-stream and the kept-row SET degenerates to
    exactly one row per distinct key, hash-checkable against a plain
    batch DISTINCT oracle.

    Two determinism choices make the hash safe where the general
    operator is not (regime pinned in
    tests/properties/test_r15_candidate_probes.py, promoted to
    tests/properties/test_round16_properties.py):

    * every projected column (k, and the event time itself) is derived
      from the KEY, so whichever duplicate wins a micro-batch race
      yields the identical output row;
    * the delay >= span regime removes the batch-boundary dependence —
      in the general (short-delay) regime the kept-row set depends on
      micro-batch boundaries and watermark progression, which is why
      that regime stays property-checked (per-key gaps > delay), never
      value-hashed.

    The drain uses the default trigger + processAllAvailable (the
    Python-DataSource availableNow trap, q219's note) so the dedup
    state is genuinely exercised ACROSS batches: batch 1 admits every
    key, batches 2-3 are entirely duplicates the state store must
    swallow.

    Scale shape: state is one row per distinct key (bounded by the key
    domain, not the corpus), hash-partitioned by key across the
    stream's shuffle partitions; each micro-batch shuffles only its own
    rows. This is how a 100 TB append-only crawl run deduplicates
    in-flight without a batch backfill — the delay knob bounds state by
    TIME instead of corpus size, and this query pins the regime where
    that bound is lossless.

    Reference lineage: duplicate-completion suppression in the
    coordinator (a finished task re-reported by a rescued worker is
    dropped, /root/reference/src/mr/coordinator.go) — here as a
    key-scoped, watermark-bounded stream operator."""
    from ..sources.pystreamsource import STREAM_SCHEMA, register_docrange

    import pyarrow.parquet as pq

    register_docrange(spark)
    doc_path = f"{sf_dir.rstrip('/')}/documents.parquet"
    total = pq.ParquetFile(doc_path).metadata.num_rows
    src = (
        spark.readStream.schema(STREAM_SCHEMA).format("docrange")
        .option("path", doc_path)
        .option("rowsPerBatch", str(max(1, (total + 2) // 3)))
        .load()
    )
    deduped = (
        src.select(
            (F.col("doc_id") % Q236_KEY_MOD).alias("k"),
        )
        # Q236_TS_BASE: see the constant's comment (initial-watermark
        # late-drop at base 0).
        .withColumn(
            "ets",
            F.expr(
                f"timestamp_micros(CAST(({Q236_TS_BASE} + k) * 1000000"
                " AS BIGINT))"
            ),
        )
        .withWatermark("ets", "3600 seconds")
        .dropDuplicatesWithinWatermark(["k"])
    )
    # JVM state: the 100-key state domain drains into one store.
    return drain(deduped, "append", multi_batch=True).orderBy("k")


Q236_ORACLE = f"""
SELECT DISTINCT CAST(doc_id % {Q236_KEY_MOD} AS BIGINT) AS k,
       make_timestamp(
         CAST(({Q236_TS_BASE} + doc_id % {Q236_KEY_MOD}) * 1000000
              AS BIGINT)) AS ets
FROM documents
ORDER BY k
"""


def _build_queries():
    from ..operators.retrieval import Q93_ORACLE
    from ..operators.textanalysis import Q91_ORACLE
    from ..registry import QuerySpec

    return [
        QuerySpec(
            "q114_streaming_quality_twin",
            q114_streaming_quality_twin,
            Q91_ORACLE,
            "availableNow drain of the Gopher-rule funnel over a "
            "documents file stream (== batch q91)",
            ("streaming", "documents", "curation"),
        ),
        QuerySpec(
            "q130_streaming_bm25_twin",
            q130_streaming_bm25_twin,
            Q93_ORACLE,
            "incremental BM25: tf/dl as streaming aggregates over a "
            "documents file stream, scored like batch q93 (== its oracle)",
            ("streaming", "documents", "retrieval"),
        ),
        QuerySpec(
            "q207_streaming_theta_twin",
            q207_streaming_theta_twin,
            _q207_oracle(),
            "mergeable theta/KMV sketch state in a streaming aggregate "
            "(applyInPandasWithState, O(K) state per source)",
            ("streaming", "documents", "sketch", "approx"),
        ),
        QuerySpec(
            "q212_pydatasource_stream",
            q212_pydatasource_stream,
            Q212_ORACLE,
            "custom streaming Python DataSource (DataSourceStreamReader "
            "offset/partition/read contract), == the batch oracle",
            ("streaming", "documents", "source", "extension"),
        ),
        QuerySpec(
            "q214_statestore_reader",
            q214_statestore_reader,
            _q207_oracle(),
            "offline statestore read of q207's checkpointed sketch state "
            "(== the live drain through the same oracle)",
            ("streaming", "documents", "statestore", "sketch"),
        ),
        QuerySpec(
            "q219_foreachbatch_exactly_once",
            q219_foreachbatch_exactly_once,
            Q219_ORACLE,
            "foreachBatch batchId-keyed overwrite sink: multi-batch "
            "docrange drain re-read from committed files (== the batch "
            "oracle; sink-side exactly-once)",
            ("streaming", "documents", "sink", "exactly-once"),
        ),
        QuerySpec(
            "q236_watermark_dedup_twin",
            q236_watermark_dedup_twin,
            Q236_ORACLE,
            "dropDuplicatesWithinWatermark in the oracle-safe delay >= "
            "span regime: multi-batch drain keeps one key-derived row "
            "per key (== batch DISTINCT oracle)",
            ("streaming", "documents", "dedup", "state"),
        ),
    ]


QUERIES = _build_queries()
