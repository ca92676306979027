"""Deduplication operators over ``documents`` (and ``embeddings``).

North-star family (BASELINE.json:6). Exact dedup is q16 (content-hash
groupBy, operators/text.py). Here: the near-duplicate ladder —

- q24 exact n-gram (3-word shingle) Jaccard: candidates = pairs sharing
  >= 1 shingle (100% recall for J > 0), verified exactly. The
  correctness baseline for the approximate methods.
- q25 MinHash + LSH banding: 8 permutations, 4 bands x 2 rows;
  candidates = pairs colliding in >= 1 band, then exact-Jaccard
  verified. The 100 TB path: cost scales with band-bucket occupancy,
  not O(n^2). (The candidate-generation/verification split follows the
  standard MapReduce all-pair similarity-join literature, e.g.
  V-SMART-Join, VLDB 2012 — re-expressed declaratively so Catalyst
  plans the joins.)
- q26 SimHash: 28-bit weighted fingerprint per document; identical
  fingerprints => near-dup bucket.
- q27 embedding-cosine near-dup: vector-space twin of q24.

Determinism across engines: every hash derives from md5 (identical in
Spark and DuckDB) — token/shingle hash = first 7 hex digits of md5 as
an integer (28 bits, so a*h+b stays far below int64 overflow, which
DuckDB rejects and Spark silently wraps). Permutation constants are
module-level and the DuckDB oracle SQL is *generated from the same
constants*, so both engines run the same algorithm by construction.

Scale notes:
- Every stage shuffles on doc_id, shingle, or band-signature keys; the
  all-pairs step only exists inside a band/shingle bucket. Hot buckets
  (boilerplate shingles) are the skew risk at 100 TB — mitigations:
  drop shingles with document-frequency above a cap (stop-shingles)
  before pairing, and AQE skew-split for the residue. The df-cap knob
  is deliberately absent from the declared (hash-checked) queries to
  keep their semantics exact.
- SimHash is one groupBy(doc) + one groupBy(fingerprint): linear, the
  cheapest near-dup signal; its 28 bit-sums partial-aggregate map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import DUCK_TOKS_EXPR, SPARK_TOKS_EXPR
from ..registry import QuerySpec
from ..sources import load_table

# MinHash permutation constants: h_i(x) = (A[i]*x + B[i]) mod P.
# P = 2^31 - 1 (prime); A,B fixed odd constants < P. 8 perms, 4 bands x 2.
P_MOD = 2147483647
A_CONST = [769, 1237, 2689, 4099, 5881, 7919, 9973, 12007]
B_CONST = [12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869]
N_PERM = 8
N_BANDS = 4  # rows per band = 2
JACCARD_T = 0.5
SIMHASH_BITS = 28
COS_T = 0.4
COS_MAX_ID = 2000

# --- shared shingle/token building blocks -----------------------------------

# The tokenizer MUST be materialized as a column before shingling: if the
# split+filter expression were textually inlined at every `__toks` site,
# the three per-element lambda references would re-run the whole-document
# regexp split once per shingle — O(tokens^2) per document (measured 15 s
# for 260k shingles at sf0.1 vs <1 s materialized).
_SPARK_TOKS = SPARK_TOKS_EXPR

_SPARK_SHINGLES = """
transform(
  CASE WHEN size(toks) >= 3
       THEN sequence(0, size(toks) - 3)
       ELSE array() END,
  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
"""

_DUCK_SHINGLES = """
list_transform(range(1, len(__toks) - 1),
               i -> __toks[i] || ' ' || __toks[i+1] || ' ' || __toks[i+2])
""".replace("__toks", DUCK_TOKS_EXPR)


def _doc_shingles(
    spark: SparkSession,
    sf_dir: str,
    distinct: bool = True,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sh) 3-word shingles per document (distinct by default).

    Pass ``distinct=False`` when the consumer is dedup-insensitive
    (min/collect_set) — that skips a whole shuffle of raw shingle
    strings, the widest data in the pipeline. ``docs`` overrides the
    default table with any (doc_id, text)-shaped frame.
    """
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    # Widen before the tokenizer: the documents parquet is one row
    # group (one scan task), and the regexp split + shingle explode is
    # the widest row-local work in the dedup family — serial in the scan
    # task otherwise (guide §2.5 input skew; r16 optimization round,
    # shared by every shingle consumer). Gated on the planned scan width
    # so a cluster-scale scan with thousands of natural splits skips the
    # exchange (r17; VERDICT r16 item 1).
    from ..functions.partitioning import widen_for_rowlocal

    docs = widen_for_rowlocal(docs.select("doc_id", "text"))
    sh = docs.select("doc_id", F.expr(_SPARK_TOKS).alias("toks")).select(
        "doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("sh")
    )
    return sh.distinct() if distinct else sh


def _doc_shingle_keys(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, k) distinct shingles keyed by xxhash64.

    Internal join/count key only — results stay defined over shingle
    *sets*, so any 64-bit collision-free hash preserves them (collision
    odds ~1e-10 at 100k distinct shingles; the oracle parity gate would
    surface one). Shuffling 8-byte keys instead of ~25-byte strings
    roughly halves the self-join shuffle volume.
    """
    sh = _doc_shingles(spark, sf_dir, distinct=False, docs=docs)
    return sh.select("doc_id", F.xxhash64("sh").alias("k")).distinct()


_DUCK_DOC_SHINGLES = f"""
  SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS sh
  FROM documents
"""


def _hash7(col: Column) -> Column:
    """First 7 md5 hex digits as int64 — identical in DuckDB via
    ('0x' || substr(md5(x),1,7))::BIGINT."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 7), 16, 10).cast(
        "bigint"
    )


_DUCK_HASH7 = "(('0x' || substr(md5({x}), 1, 7))::BIGINT)"

# --- the pair-overlap kernel ----------------------------------------------
#
# Each exact-Jaccard detector (q24, q163, q157, q144, q25, q90, q103,
# q104) is map -> group by key -> reduce: docs that share a key pair up
# in the key's group, and each pair is scored from one overlap frame
# (ad, bd, i, na, nb), ad < bd, where i is the pair's overlap mass and
# na, nb are each doc's own mass (V-SMART-Join's "conjunctive" +
# "unilateral" split). Two producers build the frame: overlap_pairs
# (element self-join) and _verified_overlap (per-candidate
# array_intersect); each detector keeps only its score and threshold.

_BAND_KEY = ["band", "x", "y"]


def _shared_key_pairs(
    rows: DataFrame, on: list[str], weight: str | None = None
) -> DataFrame:
    """(doc_id, *on[, weight]) rows -> one (ad, bd[, weight]) row per
    key value that docs ad < bd share; ``weight`` rides side a only."""
    extra = [weight] if weight else []
    return (
        rows.select(F.col("doc_id").alias("ad"), *on, *extra)
        .join(rows.select(F.col("doc_id").alias("bd"), *on), on)
        .filter(F.col("ad") < F.col("bd"))
    )


def _mass(weight: str | None = None) -> Column:
    return F.sum(weight) if weight else F.count(F.lit(1))


def _doc_masses(elems: DataFrame, weight: str | None = None) -> DataFrame:
    """(doc_id, k[, w]) -> (doc_id, n): each doc's own mass."""
    return elems.groupBy("doc_id").agg(_mass(weight).alias("n"))


def _with_masses(inter: DataFrame, masses: DataFrame) -> DataFrame:
    """(ad, bd, i) + (doc_id, n) -> the overlap frame (ad, bd, i, na, nb)."""
    return (
        inter.join(masses.withColumnsRenamed({"doc_id": "ad", "n": "na"}), "ad")
        .join(masses.withColumnsRenamed({"doc_id": "bd", "n": "nb"}), "bd")
        .select("ad", "bd", "i", "na", "nb")
    )


def overlap_pairs(elems: DataFrame, weight: str | None = None) -> DataFrame:
    """(doc_id, k[, w]) element rows, distinct per doc -> overlap frame.

    i is the count of shared keys, or with ``weight`` the sum of their
    weights; na, nb are the same aggregate over each doc's own rows.
    Each shared key contributes one (ad, bd) join row, so the
    aggregate IS the intersection mass — no separate candidate
    materialization + re-join (that doubled the shuffle volume)."""
    # w must be a function of k alone: only side a's weight is summed.
    inter = (
        _shared_key_pairs(elems, ["k"], weight)
        .groupBy("ad", "bd")
        .agg(_mass(weight).alias("i"))
    )
    return _with_masses(inter, _doc_masses(elems, weight))


def jaccard() -> Column:
    """|A ∩ B| / |A ∪ B| over an overlap frame's (i, na, nb)."""
    return F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))


def _jaccard_pairs(overlap: DataFrame) -> DataFrame:
    """Overlap frame -> (ad, bd, jacc): J >= JACCARD_T, rounded at 2 dp."""
    return (
        overlap.withColumn("j", jaccard())
        .filter(F.col("j") >= JACCARD_T)
        .select("ad", "bd", F.round("j", 2).alias("jacc"))
        .orderBy("ad", "bd")
    )


# --- q24: exact n-gram Jaccard near-dup pairs -------------------------------

def q24_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-semantics declared query: no df-cap, hash-checked."""
    return jaccard_neardup_pairs(spark, sf_dir, max_doc_freq=None)


def jaccard_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_doc_freq: int | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """q24 with the skew knob: drop *stop-shingles* — shingles appearing
    in more than ``max_doc_freq`` documents — before the self-join.

    This is THE mitigation for the quadratic hot-bucket blowup at scale
    (boilerplate headers/footers shared by millions of docs turn one
    shingle bucket into ~n² pairs; SCALE.md "Text / dedup ladder"). The
    trade is explicit: a pair whose overlap lives *only* in dropped
    boilerplate can fall below threshold or vanish — which is usually
    the curation intent (boilerplate overlap is not near-duplication).
    Candidate recall for pairs sharing >= 1 sub-cap shingle is unchanged,
    and surviving pairs keep exact Jaccard over the capped shingle
    universe. Deliberately NOT the declared q24 (whose semantics stay
    cap-free and hash-checked); kept as the documented scale variant.
    ``docs`` overrides the default table with any (doc_id, text) frame.
    """
    # The shingle frame feeds three consumers (two self-join sides +
    # per-doc sizes) and Catalyst's ReuseExchange cannot unify them
    # (aliasing differs) — a lazy localCheckpoint materializes the
    # (doc_id, 8-byte key) frame once on first use and the other two
    # consumers read it back (~1/10 of corpus bytes; measured ~25%
    # faster at sf0.1, and at cluster scale it saves two full explode
    # passes over the corpus).
    sh = _doc_shingle_keys(spark, sf_dir, docs=docs).localCheckpoint(
        eager=False
    )
    if max_doc_freq is not None:
        # document frequency per shingle key; the filter runs before the
        # self-join so hot buckets never materialize pairs. One extra
        # small shuffle (k -> df), paid once, bounds the join output by
        # n_shingles * max_doc_freq² instead of n_shingles * n_docs².
        df_per_key = sh.groupBy("k").agg(F.count(F.lit(1)).alias("df"))
        keep = df_per_key.filter(F.col("df") <= max_doc_freq).select("k")
        sh = sh.join(keep, "k")
    return _jaccard_pairs(overlap_pairs(sh))


# ORDER-BY-free body, exported so composers (training.py q72) can embed
# it as a CTE without string surgery on the ordered text.
Q24_ORACLE_BODY = f"""
WITH s AS ({_DUCK_DOC_SHINGLES}),
cands AS (
  SELECT DISTINCT a.doc_id AS ad, b.doc_id AS bd
  FROM s a JOIN s b USING (sh)
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.ad, c.bd, COUNT(*) AS i
  FROM cands c
  JOIN s a ON a.doc_id = c.ad
  JOIN s b ON b.doc_id = c.bd AND b.sh = a.sh
  GROUP BY c.ad, c.bd
)
SELECT ad, bd, ROUND(CAST(i AS DOUBLE) / (x.n + y.n - i), 2) AS jacc
FROM inter
JOIN sz x ON x.doc_id = ad
JOIN sz y ON y.doc_id = bd
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= {JACCARD_T}
"""

Q24_ORACLE = Q24_ORACLE_BODY + "ORDER BY ad, bd\n"


# --- persisted pair store (VERDICT r5 item 3) --------------------------------
#
# Six registered queries compose on top of the q24 pair frame (q72, q77,
# q107, q109, q118, q127 — plus the q38/q89 cluster pipelines). Inline
# re-derivation is correct, but at production scale the pair table is
# computed ONCE per corpus snapshot and every consumer reads the stored
# copy — the same amortization the reference gets from reusing its
# mr-<m>-<r> intermediate files across reducers (coordinator.go:17-24),
# and the posture q90's MinHash store already demonstrates for the
# incremental path. The table is bucketed+sorted on `ad`, so stored-side
# probes and per-ad aggregations need ZERO Exchange (pinned in
# tests/test_pair_store.py). Consumers take ``pairs=`` and default to
# the inline detector, so the driver contract and every oracle are
# unchanged.

PAIR_STORE_TABLE = "pair_store.neardup_pairs"
PAIR_STORE_BUCKETS = 16


def _corpus_tag(sf_dir: str) -> str:
    """Table-name suffix for a corpus: the sf_dir basename, so a store
    built at one scale factor can never serve a query running at
    another (the driver checks sf0.01 while bench runs sf0.1 in the
    same warehouse)."""
    import re

    return re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])


def default_pair_store_table(sf_dir: str) -> str:
    """Per-corpus default store name (see :func:`_corpus_tag`)."""
    return f"pair_store.neardup_pairs_{_corpus_tag(sf_dir)}"


def _corpus_fingerprint(sf_dir: str) -> str:
    """Freshness token for the documents corpus the pair store derives
    from. The mechanism (nanosecond-mtime stat token, ADVICE r7) lives
    in :func:`sinks.dataset_fingerprint` since r15 — ONE implementation
    keeps the pair store's and the distinct-rollup store's freshness
    semantics from drifting; this wrapper only pins the table."""
    from ..sinks import dataset_fingerprint

    return dataset_fingerprint(sf_dir, "documents")


# Sidecar name, table-location and default-path helpers all live in
# the shared store machinery (sinks.FP_SIDECAR / table_location /
# default_store_path) since r15 — the pair store keeps no local copies.


def write_pair_store(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str | None = None,
    buckets: int = PAIR_STORE_BUCKETS,
    location: str | None = None,
) -> str:
    """Materialize the canonical q24 pair frame once, bucketed on ``ad``.

    The one-time write pays q24's shuffles; afterwards every consumer
    join/aggregate keyed on ``ad`` reads pre-partitioned buckets. Returns
    the table name for :func:`read_pair_store` / ``pairs=`` hooks.
    ``table`` defaults to the per-corpus name; once written, every
    ``pairs=None`` consumer for the same ``sf_dir`` resolves to it
    automatically (see :func:`resolve_pairs`).

    ``table`` must be database-qualified: with a bare name the CREATE
    DATABASE below would make a database named after the table while
    ``saveAsTable`` wrote into the CURRENT database — silently dropping
    the ``location`` request.
    """
    from ..sinks import materialize_bucketed_store

    if table is None:
        table = default_pair_store_table(sf_dir)
    # The catalog-amnesia orphan clearing, db-qualification contract and
    # sidecar warn-fallback all live in the shared store machinery
    # (sinks.materialize_bucketed_store) since r15 — one implementation
    # for the pair store and the distinct rollup.
    return materialize_bucketed_store(
        spark,
        q24_ngram_jaccard_dedup(spark, sf_dir),
        table,
        buckets=buckets,
        bucket_cols=("ad",),
        sort_cols=("ad", "bd"),
        fingerprint=_corpus_fingerprint(sf_dir),
        location=location,
    )


def read_pair_store(spark: SparkSession, table: str = PAIR_STORE_TABLE) -> DataFrame:
    return spark.table(table)


def _stored_pairs_if_fresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame | None:
    """The per-corpus store, iff it exists AND its sidecar corpus
    fingerprint still matches the parquet on disk; None otherwise.
    Two rungs: the catalog table (same session / real metastore —
    keeps bucket metadata, so per-`ad` consumers stay shuffle-free),
    else the bare parquet path (fresh local session — bucket info is
    lost but the q24 recompute is still saved). The rung logic is the
    shared store machinery (sinks.stored_table_if_fresh)."""
    from ..sinks import stored_table_if_fresh

    return stored_table_if_fresh(
        spark, default_pair_store_table(sf_dir), _corpus_fingerprint(sf_dir)
    )


def resolve_pairs(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None
) -> DataFrame:
    """``pairs=`` hook shared by every pair-frame consumer, in priority
    order: a caller-provided frame; else the persisted per-corpus
    bucketed store when present AND fresh (VERDICT r6 item 5 — at
    production scale the pair table is computed once per corpus
    snapshot and every composition reads it); else the inline q24
    detector. The store round-trips q24's exact rows (pinned in
    tests/test_pair_store.py), so which branch serves is invisible to
    results — only to the plan. Schema contract: (ad, bd, jacc)."""
    if pairs is not None:
        return pairs
    stored = _stored_pairs_if_fresh(spark, sf_dir)
    if stored is not None:
        return stored
    return q24_ngram_jaccard_dedup(spark, sf_dir)

# --- q25: MinHash + LSH banding ---------------------------------------------

def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """Raw shingle stream -> (doc_id, s0..s{N_PERM-1}) MinHash signature.
    min() is dedup-insensitive, so signatures come straight from the
    non-distinct stream — no distinct shuffle."""
    h = _hash7(F.col("sh"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(A_CONST[i]) * h + F.lit(B_CONST[i])) % F.lit(P_MOD)).alias(
                f"s{i}"
            )
            for i in range(N_PERM)
        ]
    )


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """MinHash signatures -> one (doc_id, band, x, y) row per LSH band."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.col(f"s{2 * j}").alias("x"),
                        F.col(f"s{2 * j + 1}").alias("y"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.x", "b.y")


def _band_pairs(bands: DataFrame) -> DataFrame:
    """(ad, bd) for every LSH band bucket two docs share, one row per
    shared band (callers dedupe)."""
    return _shared_key_pairs(bands, _BAND_KEY).select("ad", "bd")


def _hashed_shingle_sets(sh: DataFrame) -> DataFrame:
    """Raw shingle stream -> (doc_id, shs) hashed shingle sets — 8 B per
    shingle, not raw strings; collect_set dedupes, so no distinct
    shuffle."""
    return (
        sh.select("doc_id", F.xxhash64("sh").alias("k"))
        .groupBy("doc_id")
        .agg(F.collect_set("k").alias("shs"))
    )


def _verified_overlap(cands: DataFrame, sets: DataFrame) -> DataFrame:
    """Candidate (ad, bd) pairs + (doc_id, shs) hashed shingle sets ->
    overlap frame. One array_intersect per pair (codegen) instead of
    re-joining the exploded shingle table: candidate count bounds the
    work, and the set frame is small enough to hash-join (AQE
    broadcasts when it fits)."""
    return (
        cands.join(
            sets.select(F.col("doc_id").alias("ad"), F.col("shs").alias("sa")), "ad"
        )
        .join(
            sets.select(F.col("doc_id").alias("bd"), F.col("shs").alias("sb")), "bd"
        )
        .withColumn("i", F.size(F.array_intersect("sa", "sb")))
        .withColumn("na", F.size("sa"))
        .withColumn("nb", F.size("sb"))
    )


def _verify_band_candidates(cands: DataFrame, sets: DataFrame) -> DataFrame:
    """Candidate (ad, bd) pairs + hashed shingle sets -> exact-Jaccard
    verified, thresholded, rounded pairs."""
    # Repartition the candidate stream: AQE sizes post-shuffle
    # partitions by shuffle BYTES, and candidate pairs compress to a
    # few MB while each row costs an array_intersect — without this the
    # verify ran on 3 tasks (measured ~3 s serialized at sf0.1 on
    # q104's 310k candidates; guide §2.5 task-granularity skew).
    # Deliberately NOT gated by widen_for_rowlocal (r17): cands is a
    # post-shuffle frame whose STATIC planned width is the session
    # shuffle setting — the very number AQE then coalesces below — so a
    # planned-width gate would always skip exactly where the fix is
    # needed. The exchange ships two longs per candidate; at any scale
    # defaultParallelism(= total cores) is the right width for this
    # compute-bound stage.
    nparts = cands.sparkSession.sparkContext.defaultParallelism
    return _jaccard_pairs(_verified_overlap(cands.repartition(nparts), sets))


def q25_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir, distinct=False)
    cands = _band_pairs(_minhash_bands(_minhash_sigs(sh))).distinct()
    return _verify_band_candidates(cands, _hashed_shingle_sets(sh))


_DUCK_SIG_COLS = ",\n         ".join(
    f"MIN(({A_CONST[i]} * {_DUCK_HASH7.format(x='sh')} + {B_CONST[i]}) % {P_MOD}) AS s{i}"
    for i in range(N_PERM)
)
_DUCK_BAND_ROWS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {j} AS band, s{2 * j} AS x, s{2 * j + 1} AS y FROM sigs"
    for j in range(N_BANDS)
)

# Core shared by Q25 (full corpus) and Q90 (incremental): candidate
# generation + exact verification; consumers append their final
# predicate / ORDER BY structurally (no string surgery).
_Q25_ORACLE_CORE = f"""
WITH s AS ({_DUCK_DOC_SHINGLES}),
sigs AS (
  SELECT doc_id,
         {_DUCK_SIG_COLS}
  FROM s GROUP BY doc_id
),
bands AS (
{_DUCK_BAND_ROWS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS ad, b.doc_id AS bd
  FROM bands a JOIN bands b USING (band, x, y)
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.ad, c.bd, COUNT(*) AS i
  FROM cands c
  JOIN s a ON a.doc_id = c.ad
  JOIN s b ON b.doc_id = c.bd AND b.sh = a.sh
  GROUP BY c.ad, c.bd
)
SELECT ad, bd, ROUND(CAST(i AS DOUBLE) / (x.n + y.n - i), 2) AS jacc
FROM inter
JOIN sz x ON x.doc_id = ad
JOIN sz y ON y.doc_id = bd
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= {JACCARD_T}
"""

Q25_ORACLE = _Q25_ORACLE_CORE + "ORDER BY ad, bd\n"

# --- q26: SimHash fingerprints ----------------------------------------------

def q26_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(F.split("text", "[^a-zA-Z]+"), lambda x: x != "")
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    h = _hash7(F.col("token"))
    bit_sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
                .otherwise(-F.col("cnt"))
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fingerprint = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return (
        bit_sums.select("doc_id", fingerprint.cast("bigint").alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keeper"))
        .orderBy("simhash")
    )


_DUCK_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (({_DUCK_HASH7.format(x='token')} >> {i}) & 1) = 1"
    f" THEN cnt ELSE -cnt END) AS b{i}"
    for i in range(SIMHASH_BITS)
)
_DUCK_FP = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)

Q26_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                  x -> x <> '')) AS token
        FROM documents)
  GROUP BY doc_id, token
),
bits AS (
  SELECT doc_id,
         {_DUCK_BIT_SUMS}
  FROM tf GROUP BY doc_id
)
SELECT CAST({_DUCK_FP} AS BIGINT) AS simhash,
       COUNT(*) AS c, MIN(doc_id) AS keeper
FROM bits
GROUP BY 1
ORDER BY simhash
"""

# --- q27: embedding-cosine near-dup pairs -----------------------------------

N_COS_BLOCKS = 16  # block-matmul grid CAP; each vector replicated N+1 times


def _cos_grid_blocks(spark: SparkSession) -> int:
    """Block count for the q27 grid, derived from the session's
    parallelism (r17; guide §1.2 step 3 after the shape was right):
    the smallest N whose N*(N+1)/2 block pairs cover the cores, capped
    at N_COS_BLOCKS. The result set is N-invariant (every unordered
    vector pair meets in exactly ONE block pair and the float math per
    pair is identical), so N tunes only task granularity: at local[32]
    N=8 → 36 groups (measured 1.6 → 0.9 s: fewer Python-worker
    invocations, each a bigger numpy matmul, and a (N+1)x → 9x smaller
    replicated shuffle); a 1000-core cluster drives N up to the cap,
    keeping every task's matmul bounded (the docstring's 100 TB
    argument unchanged)."""
    import math

    par = spark.sparkContext.defaultParallelism
    n = math.ceil((math.sqrt(8.0 * par + 1.0) - 1.0) / 2.0)
    return max(4, min(N_COS_BLOCKS, n))


def q27_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine as a distributed block-matrix multiply.

    Vectors are bucketed into N blocks; each of the N*(N+1)/2 block pairs
    is one ``applyInPandas`` group computing a single float64 numpy
    matmul — the pair space never materializes as Spark rows, only the
    thresholded survivors do. Replication factor is N+1 per vector (tiny
    vs the O(n^2/N^2)-per-task pair work), and the grid keeps every task
    bounded regardless of total n, so the same plan holds at 100 TB with
    N scaled to the cluster. Semantics match the DuckDB oracle:
    cos = dot/(|a||b|) in float64, HALF_UP-rounded to 2 before the
    threshold (np.floor(x*100+0.5)/100 == Spark/DuckDB ROUND for the
    positive survivors).
    """
    import numpy as np
    import pandas as pd

    n_blocks = _cos_grid_blocks(spark)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < COS_MAX_ID)
        .select(
            "vec_id",
            "embedding",
            (F.col("vec_id") % n_blocks).cast("int").alias("blk"),
        )
    )
    # literal JVM-side relation (no Python->RDD round trip)
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ba"), F.lit(j).alias("bb"))
                    for i in range(n_blocks)
                    for j in range(i, n_blocks)
                ]
            )
        ).alias("g")
    ).select("g.*")
    a_side = emb.join(F.broadcast(grid), emb.blk == grid.ba).select(
        "ba", "bb", F.lit(True).alias("is_a"), "vec_id", "embedding"
    )
    b_side = emb.join(F.broadcast(grid), emb.blk == grid.bb).select(
        "ba", "bb", F.lit(False).alias("is_a"), "vec_id", "embedding"
    )

    def block_cosine(pdf: pd.DataFrame) -> pd.DataFrame:
        am, bm = pdf[pdf.is_a], pdf[~pdf.is_a]
        if am.empty or bm.empty:
            return pd.DataFrame(
                {
                    "ad": pd.Series(dtype="int64"),
                    "bd": pd.Series(dtype="int64"),
                    "cos": pd.Series(dtype="float64"),
                }
            )
        A = np.vstack(am.embedding.to_numpy()).astype(np.float64)
        B = np.vstack(bm.embedding.to_numpy()).astype(np.float64)
        C = (A @ B.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
        )
        Cr = np.floor(C * 100.0 + 0.5) / 100.0  # HALF_UP, positives only kept
        ai = am.vec_id.to_numpy()
        bi = bm.vec_id.to_numpy()
        ii, jj = np.nonzero(Cr >= COS_T)
        ad, bd = ai[ii], bi[jj]
        if int(pdf.ba.iat[0]) == int(pdf.bb.iat[0]):
            keep = ad < bd  # same block on both sides: drop self + mirror
            ad, bd, cos = ad[keep], bd[keep], Cr[ii, jj][keep]
        else:
            cos = Cr[ii, jj]
            ad, bd = np.minimum(ad, bd), np.maximum(ad, bd)
        return pd.DataFrame({"ad": ad, "bd": bd, "cos": cos})

    return (
        a_side.unionByName(b_side)
        .groupBy("ba", "bb")
        .applyInPandas(block_cosine, "ad bigint, bd bigint, cos double")
        .orderBy("ad", "bd")
    )


_DUCK_COS = """
ROUND(
  list_sum(list_transform(range(1, len(a.embedding) + 1),
    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
  / (SQRT(list_sum(list_transform(range(1, len(a.embedding) + 1),
       i -> CAST(a.embedding[i] AS DOUBLE) ** 2)))
     * SQRT(list_sum(list_transform(range(1, len(b.embedding) + 1),
       i -> CAST(b.embedding[i] AS DOUBLE) ** 2)))), 2)
"""

Q27_ORACLE = f"""
SELECT a.vec_id AS ad, b.vec_id AS bd, {_DUCK_COS} AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND a.vec_id < {COS_MAX_ID} AND b.vec_id < {COS_MAX_ID}
  AND {_DUCK_COS} >= {COS_T}
ORDER BY ad, bd
"""

# --- q57: edit-distance fuzzy pairs ------------------------------------------

LEV_MAX = 4  # report pairs within this edit distance
LEV_KEY_CAP = 150  # bound the candidate block for the hash-checked demo


def q57_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level fuzzy matching: part-name pairs within a small edit
    distance — the string-similarity rung of the dedup ladder below
    shingle Jaccard (q24 catches rewordings; this catches misspellings).

    The demo blocks on a bounded key range and length difference
    (|len(a)-len(b)| <= LEV_MAX is a free lower bound on edit distance,
    pushed before the quadratic compare). At 100 TB the same operator
    runs behind a real blocking key (q-gram or phonetic bucket) exactly
    like q24's LSH banding — never as an open cross join."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < LEV_KEY_CAP)
        .select("p_partkey", "p_name")
    )
    a = part.select(
        F.col("p_partkey").alias("ak"), F.col("p_name").alias("an")
    )
    b = part.select(
        F.col("p_partkey").alias("bk"), F.col("p_name").alias("bn")
    )
    return (
        a.join(b, F.col("ak") < F.col("bk"))
        .filter(
            F.abs(F.length("an") - F.length("bn")) <= LEV_MAX
        )
        .select(
            "ak",
            "bk",
            F.levenshtein("an", "bn").alias("dist"),
        )
        .filter(F.col("dist") <= LEV_MAX)
        .orderBy("ak", "bk")
    )


Q57_ORACLE = f"""
SELECT a.p_partkey AS ak, b.p_partkey AS bk,
       levenshtein(a.p_name, b.p_name) AS dist
FROM part a JOIN part b ON a.p_partkey < b.p_partkey
WHERE a.p_partkey < {LEV_KEY_CAP} AND b.p_partkey < {LEV_KEY_CAP}
  AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= {LEV_MAX}
  AND levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
ORDER BY ak, bk
"""

# --- q57 scale path: q-gram prefix-filter blocking ---------------------------

QGRAM_Q = 2  # q-gram width for the blocking signature


def fuzzy_pairs_blocked(
    spark: SparkSession,
    sf_dir: str,
    key_cap: int | None = LEV_KEY_CAP,
    q: int = QGRAM_Q,
    k: int = LEV_MAX,
) -> DataFrame:
    """Edit-distance pairs via q-gram prefix filtering — the 100 TB
    variant of :func:`q57_fuzzy_name_pairs` with no nested-loop join
    anywhere (the AllPairs / ED-Join blocking family).

    Soundness: ed(a,b) <= k implies the q-gram *multisets* share at
    least max(|Ga|,|Gb|) - k*q elements (Gravano et al. count filter),
    so under any fixed global element order a qualifying pair shares an
    element inside both prefixes of length k*q+1 — candidate generation
    is an equi-join on prefix elements, verification is levenshtein on
    the candidates only. Multiset elements are (gram, occurrence#) so
    duplicate grams count separately; the global order is a hash, which
    any consistent tie-broken order satisfies (rarity order would merely
    shrink candidates further).

    The guarantee needs the *longer* string of a pair to have at least
    q*(k+1) chars (else the count bound is vacuous); strings below that
    also emit two length-band elements (band width k+1, bands b and
    b+1), which by pigeonhole cover every both-short pair. Completeness
    therefore holds for ALL lengths, not just long names.

    Scale: explode is map-side; the two windows and the candidate join
    hash-partition on (key, gram) / element — cost tracks bucket
    occupancy like q24's LSH banding, never |parts|^2.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    if key_cap is not None:
        part = part.filter(F.col("p_partkey") < key_cap)
    return fuzzy_blocked_pairs_frame(part, q=q, k=k)


def fuzzy_blocked_pairs_frame(
    part: DataFrame, q: int = QGRAM_Q, k: int = LEV_MAX
) -> DataFrame:
    """Core of :func:`fuzzy_pairs_blocked` over any (p_partkey, p_name)
    frame — separable so the short-string length-band path (which the
    part corpus never exercises: every p_name is long) is unit-testable
    on synthetic names."""
    prefix_len = k * q + 1
    min_long = q * (k + 1)  # count-filter guarantee threshold
    band_w = k + 1

    # strings shorter than q contribute no grams (guard needed: Spark's
    # sequence(1, 0) DESCENDS, which would fabricate bogus grams); they
    # are still paired via the length-band elements below.
    grams = part.filter(F.length("p_name") >= q).select(
        "p_partkey",
        F.length("p_name").alias("len"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(p_name) - {q} + 1),"
                f" i -> substring(p_name, i, {q}))"
            )
        ).alias("pos", "gram"),
    )
    occ_w = Window.partitionBy("p_partkey", "gram").orderBy("pos")
    elems = grams.withColumn("occ", F.row_number().over(occ_w)).select(
        "p_partkey",
        "len",
        F.concat_ws("#", "gram", F.col("occ").cast("string")).alias("elem"),
    )
    pfx_w = Window.partitionBy("p_partkey").orderBy(
        F.xxhash64("elem"), "elem"
    )
    sig = (
        elems.withColumn("rn", F.row_number().over(pfx_w))
        .filter(F.col("rn") <= prefix_len)
        .select("p_partkey", "len", "elem")
    )
    short_bands = (
        part.select("p_partkey", F.length("p_name").alias("len"))
        .filter(F.col("len") < min_long)
        .select(
            "p_partkey",
            "len",
            F.explode(
                F.array(
                    F.floor(F.col("len") / band_w),
                    F.floor(F.col("len") / band_w) + 1,
                )
            ).alias("band"),
        )
        .select(
            "p_partkey", "len", F.concat(F.lit("LEN:"), "band").alias("elem")
        )
    )
    sig = sig.unionByName(short_bands)

    a = sig.select(
        F.col("p_partkey").alias("ak"), F.col("len").alias("la"), "elem"
    )
    b = sig.select(
        F.col("p_partkey").alias("bk"), F.col("len").alias("lb"), "elem"
    )
    cand = (
        a.join(b, "elem")
        .filter(
            (F.col("ak") < F.col("bk"))
            & (F.abs(F.col("la") - F.col("lb")) <= k)
        )
        .select("ak", "bk")
        .distinct()
    )
    an = part.select(F.col("p_partkey").alias("ak"), F.col("p_name").alias("an"))
    bn = part.select(F.col("p_partkey").alias("bk"), F.col("p_name").alias("bn"))
    return (
        cand.join(an, "ak")
        .join(bn, "bk")
        .select("ak", "bk", F.levenshtein("an", "bn").alias("dist"))
        .filter(F.col("dist") <= k)
        .orderBy("ak", "bk")
    )


def q57_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_pairs_blocked(spark, sf_dir)


# --- q77: cross-source duplication matrix ------------------------------------

def q77_source_dup_matrix(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """WHERE duplication comes from: near-dup pair counts aggregated by
    (source_a, source_b) — the audit every multi-crawl corpus runs to
    find which feeds re-serve each other's content. Canonical ordering
    (least/greatest) folds the matrix to upper-triangular.

    Pure composition: q24's pair frame + two joins against the
    doc->source map; the pair detector is swappable for the LSH
    candidates at 100 TB exactly like q72, and ``pairs=`` accepts the
    persisted bucketed store (:func:`write_pair_store`)."""
    pairs = resolve_pairs(spark, sf_dir, pairs)
    # doc_id -> source is 2 narrow columns but O(n_docs) rows, so the
    # broadcast decision is left to AQE's size estimate: under the
    # autoBroadcastJoinThreshold it broadcasts (pair frame never
    # re-shuffles); past it — e.g. billions of docs at 100 TB — AQE
    # falls back to a shuffled hash join instead of OOMing the driver
    # on a forced hint.
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.withColumnsRenamed({"doc_id": "ad", "source": "sa"})
    sb = src.withColumnsRenamed({"doc_id": "bd", "source": "sb"})
    return (
        pairs.join(sa, "ad")
        .join(sb, "bd")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jacc"), 2).alias("avg_jacc"),
        )
        .orderBy("source_a", "source_b")
    )


Q77_ORACLE = f"""
WITH pairs AS ({Q24_ORACLE_BODY})
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs,
       ROUND(AVG(jacc), 2) AS avg_jacc
FROM pairs p
JOIN documents da ON da.doc_id = p.ad
JOIN documents db ON db.doc_id = p.bd
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""

# --- q78: per-document shingle novelty ---------------------------------------

def q78_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty scoring for dedup-aware sampling: the fraction of a
    document's shingles whose FIRST appearance (lowest doc_id) is this
    document. Boilerplate-heavy late documents score near 0; the
    curation policy "sample novel content first" keys on exactly this.

    Two linear shuffles (groupBy shingle for first-owner, groupBy doc
    for the ratio) + one keyed join — no pair materialization at all,
    so it scales where even LSH pairing is too expensive; both
    aggregations partial-aggregate map-side."""
    # Same shared-consumer shape as jaccard_neardup_pairs: the shingle
    # frame feeds both the first-owner aggregate and the join side, and
    # the partial-agg exchange differs from the join's so ReuseExchange
    # can't unify them — checkpoint once, explode once.
    sh = _doc_shingle_keys(spark, sf_dir).localCheckpoint(eager=False)
    own = sh.groupBy("k").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(own, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("bigint")
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 4)
        )
        .orderBy("doc_id")
    )


Q78_ORACLE = f"""
WITH s AS ({_DUCK_DOC_SHINGLES}),
own AS (SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS novelty
FROM s JOIN own o USING (sh)
GROUP BY s.doc_id
ORDER BY doc_id
"""


# --- q90 / q144: incremental dedup against a stored corpus -----------------

# The delta split is part of the declared semantics (and the oracle):
# docs with doc_id % INC_MOD == INC_REM are "new this crawl".
INC_MOD = 10
INC_REM = 7
CRAWL_STORE_BUCKETS = 8


def _crawl_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(stored, new) documents: the corpus minus this crawl's docs, and
    this crawl's docs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_delta = F.col("doc_id") % INC_MOD == INC_REM
    return docs.filter(~is_delta), docs.filter(is_delta)


def _write_crawl_stores(
    spark: SparkSession, sf_dir: str, stores: list[tuple[str, DataFrame, list[str]]]
) -> tuple[str, ...]:
    """Write each (name, frame, bucket_cols) as the per-corpus bucketed
    table ``crawl_store.<name>_<corpus>`` and return the table names.
    Overwrite + orphan clearing (sinks.materialize_bucketed_store): a
    rebuild replaces the previous store, a failed one leaves nothing
    the next build does not overwrite."""
    from concurrent.futures import ThreadPoolExecutor

    from ..sinks import materialize_bucketed_store

    # The writes are independent jobs over the same checkpointed frame —
    # submit them together so the second back-fills the first's task
    # tail instead of waiting for it (guide §2.6 overlap independent
    # jobs). Each write owns its table.
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                materialize_bucketed_store,
                spark,
                df,
                f"crawl_store.{name}_{_corpus_tag(sf_dir)}",
                buckets=CRAWL_STORE_BUCKETS,
                bucket_cols=tuple(cols),
            )
            for name, df, cols in stores
        ]
        return tuple(f.result() for f in futs)


def _delta_pairs(new: DataFrame, stored: DataFrame, on: list[str]) -> DataFrame:
    """(ad, bd), ad < bd, one row per key value in ``on`` that a new doc
    shares with a stored doc or with another new doc: exactly the rows
    of the full-corpus self-join that touch a new doc. The stored side
    arrives bucketed on ``on``, so only the new side exchanges."""
    cross = (
        new.select(F.col("doc_id").alias("nd"), *on)
        .join(stored.select(F.col("doc_id").alias("sd"), *on), on)
        .select(F.least("nd", "sd").alias("ad"), F.greatest("nd", "sd").alias("bd"))
    )
    return cross.unionByName(_shared_key_pairs(new, on).select("ad", "bd"))


def minhash_store_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the MinHash fingerprint store of the stored corpus: band
    rows bucketed by the LSH bucket key and hashed shingle sets bucketed
    by doc_id. The write shuffles ONCE; every later probe join reads the
    stored side with NO Exchange (pinned in tests/test_bucketing.py) —
    the append-only-crawl amortization story at 100 TB, where
    recomputing (or reshuffling) the corpus fingerprints per crawl is
    the thing you cannot afford. Returns (bands_table, sets_table)."""
    # sh feeds BOTH table writes — EAGER checkpoint so the tokenizer +
    # shingle explode runs once up front (the q166/q182 rule), and the
    # two writes start from materialized blocks.
    sh = _doc_shingles(
        spark, sf_dir, distinct=False, docs=_crawl_split(spark, sf_dir)[0]
    ).localCheckpoint()
    return _write_crawl_stores(
        spark,
        sf_dir,
        [
            ("mh_bands", _minhash_bands(_minhash_sigs(sh)), _BAND_KEY),
            ("mh_sets", _hashed_shingle_sets(sh), ["doc_id"]),
        ],
    )


def q90_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only-crawl dedup: the corpus minus this crawl's docs
    (doc_id % 10 == 7) is fingerprinted into a bucketed store, then only
    the new docs are probed against it: candidates = (new x stored)
    band-bucket collisions + (new x new) self-collisions; verification
    reads stored shingle sets. Hash-checked against the full-corpus q25
    recompute restricted to pairs touching a new doc — the incremental
    path must find EXACTLY what the batch path finds.

    Scale shape: per crawl, cost is O(delta fingerprints + collisions);
    the big stored table is never shuffled."""
    bands_tbl, sets_tbl = minhash_store_tables(spark, sf_dir)
    sh_new = _doc_shingles(
        spark, sf_dir, distinct=False, docs=_crawl_split(spark, sf_dir)[1]
    )
    new_bands = _minhash_bands(_minhash_sigs(sh_new))
    cands = _delta_pairs(new_bands, spark.table(bands_tbl), _BAND_KEY).distinct()
    all_sets = spark.table(sets_tbl).unionByName(_hashed_shingle_sets(sh_new))
    return _verify_band_candidates(cands, all_sets)


Q90_ORACLE = (
    _Q25_ORACLE_CORE
    + f"  AND (ad % {INC_MOD} = {INC_REM} OR bd % {INC_MOD} = {INC_REM})\n"
    + "ORDER BY ad, bd\n"
)


def shingle_store_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The exact detector's analog of :func:`minhash_store_tables`:
    hashed shingle keys bucketed by ``k`` (the probe key — a new crawl
    joins on it with the stored side shuffle-free) plus per-doc set
    sizes bucketed by doc_id (the Jaccard denominator, one row per
    doc). Returns (shingles_table, sizes_table)."""
    # EAGER checkpoint: minhash_store_tables' rationale.
    sh = _doc_shingle_keys(
        spark, sf_dir, docs=_crawl_split(spark, sf_dir)[0]
    ).localCheckpoint()
    return _write_crawl_stores(
        spark,
        sf_dir,
        [("shingle_keys", sh, ["k"]), ("shingle_sizes", _doc_masses(sh), ["doc_id"])],
    )


def q144_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only crawl for the EXACT detector: the corpus minus this
    crawl's docs (q90's declared delta) is shingled into a bucketed
    store, then only the new docs are probed against it: overlap rows =
    (new x stored) shingles on the bucketed key + the (new x new)
    self-join; sizes = stored sizes ∪ delta sizes. Hash-checked against
    the full-corpus q24 recompute restricted to pairs touching a new
    doc. Together with q90 this closes the incremental story for both
    rungs of the dedup ladder (approximate LSH and exact Jaccard).

    Scale shape: per crawl, O(delta shingles + shared-key collisions);
    only the delta side and the (candidate-pair-sized) intersection
    aggregate exchange."""
    sh_tbl, sz_tbl = shingle_store_tables(spark, sf_dir)
    sh_new = _doc_shingle_keys(
        spark, sf_dir, docs=_crawl_split(spark, sf_dir)[1]
    ).localCheckpoint(eager=False)
    inter = (
        _delta_pairs(sh_new, spark.table(sh_tbl), ["k"])
        .groupBy("ad", "bd")
        .agg(_mass().alias("i"))
    )
    masses = spark.table(sz_tbl).unionByName(_doc_masses(sh_new))
    return _jaccard_pairs(_with_masses(inter, masses))


Q144_ORACLE = (
    Q24_ORACLE_BODY
    + f"  AND (ad % {INC_MOD} = {INC_REM} OR bd % {INC_MOD} = {INC_REM})\n"
    + "ORDER BY ad, bd\n"
)


def q103_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    the signature-agreement estimate of Jaccard (#matching permutation
    minima / N_PERM) next to the exact shingle-set Jaccard — the audit
    that justifies the (N_PERM, N_BANDS) operating point before anyone
    trusts the approximate pipeline at 100 TB (est_j's banding recall
    and its error against truth ARE the dedup quality bar).

    No threshold — calibration wants the misses too."""
    sh = _doc_shingles(spark, sf_dir, distinct=False)
    sigs = _minhash_sigs(sh).localCheckpoint(eager=False)
    cands = _band_pairs(_minhash_bands(sigs)).distinct()
    sa = sigs.select(
        F.col("doc_id").alias("ad"), *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_PERM)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("bd"), *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_PERM)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_PERM)
    )
    exact = _verified_overlap(cands, _hashed_shingle_sets(sh)).select(
        "ad", "bd", jaccard().alias("exact_raw")
    )
    return (
        exact.join(sa, "ad")
        .join(sb, "bd")
        .select(
            "ad",
            "bd",
            F.round(agree / F.lit(float(N_PERM)), 3).alias("est_j"),
            F.round("exact_raw", 3).alias("exact_j"),
        )
        .orderBy("ad", "bd")
    )


_DUCK_AGREE = " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(N_PERM)
)

Q103_ORACLE = f"""
WITH s AS ({_DUCK_DOC_SHINGLES}),
sigs AS (
  SELECT doc_id,
         {_DUCK_SIG_COLS}
  FROM s GROUP BY doc_id
),
bands AS (
{_DUCK_BAND_ROWS}
),
cands AS (
  SELECT DISTINCT a.doc_id AS ad, b.doc_id AS bd
  FROM bands a JOIN bands b USING (band, x, y)
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(DISTINCT sh) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.ad, c.bd, COUNT(DISTINCT a.sh) AS i
  FROM cands c
  JOIN s a ON a.doc_id = c.ad
  JOIN s b ON b.doc_id = c.bd AND b.sh = a.sh
  GROUP BY c.ad, c.bd
)
SELECT c.ad, c.bd,
       ROUND(({_DUCK_AGREE}) / {float(N_PERM)}, 3) AS est_j,
       ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (x.n + y.n - COALESCE(i.i, 0)), 3) AS exact_j
FROM cands c
JOIN sigs a ON a.doc_id = c.ad
JOIN sigs b ON b.doc_id = c.bd
JOIN sz x ON x.doc_id = c.ad
JOIN sz y ON y.doc_id = c.bd
LEFT JOIN inter i ON i.ad = c.ad AND i.bd = c.bd
ORDER BY c.ad, c.bd
"""


def q104_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q24's exact Jaccard pairs via AllPairs/PPJoin prefix filtering
    (Bayardo et al. 2007; Xiao et al. 2008) — the THIRD dedup-join
    family beside the full shingle self-join (q24) and LSH banding
    (q25): exact results, but candidates come only from each document's
    rarity-ordered shingle PREFIX (the first n - ceil(t*n) + 1 shingles
    under a global df-ascending order). Two sets with J >= t must share
    a prefix element, so completeness is guaranteed — and the parity
    gate proves it by matching q24's oracle byte-for-byte.

    Scale shape: the prefix keeps only the RAREST ~(1-t) fraction of
    each doc's shingles as join keys, so blocking groups are tiny by
    construction (rare = few docs) — boilerplate shingles with huge df
    land OUTSIDE prefixes instead of forming hot keys, which is exactly
    the skew the q24 self-join needs a df-cap to survive. Linear
    passes: one df count, one rank window keyed by doc, the prefix
    self-join, then per-pair array_intersect verification bounded by
    candidate count."""
    keys = _doc_shingle_keys(spark, sf_dir).localCheckpoint(eager=False)
    dfreq = keys.groupBy("k").agg(F.count(F.lit(1)).alias("dfk"))
    wpos = Window.partitionBy("doc_id").orderBy("dfk", "k")
    wn = Window.partitionBy("doc_id")
    ranked = (
        keys.join(dfreq, "k")
        .select(
            "doc_id",
            "k",
            F.row_number().over(wpos).alias("pos"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
    )
    # pref feeds both sides of the candidate self-join, but Catalyst
    # already unifies the replayed subtree via ReuseExchange here (the
    # aliasing is symmetric) — a localCheckpoint barrier was MEASURED
    # SLOWER (11/6.0/5.5 s vs 7.8/4.7/4.7 s at sf0.1): it pays a
    # 300k-row materialization to save work reuse already saved.
    pref = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(JACCARD_T) * F.col("n")) + 1
    )
    a = pref.select(
        F.col("doc_id").alias("ad"), "k", F.col("n").alias("na")
    )
    b = pref.select(
        F.col("doc_id").alias("bd"), "k", F.col("n").alias("nb")
    )
    cands = (
        a.join(b, "k")
        .filter(
            (F.col("ad") < F.col("bd"))
            # size filter: |x| and |y| within a factor t of each other,
            # else J < t regardless of overlap
            & (F.col("nb") >= F.ceil(F.lit(JACCARD_T) * F.col("na")))
            & (F.col("na") >= F.ceil(F.lit(JACCARD_T) * F.col("nb")))
        )
        .select("ad", "bd")
        .distinct()
    )
    sets = keys.groupBy("doc_id").agg(F.collect_set("k").alias("shs"))
    return _verify_band_candidates(cands, sets)


# Same contract as q24 (exact J >= t pairs) by construction — the twin
# shares q24's oracle exactly like q57_fuzzy_blocked shares q57's.


# --- q157: IDF-weighted Jaccard -----------------------------------------------

WJACCARD_T = 0.5
IDF_WEIGHT_SCALE = 1000  # rarity weight = floor(N_docs * 1000 / df)


def q157_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted Jaccard near-dup pairs: every shingle carries an
    IDF-like integer weight floor(N*1000/df), and pair similarity is
    sum(weights of shared shingles) / sum(weights of union) — overlap
    on RARE content counts for more than overlap on boilerplate, the
    standard upgrade over q24's uniform Jaccard for curation (one
    shared rare paragraph outweighs dozens of shared header shingles).

    Determinism: weights are exact integers (floor of an exact-input
    division — no logs), so intersection/union masses are exact integer
    sums; the similarity is one double division, rounded at 4dp.

    Scale shape: the weights ride the kernel's rows (+8 bytes/row of
    shuffle), plus one tiny (key -> df) aggregate; q24's `max_doc_freq`
    mitigation applies upstream."""
    sh = _doc_shingle_keys(spark, sf_dir).localCheckpoint(eager=False)
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    weighted = (
        sh.join(
            sh.groupBy("k").agg(F.count(F.lit(1)).alias("df")), "k"
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "k",
            F.floor(
                F.col("nd") * IDF_WEIGHT_SCALE / F.col("df")
            ).cast("bigint").alias("w"),
        )
        .localCheckpoint(eager=False)  # feeds both join sides + doc masses
    )
    return (
        overlap_pairs(weighted, weight="w")
        .withColumn("wjac", jaccard())
        .filter(F.col("wjac") >= WJACCARD_T)
        .select("ad", "bd", F.round("wjac", 4).alias("wjac"))
        .orderBy("ad", "bd")
    )


Q157_ORACLE = f"""
WITH s AS ({_DUCK_DOC_SHINGLES}),
nd AS (SELECT COUNT(*) AS nd FROM documents),
weighted AS (
  SELECT s.doc_id, s.sh,
         CAST(floor(nd.nd * {IDF_WEIGHT_SCALE} / df.df) AS BIGINT) AS w
  FROM s
  JOIN (SELECT sh, COUNT(*) AS df FROM s GROUP BY sh) df USING (sh)
  CROSS JOIN nd
),
mass AS (SELECT doc_id, SUM(w) AS m FROM weighted GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ad, b.doc_id AS bd, SUM(a.w) AS iw
  FROM weighted a JOIN weighted b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY ad, bd
)
SELECT ad, bd,
       ROUND(CAST(iw AS DOUBLE) / CAST(x.m + y.m - iw AS DOUBLE), 4) AS wjac
FROM inter
JOIN mass x ON x.doc_id = ad
JOIN mass y ON y.doc_id = bd
WHERE CAST(iw AS DOUBLE) / CAST(x.m + y.m - iw AS DOUBLE) >= {WJACCARD_T}
ORDER BY ad, bd
"""


# --- q163: containment (asymmetric Jaccard) -----------------------------------

CONTAIN_T = 0.8


def q163_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C = |A ∩ B| / min(|A|, |B|) >= 0.8 —
    the asymmetric rung of the dedup ladder. Symmetric Jaccard misses a
    document EMBEDDED in a much larger one (J = |A|/|B| stays small);
    containment flags exactly that quote/aggregation/wrapper case,
    which is how boilerplate-wrapped crawl dups usually present. Ships
    both scores so the gap (high cont, low jacc) is visible per pair.

    Same skew caveats and `max_doc_freq` mitigation as q24."""
    sh = _doc_shingle_keys(spark, sf_dir).localCheckpoint(eager=False)
    return (
        overlap_pairs(sh)
        .withColumn("cont", F.col("i") / F.least("na", "nb"))
        .withColumn("jacc", jaccard())
        .filter(F.col("cont") >= CONTAIN_T)
        .select(
            "ad",
            "bd",
            F.round("cont", 4).alias("cont"),
            F.round("jacc", 4).alias("jacc"),
        )
        .orderBy("ad", "bd")
    )


Q163_ORACLE = f"""
WITH s AS ({_DUCK_DOC_SHINGLES}),
sz AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ad, b.doc_id AS bd, COUNT(*) AS i
  FROM s a JOIN s b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY ad, bd
)
SELECT ad, bd,
       ROUND(CAST(i AS DOUBLE) / CAST(LEAST(x.n, y.n) AS DOUBLE), 4) AS cont,
       ROUND(CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE), 4) AS jacc
FROM inter
JOIN sz x ON x.doc_id = ad
JOIN sz y ON y.doc_id = bd
WHERE CAST(i AS DOUBLE) / CAST(LEAST(x.n, y.n) AS DOUBLE) >= {CONTAIN_T}
ORDER BY ad, bd
"""


# --- q198: mutual best match --------------------------------------------------

def q198_mutual_best_match(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Reciprocal-best-match pairs: (a, b) where b is a's
    highest-Jaccard neighbour AND a is b's — the record-linkage
    decision rule (and bioinformatics' reciprocal-best-hit) that
    accepts a merge only when BOTH sides agree, the conservative
    alternative to q72's one-sided keep-the-better policy. Chains
    (a->b->c) produce no false merges here by construction.

    Scale shape: symmetrize the pair list, one row_number window
    PARTITIONED BY NODE (parallel), then an equi-self-join of the
    per-node best rows on the reversed key — best-frame sized, tiny.
    ``pairs=`` accepts the persisted bucketed store.

    Determinism: ties on the 2 dp Jaccard break to the smallest
    neighbour id in both engines."""
    from pyspark.sql.window import Window

    # p feeds both orientations of sym, and best feeds both sides of
    # the reciprocity join — pin one materialization of each (the
    # q163/q182 shared-frame pattern) so the pair pipeline is never
    # re-derived per consumer when no persisted store resolves.
    p = (
        resolve_pairs(spark, sf_dir, pairs)
        .select("ad", "bd", "jacc")
        .localCheckpoint(eager=False)
    )
    sym = p.unionByName(
        p.select(
            F.col("bd").alias("ad"),
            F.col("ad").alias("bd"),
            "jacc",
        )
    )
    w = Window.partitionBy("ad").orderBy(F.desc("jacc"), F.asc("bd"))
    best = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ad").alias("node"),
            F.col("bd").alias("best"),
            "jacc",
        )
        .localCheckpoint(eager=False)
    )
    other = best.select(
        F.col("node").alias("o_node"), F.col("best").alias("o_best")
    )
    return (
        best.join(
            other,
            (best.best == F.col("o_node")) & (best.node == F.col("o_best")),
        )
        .filter(F.col("node") < F.col("best"))
        .select(
            F.col("node").alias("doc_a"),
            F.col("best").alias("doc_b"),
            "jacc",
        )
        .orderBy("doc_a")
    )


def _q198_oracle() -> str:
    return f"""
WITH pairs AS ({Q24_ORACLE_BODY}),
sym AS (
  SELECT ad, bd, jacc FROM pairs
  UNION ALL
  SELECT bd, ad, jacc FROM pairs
),
best AS (
  SELECT ad AS node, bd AS best, jacc,
         ROW_NUMBER() OVER (PARTITION BY ad
                            ORDER BY jacc DESC, bd ASC) AS rn
  FROM sym
)
SELECT a.node AS doc_a, a.best AS doc_b, a.jacc
FROM best a JOIN best b
  ON a.best = b.node AND b.best = a.node
WHERE a.rn = 1 AND b.rn = 1 AND a.node < a.best
ORDER BY doc_a
"""


# --- q225: edit-distance near-dup rung over documents ------------------------

# Verify threshold AND length-difference block (|len(a)-len(b)| <= dist
# is a free lower bound on edit distance, so the block never cuts a
# qualifying pair).
LEV_DOC_MAX = 16
# Exact-match anchor width and 1-based offsets. The 8-char slack between
# consecutive anchors tolerates indel shift accumulated in the earlier
# region; the "Ai:" tag keeps anchors from colliding across positions.
LEV_DOC_ANCHOR_LEN = 24
LEV_DOC_ANCHOR_OFFSETS = (1, 33, 65)


def q225_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over ``documents`` — the rung the
    set-based ladder (q24 shingle Jaccard / q25 LSH / q26 SimHash)
    lacks: levenshtein counts every character edit, so it catches
    transposition- and typo-class near-dups whose shingle sets barely
    move, and rejects reorderings whose sets coincide.

    Candidate generation is ANCHOR BLOCKING (entity-resolution
    standard): each doc emits up to three 24-char exact-match anchors
    at offsets 1/33/65, and a pair is a candidate iff it shares an
    anchor AND |n_chars difference| <= 16 (the free edit-distance lower
    bound). Verification is one full-text ``levenshtein`` per candidate
    with dist <= 16. Calibrated on this corpus: the blocking finds all
    25 planted near-dup pairs at sf0.01 (identical to a banded
    full-length-scan sweep), and the background is far away — the next
    distance after the planted 4/8 band is 38.

    Recall posture: anchors are a heuristic block with q25-LSH's
    probabilistic-recall posture (a pair whose edits touch all three
    anchor regions escapes); the registered sound-and-complete twin is
    :func:`q235_levenshtein_complete` (count-filter q-gram blocking at
    document length — ~10^3x more candidates, guaranteed recall). The
    oracle replays the SAME blocking, so parity is exact by
    construction either way.

    Scale shape: the anchor self-join is q25's band-bucket shape —
    explode is map-side, the join hash-partitions on the anchor key,
    and cost tracks bucket occupancy, never |docs|^2. Empty anchor
    fragments (docs shorter than an offset) are dropped before the
    join so there is no degenerate shared-empty-anchor bucket to skew
    a partition at 100 TB. Verification is JVM codegen ``levenshtein``
    on candidates only (~10^2 pairs per 10^4 docs here).

    Reference lineage: generalizes the distinct-key semantics of
    src/mrapps/indexer.go:21-25 the same way q24/q25 do — near-equal
    keys instead of equal keys, blocked so the pair space never
    materializes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    sig = _q225_signature(docs)
    a = sig.select(
        F.col("doc_id").alias("ad"), F.col("n_chars").alias("la"), "anchor"
    )
    b = sig.select(
        F.col("doc_id").alias("bd"), F.col("n_chars").alias("lb"), "anchor"
    )
    cand = (
        a.join(b, "anchor")
        .filter(
            (F.col("ad") < F.col("bd"))
            & (F.abs(F.col("la") - F.col("lb")) <= LEV_DOC_MAX)
        )
        .select("ad", "bd")
        .distinct()
    )
    ta = docs.select(F.col("doc_id").alias("ad"), F.col("text").alias("ta"))
    tb = docs.select(F.col("doc_id").alias("bd"), F.col("text").alias("tb"))
    # 3-arg levenshtein early-abandons past the threshold (returns -1):
    # O(k*min(len)) instead of O(len_a*len_b) per candidate — the
    # verify-stage perf lever at 100 TB, where background candidates
    # (anchor collisions that are NOT near-dups) dominate the verify
    # bill. Returns the TRUE distance at or under the threshold, so the
    # kept rows are identical to the 2-arg spelling (pinned in
    # tests/properties/test_r16_candidate_probes.py); the oracle keeps
    # the CASE-free 2-arg form DuckDB has.
    return (
        cand.join(ta, "ad")
        .join(tb, "bd")
        .select(
            "ad",
            "bd",
            F.expr(f"levenshtein(ta, tb, {LEV_DOC_MAX})").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .orderBy("ad", "bd")
    )


def _q225_signature(docs: DataFrame) -> DataFrame:
    """q225's (doc_id, n_chars, anchor) blocking signature over any
    (doc_id, text, n_chars) frame. Anchors whose text fragment is empty
    (doc shorter than the offset) are DROPPED — without the filter,
    every short doc would share the bare "Ai:" key and one bucket would
    hold the whole short stratum, the degenerate-key skew bomb at
    100 TB. Factored module-level so the property suite pins the guard
    on the PRODUCTION frame, not a test-local reconstruction."""
    anchors = F.array(
        *[
            F.concat(
                F.lit(f"A{i}:"),
                F.substring("text", off, LEV_DOC_ANCHOR_LEN),
            )
            for i, off in enumerate(LEV_DOC_ANCHOR_OFFSETS, 1)
        ]
    )
    # length > 3 = non-empty fragment after the 3-char "Ai:" tag
    return docs.select(
        "doc_id", "n_chars", F.explode(anchors).alias("anchor")
    ).filter(F.length("anchor") > 3)


def _q225_oracle() -> str:
    anchor_list = ", ".join(
        f"'A{i}:' || substr(text, {off}, {LEV_DOC_ANCHOR_LEN})"
        for i, off in enumerate(LEV_DOC_ANCHOR_OFFSETS, 1)
    )
    return f"""
WITH sig AS (
  SELECT doc_id, n_chars,
         UNNEST([{anchor_list}]) AS anchor
  FROM documents
), fsig AS (
  SELECT * FROM sig WHERE length(anchor) > 3
), cand AS (
  SELECT DISTINCT a.doc_id AS ad, b.doc_id AS bd
  FROM fsig a JOIN fsig b
    ON a.anchor = b.anchor AND a.doc_id < b.doc_id
   AND ABS(a.n_chars - b.n_chars) <= {LEV_DOC_MAX}
)
SELECT c.ad, c.bd, levenshtein(da.text, db.text) AS dist
FROM cand c
JOIN documents da ON da.doc_id = c.ad
JOIN documents db ON db.doc_id = c.bd
WHERE levenshtein(da.text, db.text) <= {LEV_DOC_MAX}
ORDER BY ad, bd
"""


# --- q235: q225's sound-and-complete twin (count-filter q-gram block) --------

# Historical q-gram width of the document-length complete block (kept
# only for the qgram_complete_pairs_frame signature). The r16
# optimization round replaced the q=2 prefix machinery with a unigram
# count screen — see LEV_SCREEN_CHARS — without changing the kept-pair
# set; the guarantee is unchanged: NO qualifying pair can escape
# (VERDICT r15 item 3, closing the q225 docstring's recall caveat).
QGRAM_DOC_Q = 2


# Fixed screen alphabet for the unigram count filter: one count feature
# per character. Characters OUTSIDE this set simply go uncounted, which
# only WEAKENS the screen (dropping dimensions can only lower the L1),
# never its soundness — no corpus-dependent dictionary collect needed.
LEV_SCREEN_CHARS = " " + "abcdefghijklmnopqrstuvwxyz"

# Broadcast budget for qgram_complete_pairs_frame's build side, gated on
# Catalyst's size estimate of the INPUT doc frame (the build side adds
# ~29 fixed-width columns on top, well inside one order of magnitude).
# 256 MB estimated input keeps the built relation far from the 8 GB /
# 512M-row broadcast cap and from driver memory trouble; above it the
# hint is dropped and AQE plans the length-key equi-join freely
# (ADVICE r16).
QGRAM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def qgram_complete_pairs_frame(
    docs: DataFrame, q: int = QGRAM_DOC_Q, k: int = LEV_DOC_MAX
) -> DataFrame:
    """Edit-distance pairs (dist <= k) over any (doc_id, text) frame via
    length-band blocking + a complete unigram COUNT filter — SOUND AND
    COMPLETE, the guarantee :func:`fuzzy_blocked_pairs_frame` carries
    for part names, restated at document length. Rewritten in the r16
    optimization round (guide §1.2 step 1 — fix the distributed
    algorithm before the per-task work): the previous shape ran a
    rarity-ordered q-gram prefix self-join (10 exchanges, a
    collect_list prefix sort, a 652k-row candidate distinct, a (doc,
    gram) count aggregate, three localCheckpoints) before verifying; on
    this corpus's ~114-gram alphabet the prefix join admitted ~80% of
    the raw length-window pairs anyway, so all of that machinery bought
    nothing over filtering the length-window pairs directly. The
    replacement is ONE codegen-pipelined pass:

    * **length-window equi-join**: a qualifying pair has
      |len(a)-len(b)| <= k, so each doc probes the 2k+1 qualifying
      partner lengths and the join key is the PARTNER length — an
      exact equi-join that admits precisely the length-window pairs.
      Each unordered pair (with ad < bd) meets on exactly one probe, so
      NO distinct is needed. Probes explode on the stream side so the
      broadcast stays |docs| rows (above QGRAM_BROADCAST_MAX_BYTES the
      hint is dropped automatically — r17, ADVICE r16 — and the length
      key makes this a plain shuffled equi-join AQE can skew-split).
    * **complete unigram count screen (pure codegen)**: one edit
      operation changes at most two character counts by one each, so
      any pair with dist <= k satisfies
      sum_c |count_c(a) - count_c(b)| <= 2*k (Gravano et al.'s q-gram
      count bound at q=1). Counts are one INT COLUMN per character of
      :data:`LEV_SCREEN_CHARS`, computed per doc as
      ``length(text) - length(translate(text, c, ''))`` — plain
      whole-stage-codegen arithmetic, no higher-order functions, no
      per-corpus dictionary. (An earlier r16 draft used dense q=2-gram
      profiles with ``zip_with``/``aggregate``; interpreted HOF
      evaluation cost ~16 s across the 812k candidates and the lambdas
      blocked codegen for the whole stage. The unigram screen is ~40x
      less selective on paper yet 20x cheaper per row, and survivors
      are so few the verify cost is noise: measured at sf0.1, 812,319
      band pairs -> 19,607 screen survivors -> 256 true pairs.)
    * **early-abandon verification**: the 3-arg ``levenshtein(a, b, k)``
      returns -1 past the threshold at O(k*min(len)) instead of
      O(len^2) — same kept rows as the 2-arg form (pinned in
      tests/properties/test_r16_candidate_probes.py). Pairs the screen
      drops are provably dist > k — exactly the rows the ``dist >= 0``
      filter dropped before — so the kept-pair set is bit-identical
      (completeness pinned in tests/properties/
      test_round16_properties.py).

    The whole query is one repartition of the 5k-row doc side, one
    broadcast, one pipelined pass (length join -> count screen ->
    levenshtein), and one final orderBy exchange on the ~10^2
    surviving pairs — vs 10 exchanges before (plan diff in
    plans/r16/q235_levenshtein_complete_{before,after}.txt). Measured
    at sf0.1: 15.1 s -> ~3.3 s.

    Completeness inventory: the length join admits every pair with
    |len diff| <= k; the count screen admits every pair with
    dist <= k by the q=1 count bound (characters outside the fixed
    screen alphabet are uncounted on both sides, which only lowers the
    L1); levenshtein is exact. No qualifying pair can escape at any
    stage. ``q`` is kept for signature compatibility; the screen works
    at q=1 where the count profile needs no gram dictionary.

    Reference lineage: src/mrapps/indexer.go:21-25 via q225 (near-equal
    keys instead of equal keys, blocked so the pair space never
    materializes)."""
    # ``q`` is signature-compatibility only: the unigram count screen
    # needs no gram width. Reject explicitly instead of silently
    # ignoring a caller's custom width (ADVICE r16).
    if q != QGRAM_DOC_Q:
        raise ValueError(
            "qgram_complete_pairs_frame: the r16 unigram count screen "
            f"has no gram-width knob; q={q!r} would be silently ignored "
            f"(pass the default q={QGRAM_DOC_Q} or drop the argument)"
        )

    cnt_cols = [
        (
            F.length("text") - F.length(F.translate("text", c, ""))
        ).alias(f"n{i}")
        for i, c in enumerate(LEV_SCREEN_CHARS)
    ]
    # Both sides widen before the count projection: the doc table is
    # one scan split locally, and the 27-translate projection is ~3 s
    # serial vs ~0.1 s spread over the cores — the build side pays the
    # tiny exchange to parallelize the projection feeding the broadcast
    # (measured: dropping it costs +3.2 s). Gated on the planned scan
    # width (r17): a cluster-scale doc scan skips the exchange.
    from ..functions.partitioning import widen_for_rowlocal

    sided = widen_for_rowlocal(docs).select(
        "doc_id",
        "text",
        F.length("text").alias("len"),
        *cnt_cols,
    )
    ncols = [f"n{i}" for i in range(len(LEV_SCREEN_CHARS))]
    # Probe side: each doc probes every qualifying length exactly once
    # (|len diff| <= k), so the equi-join key is the PARTNER length and
    # each unordered pair meets on exactly one probe — no distinct.
    # Exploding the 2k+1 probes on the stream side keeps the broadcast
    # at |docs| rows.
    a = sided.select(
        F.col("doc_id").alias("ad"),
        F.col("text").alias("ta"),
        F.col("len").alias("la"),
        F.explode(
            F.array(*[F.col("len") + i for i in range(-k, k + 1)])
        ).alias("lb"),
        *[F.col(n).alias(f"a{n}") for n in ncols],
    )
    b = sided.select(
        F.col("doc_id").alias("bd"),
        F.col("text").alias("tb"),
        F.col("len").alias("lb"),
        *[F.col(n).alias(f"b{n}") for n in ncols],
    )
    screen_l1 = None
    for n in ncols:
        term = F.abs(F.col(f"a{n}") - F.col(f"b{n}"))
        screen_l1 = term if screen_l1 is None else screen_l1 + term
    # Evaluation-order armour: Catalyst fuses chained filters into the
    # join condition and does NOT preserve cheap-first ordering, so the
    # screen rides inside a CASE gated on the cheap doc-order test, and
    # levenshtein inside a CASE gated on the screen — neither can be
    # evaluated on a row the cheaper predicate already rejects, no
    # matter how the conjuncts are reordered (measured 2x on this
    # query).
    order_ok = F.col("ad") < F.col("bd")
    screen_ok = (
        F.when(order_ok, screen_l1).otherwise(F.lit(2 * k + 1)) <= 2 * k
    )
    dist = F.when(
        order_ok & screen_ok, F.expr(f"levenshtein(ta, tb, {k})")
    ).otherwise(F.lit(-1))
    # Broadcast gate (ADVICE r16): the build side carries text + 28 int
    # count columns per doc, so the hint is only safe while the doc
    # frame is comfortably under the broadcast/driver budget. Catalyst's
    # own size estimate of the input frame decides (driver-side plan
    # statistics — no job); above the cap the hint is dropped and the
    # length-key equi-join plans as a plain shuffled join AQE can
    # skew-split. Local corpora are KBs, so the local plan keeps the
    # broadcast unchanged.
    b_est = int(
        docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    build = F.broadcast(b) if b_est <= QGRAM_BROADCAST_MAX_BYTES else b
    return (
        a.join(build, "lb")
        .filter(order_ok & screen_ok)
        .select("ad", "bd", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
        .orderBy("ad", "bd")
    )


def q235_levenshtein_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q225's SOUND-AND-COMPLETE twin: the same edit-distance near-dup
    pairs (dist <= 16 over ``documents``), found by count-filter q-gram
    blocking (:func:`qgram_complete_pairs_frame`) instead of q225's
    heuristic anchors. q225's recall posture is probabilistic (a pair
    whose edits touch all three anchor regions escapes); this rung's
    blocking provably admits every qualifying pair, so running both
    driver-checks the claim q225's docstring makes in prose: on this
    corpus the anchor block loses nothing (the two return identical
    pairs at sf0.001/0.01/0.1 — verified at registration and pinned as
    a superset property on an anchor-evading synthetic corpus in
    tests/properties/test_round16_properties.py).

    The oracle is q225's (anchor replay): honest BECAUSE complete ⊇
    anchors always and the corpus equality makes them equal — if a
    future corpus plants an anchor-evading pair, this query returns the
    extra pair, the hash diverges, and the divergence IS the finding.

    Scale shape: a single pipelined pass — length-window equi-join
    (broadcast locally; a plain shuffled equi-join at cluster scale),
    complete unigram count screen on row-local per-character count
    columns, early-abandon levenshtein on the ~2% survivors — and one
    final orderBy on ~10^2 pairs. Candidates run
    ~10^5 per 10^4 docs on this corpus's 114-gram alphabet — the price
    of the guarantee vs q225's ~10^2; both scale linearly in docs at
    fixed length distribution, never |docs|^2. When recall can be
    traded for cost, q225 is the default; this is the audit rung."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return qgram_complete_pairs_frame(docs)


QUERIES = [
    QuerySpec("q24_ngram_jaccard_dedup", q24_ngram_jaccard_dedup, Q24_ORACLE,
              "exact 3-gram shingle Jaccard near-dup pairs (J >= 0.5)",
              ("dedup",)),
    QuerySpec("q198_mutual_best_match", q198_mutual_best_match,
              _q198_oracle(),
              "reciprocal-best-match near-dup pairs (both sides agree; "
              "conservative merge rule off the pair store)",
              ("dedup", "policy")),
    QuerySpec("q25_minhash_lsh_dedup", q25_minhash_lsh_dedup, Q25_ORACLE,
              "MinHash(8) + LSH(4x2) candidates, exact-Jaccard verified",
              ("dedup", "lsh")),
    QuerySpec("q26_simhash_dedup", q26_simhash_dedup, Q26_ORACLE,
              "28-bit SimHash fingerprint buckets (count, keeper)",
              ("dedup", "simhash")),
    QuerySpec("q27_embedding_neardup", q27_embedding_neardup, Q27_ORACLE,
              "embedding-cosine near-dup pairs over bounded id range",
              ("dedup", "similarity")),
    QuerySpec("q57_fuzzy_name_pairs", q57_fuzzy_name_pairs, Q57_ORACLE,
              "edit-distance fuzzy name pairs (length-blocked levenshtein)",
              ("dedup", "fuzzy")),
    QuerySpec("q57_fuzzy_blocked", q57_fuzzy_blocked, Q57_ORACLE,
              "same pairs via q-gram prefix-filter blocking (no NL join)",
              ("dedup", "fuzzy", "blocking")),
    QuerySpec("q77_source_dup_matrix", q77_source_dup_matrix, Q77_ORACLE,
              "near-dup pair counts by (source_a, source_b) feed pair",
              ("dedup", "audit")),
    QuerySpec("q78_shingle_novelty", q78_shingle_novelty, Q78_ORACLE,
              "per-doc fraction of first-seen shingles (novelty score)",
              ("dedup", "scoring")),
    QuerySpec("q90_incremental_dedup", q90_incremental_dedup, Q90_ORACLE,
              "new-crawl docs probed against a bucketed MinHash store",
              ("dedup", "lsh", "incremental")),
    QuerySpec("q144_incremental_exact_dedup", q144_incremental_exact_dedup,
              Q144_ORACLE,
              "new-crawl docs probed against a bucketed shingle store "
              "(exact-Jaccard incremental, == batch q24 on the delta)",
              ("dedup", "incremental", "scale")),
    QuerySpec("q103_minhash_calibration", q103_minhash_calibration,
              Q103_ORACLE,
              "estimated vs exact Jaccard for every LSH candidate pair "
              "(the N_PERM/N_BANDS operating-point audit)",
              ("dedup", "lsh", "calibration")),
    QuerySpec("q104_jaccard_prefix_join", q104_jaccard_prefix_join,
              Q24_ORACLE,
              "q24's exact pairs via AllPairs prefix filtering "
              "(rarity-ordered prefixes as join keys, no LSH)",
              ("dedup", "blocking")),
    QuerySpec("q157_idf_weighted_jaccard", q157_idf_weighted_jaccard,
              Q157_ORACLE,
              "rarity-weighted Jaccard pairs (integer IDF weights; rare "
              "overlap outranks boilerplate overlap)",
              ("dedup", "weighted")),
    QuerySpec("q163_containment_dedup", q163_containment_dedup,
              Q163_ORACLE,
              "containment pairs C = i/min(|A|,|B|) >= 0.8 (asymmetric "
              "rung: catches docs embedded in larger docs)",
              ("dedup", "containment")),
    QuerySpec("q225_levenshtein_neardup", q225_levenshtein_neardup,
              _q225_oracle(),
              "edit-distance near-dup pairs over documents (anchor "
              "blocking + length bound, full-text levenshtein verify)",
              ("dedup", "fuzzy", "blocking")),
    QuerySpec("q235_levenshtein_complete", q235_levenshtein_complete,
              _q225_oracle(),
              "q225's pairs via sound-and-complete count-filter q-gram "
              "blocking (rarity prefixes, length-band keys, guaranteed "
              "recall)",
              ("dedup", "fuzzy", "blocking", "complete")),
]
