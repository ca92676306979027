"""Sketch aggregates — the approximate counterparts of the exact queries.

At 100 TB exact COUNT(DISTINCT) (q19) shuffles every distinct key and
exact percentiles need a full sort; the sketch versions partial-
aggregate a constant-size state map-side (HyperLogLog++ registers,
KLL/GK quantile summaries) and merge — one narrow shuffle of sketches,
no key explosion. Approximations can never hash-match an exact oracle
(SURVEY §2.4 Q19 note), so these register rows-only; their accuracy
contract lives in tests/test_sketches.py against the exact queries
(HLL++ rsd<=2.5%, percentile within the value span of adjacent exact
quantiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources import load_table

HLL_RSD = 0.02  # target relative standard deviation for HLL++


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of q19: approx_count_distinct(l_partkey) per
    returnflag (HyperLogLog++)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=HLL_RSD).alias(
                "approx_parts"
            )
        )
        .orderBy("l_returnflag")
    )


def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantile sketch: approx_percentile keeps a bounded
    summary per group instead of sorting the column. The three
    quantiles are shipped as scalar columns (not array<double>) per the
    registry's scalar-output contract — the driver's canonicalizer
    cannot hash list-typed cells (see q116, round 6)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    q = F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000)
    return (
        o.groupBy("o_orderstatus")
        .agg(
            q.getItem(0).alias("p50"),
            q.getItem(1).alias("p90"),
            q.getItem(2).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


HH_SUPPORT = 0.002  # report tokens above ~0.2% of total occurrences


def approx_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream: `freqItems` (Karp-
    Papadimitriou-Shenker counter-decrement, the deterministic cousin of
    count-min) finds every token whose frequency exceeds the support
    threshold in one pass with O(1/support) state per partition — no
    full token->count shuffle. Output is the candidate set (may include
    false positives, never false negatives); the accuracy test checks
    it against exact counts. One narrow column, support sized so the
    state map stays ~500 entries regardless of corpus size."""
    from ..functions.text import SPARK_TOKS_EXPR

    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(F.expr(SPARK_TOKS_EXPR)).alias("token"))
    hits = toks.freqItems(["token"], support=HH_SUPPORT)
    return hits.select(
        F.explode(F.sort_array("token_freqItems")).alias("token")
    )


def hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg) — the 100 TB pattern the plain
    approx_count_distinct can't do: materialize one binary sketch PER
    SOURCE (a pre-aggregated sketch table maintained incrementally as
    crawls land), then answer "distinct tokens overall" by UNIONING the
    stored sketches — no re-scan of the corpus. Emits each source's
    estimate plus the union row ('ALL'), with the sketch byte size.

    Scale shape: one explode+groupBy builds the per-source sketches
    (shuffle carries sketch partials, not tokens); the union aggregate
    reduces n_sources sketch blobs — bytes, not data. The same two
    operators power cross-DAY or cross-SHARD rollups of any stored
    sketch table."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    per_source = toks.groupBy("source").agg(
        F.hll_sketch_agg("tok").alias("sk")
    )
    per_row = per_source.select(
        "source",
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        F.octet_length("sk").alias("sketch_bytes"),
    )
    union_row = per_source.agg(
        F.hll_union_agg("sk").alias("sk")
    ).select(
        F.lit("ALL").alias("source"),
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        F.octet_length("sk").alias("sketch_bytes"),
    )
    return per_row.unionByName(union_row).orderBy("source")


def hll_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window DAU/WAU/MAU from MERGEABLE per-day HLL sketches —
    the approximate sibling q149's docstring promises: build ONE
    DataSketches HLL sketch per calendar day (maintained incrementally
    as days land; raw events are touched exactly once), then answer
    every anchor day's DAU/7-day/30-day active-user counts by UNIONING
    at most 30 stored sketch blobs — no (user, day) fan-out, no
    re-scan, which is what replaces q149's exact 30x row multiplier at
    100 TB.

    Scale shape: groupBy(day) builds the sketches (shuffle carries
    sketch partials, not user ids); the anchor fan-out joins DAYS x 30
    sketch rows — kilobytes regardless of event volume; the three
    windowed unions aggregate blobs. Accuracy vs exact q149 is pinned
    in tests/test_sketches.py (the ANN-recall-floor pattern)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .withColumn("dnum", F.unix_date("d"))
        .localCheckpoint(eager=False)  # one sketch build feeds anchors + fan
    )
    anchors = daily.select(
        F.col("d").alias("anchor"), F.col("dnum").alias("anum")
    )
    fan = anchors.join(
        daily.select("dnum", "sk"),
        (F.col("dnum") <= F.col("anum"))
        & (F.col("dnum") > F.col("anum") - 30),
    )
    return (
        fan.groupBy("anchor")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(
                    F.when(F.col("dnum") == F.col("anum"), F.col("sk"))
                )
            ).alias("dau_est"),
            F.hll_sketch_estimate(
                F.hll_union_agg(
                    F.when(F.col("dnum") > F.col("anum") - 7, F.col("sk"))
                )
            ).alias("wau_est"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("mau_est"),
        )
        .orderBy("anchor")
    )


# --- q197: KMV distinct-count sketch, oracle-replayable ------------------------

KMV_SKETCH_K = 256
_POW60 = 1152921504606846976.0  # 2^60 == 16^15, the md5-prefix hash space

# The deterministic 60-bit KMV hash, defined ONCE per engine so q197 and
# q201 can never drift apart (their sketches must compose bit-for-bit).
_DUCK_KMV_HASH = "('0x' || substr(md5({col}), 1, 15))::BIGINT"


def _kmv_hash(col):
    """Spark side of _DUCK_KMV_HASH: 60-bit integer from the md5 prefix."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
    )


def q197_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-SHINGLE estimate per source, next to the
    exact count and the signed error — the suite's one sketch whose
    whole computation REPLAYS in SQL, so the driver hash-checks it
    end-to-end (the other sketches are rows-only: Spark's HLL++ binary
    registers have no cross-engine twin). KMV with a deterministic
    md5-prefix hash is engine-agnostic by construction: both engines
    sort the same 60-bit integers and read the same K-th minimum.

    Estimator: E = (K-1) * 2^60 / h_(K) (Bar-Yossef et al. 2002); when
    a source has <= K distinct tokens the K-th minimum doesn't exist
    and the sketch IS the exact set, so E = n_exact.

    Scale shape: one distinct (source, token) frame; the top-K scan is
    a row_number window PARTITIONED BY SOURCE over the 60-bit hash
    (parallel); everything else is tiny per-source aggregates. At
    100 TB the distinct frame is the same vocab structure q68 carries.

    Determinism: the estimate is one IEEE expression over exact
    integers, identical in both engines; error is reported in rounded
    basis points (double), not integer div, to avoid negative-division
    truncation differences."""
    from pyspark.sql.window import Window

    from .dedup import _SPARK_SHINGLES, _SPARK_TOKS

    tok = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.expr(_SPARK_TOKS).alias("toks"))
        .select("source", F.explode(F.expr(_SPARK_SHINGLES)).alias("token"))
        .distinct()
        # Consumed by both the exact count and the top-K hash scan — pin
        # so the shingle explode + distinct runs once (the q166/q182
        # shared-frame rule; ADVICE r8).
        .localCheckpoint(eager=False)
    )
    h = tok.select("source", _kmv_hash("token").alias("h"))
    exact = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("source").orderBy("h")
    topk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_SKETCH_K)
        .groupBy("source")
        .agg(F.max("h").alias("kth"))
    )
    est = F.when(
        F.col("n_exact") <= KMV_SKETCH_K, F.col("n_exact")
    ).otherwise(
        F.round(
            (KMV_SKETCH_K - 1)
            * _POW60
            / F.col("kth").cast("double")
        ).cast("bigint")
    )
    return (
        exact.join(topk, "source")
        .select(
            "source",
            "n_exact",
            est.alias("n_kmv"),
            F.round(
                10000.0
                * (est - F.col("n_exact")).cast("double")
                / F.col("n_exact").cast("double"),
                1,
            ).alias("err_bp"),
        )
        .orderBy("source")
    )


def _q197_oracle() -> str:
    from .dedup import _DUCK_SHINGLES

    return f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({_DUCK_SHINGLES}) AS token FROM documents
),
h AS (
  SELECT source, {_DUCK_KMV_HASH.format(col='token')} AS h FROM tok
),
exact AS (SELECT source, COUNT(*) AS n_exact FROM tok GROUP BY source),
r AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
),
topk AS (
  SELECT source, MAX(h) AS kth FROM r WHERE rn <= {KMV_SKETCH_K}
  GROUP BY source
),
j AS (
  SELECT e.source, e.n_exact,
         CASE WHEN e.n_exact <= {KMV_SKETCH_K} THEN e.n_exact
              ELSE CAST(ROUND({KMV_SKETCH_K - 1} * {_POW60}
                              / CAST(t.kth AS DOUBLE)) AS BIGINT)
         END AS n_kmv
  FROM exact e JOIN topk t ON t.source = e.source
)
SELECT source, n_exact, n_kmv,
       ROUND(10000.0 * CAST(n_kmv - n_exact AS DOUBLE)
             / CAST(n_exact AS DOUBLE), 1) AS err_bp
FROM j
ORDER BY source
"""


# --- q201: theta-style KMV set operations, oracle-replayable -------------------


def q201_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch SET OPERATIONS: for every unordered source pair,
    the estimated distinct-shingle UNION and INTERSECTION cardinalities
    next to their exact twins and the signed union error — the
    DataSketches-theta workflow (sketch each stream once, answer
    set-algebra questions later) on q197's deterministic md5-prefix KMV,
    so the whole computation replays in SQL and the driver hash-checks
    it end-to-end.

    Estimators (Beyer et al. 2007 / theta-sketch composition): the
    union sketch is the K smallest hashes of the two per-source
    sketches' merged hash set (a valid KMV of A∪B because each side's
    sketch contains its K smallest); E_union = (K-1)*2^60 / h_(K);
    the intersection rides the Jaccard ratio estimator j/K over the
    union sketch, E_inter = round(j * E_union / K), where j counts
    union-sketch members present in BOTH per-source sketches. When the
    exact union fits inside K the merged sketch IS the union and both
    estimates collapse to the exact values (q197's small-set rule —
    |A∪B| <= K implies both sides' sketches are complete).

    Scale shape: sketching is one distinct (source, hash) frame + a
    per-source top-K window (parallel, the q197 scan); everything
    after runs on SKETCHES — K*|sources| rows — so the pair stage is
    bounded by |sources|^2 * K regardless of corpus size (the q151/q189
    boundedness argument). The exact twins are audit columns that exist
    only because the oracle needs them; a production run keeps just the
    sketch path. The exact-intersection self-join is keyed on the
    60-BIT HASH, not the raw shingle, so the "exact" columns are
    hash-level cardinalities: two shingles colliding in 60 bits count
    once (expected ~1 collision at 2^30 distinct shingles — immaterial
    for the sketch-vs-exact error audit, identical in both engines).
    The join is |sources|^2-bounded per hash, q151's shape.

    Determinism: the only doubles are the two estimator expressions —
    each one IEEE expression over exact integers, written identically
    in both engines (q197's argument); err is rounded basis points.
    Reference lineage: sketch family head (SURVEY §2 LLM-pipeline
    additions); no reference analog — the reference has no approximate
    operators (/root/reference/src/mr/worker.go:280-301 is its whole
    extension surface)."""
    from pyspark.sql.window import Window

    from .dedup import _SPARK_SHINGLES, _SPARK_TOKS

    h = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.expr(_SPARK_TOKS).alias("toks"))
        .select("source", F.explode(F.expr(_SPARK_SHINGLES)).alias("token"))
        .select("source", _kmv_hash("token").alias("h"))
        .distinct()
        # Consumed by the per-source counts, the sketch window, the
        # exact-intersection self-join AND the pair frame — pin so the
        # shingle explode + distinct runs once (the q166/q182 rule).
        .localCheckpoint(eager=False)
    )
    n = h.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    # r17 checkpoint fusion (VERDICT r16 item 1): sk and pairs were each
    # cut at their own lazy localCheckpoint, but under AQE every such
    # cut is a SERIALIZED mini-execution at build time. Both frames
    # derive from the checkpointed `h` in one or two tiny stages, so
    # letting each consumer re-derive them INSIDE the single final
    # execution (where the replays run as parallel stages) is cheaper
    # than three build-time round-trips — measured 3.3 -> 2.8 s at
    # sf0.1, rows identical (the replays are deterministic functions of
    # the materialized h).
    sk = (
        h.withColumn(
            "rn", F.row_number().over(Window.partitionBy("source").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_SKETCH_K)
        .drop("rn")
    )
    srcs = h.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(
            F.broadcast(srcs.alias("b")),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    inter = (
        h.alias("x")
        .join(
            h.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter_exact0"))
    )
    m_a = sk.join(F.broadcast(pairs), F.col("source") == F.col("src_a")).select(
        "src_a", "src_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    m_b = sk.join(F.broadcast(pairs), F.col("source") == F.col("src_b")).select(
        "src_a", "src_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    merged = (
        m_a.unionByName(m_b)
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("ia").alias("in_a"), F.max("ib").alias("in_b"))
    )
    usk = (
        merged.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src_a", "src_b").orderBy("h")
            ),
        )
        .filter(F.col("rn") <= KMV_SKETCH_K)
        .groupBy("src_a", "src_b")
        .agg(
            F.max("h").alias("kth"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("j"),
        )
    )
    est = (
        pairs.join(n.alias("na"), F.col("na.source") == F.col("src_a"))
        .join(n.alias("nb"), F.col("nb.source") == F.col("src_b"))
        .join(inter, ["src_a", "src_b"], "left")
        .join(usk, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            F.col("na.n_exact").alias("n_a"),
            F.col("nb.n_exact").alias("n_b"),
            (
                F.col("na.n_exact")
                + F.col("nb.n_exact")
                - F.coalesce(F.col("n_inter_exact0"), F.lit(0))
            ).alias("n_union_exact"),
            F.coalesce(F.col("n_inter_exact0"), F.lit(0)).alias(
                "n_inter_exact"
            ),
            "kth",
            "j",
        )
    )
    e_union = F.round(
        (KMV_SKETCH_K - 1) * _POW60 / F.col("kth").cast("double")
    ).cast("bigint")
    e_inter = F.round(
        F.col("j").cast("double")
        * ((KMV_SKETCH_K - 1) * _POW60 / F.col("kth").cast("double"))
        / KMV_SKETCH_K
    ).cast("bigint")
    small = F.col("n_union_exact") <= KMV_SKETCH_K
    return (
        est.select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_union_exact",
            "n_inter_exact",
            F.when(small, F.col("n_union_exact"))
            .otherwise(e_union)
            .alias("n_union_kmv"),
            F.when(small, F.col("n_inter_exact"))
            .otherwise(e_inter)
            .alias("n_inter_kmv"),
        )
        .select(
            "*",
            # n_union_exact >= 1 always: every source in `pairs` derives
            # from `h`, so each side contributes at least one hash and the
            # union is non-empty — the division cannot see a zero (ADVICE
            # r9; the oracle relies on the same invariant).
            F.round(
                10000.0
                * (F.col("n_union_kmv") - F.col("n_union_exact")).cast(
                    "double"
                )
                / F.col("n_union_exact").cast("double"),
                1,
            ).alias("err_union_bp"),
        )
        .orderBy("src_a", "src_b")
    )


def _q201_oracle() -> str:
    from .dedup import _DUCK_SHINGLES

    return f"""
WITH tok AS (
  SELECT DISTINCT source, unnest({_DUCK_SHINGLES}) AS token FROM documents
),
h AS (
  SELECT DISTINCT source, {_DUCK_KMV_HASH.format(col='token')} AS h
  FROM tok
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {KMV_SKETCH_K}
),
n AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM h) a
  JOIN (SELECT DISTINCT source FROM h) b ON a.source < b.source
),
inter AS (
  SELECT x.source AS src_a, y.source AS src_b,
         COUNT(*) AS n_inter_exact0
  FROM h x JOIN h y ON y.h = x.h AND x.source < y.source
  GROUP BY 1, 2
),
merged AS (
  SELECT p.src_a, p.src_b, s.h,
         MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p
  JOIN sk s ON s.source IN (p.src_a, p.src_b)
  GROUP BY 1, 2, 3
),
usk AS (
  SELECT src_a, src_b, MAX(h) AS kth, SUM(in_a * in_b) AS j
  FROM (
    SELECT src_a, src_b, h, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
    FROM merged
  ) WHERE rn <= {KMV_SKETCH_K}
  GROUP BY 1, 2
),
est AS (
  SELECT p.src_a, p.src_b,
         na.n_exact AS n_a, nb.n_exact AS n_b,
         na.n_exact + nb.n_exact
           - COALESCE(i.n_inter_exact0, 0) AS n_union_exact,
         COALESCE(i.n_inter_exact0, 0) AS n_inter_exact,
         u.kth, u.j
  FROM pairs p
  JOIN n na ON na.source = p.src_a
  JOIN n nb ON nb.source = p.src_b
  LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
  JOIN usk u ON u.src_a = p.src_a AND u.src_b = p.src_b
),
fin AS (
  SELECT src_a, src_b, n_a, n_b, n_union_exact, n_inter_exact,
         CASE WHEN n_union_exact <= {KMV_SKETCH_K} THEN n_union_exact
              ELSE CAST(ROUND({KMV_SKETCH_K - 1} * {_POW60}
                              / CAST(kth AS DOUBLE)) AS BIGINT)
         END AS n_union_kmv,
         CASE WHEN n_union_exact <= {KMV_SKETCH_K} THEN n_inter_exact
              ELSE CAST(ROUND(CAST(j AS DOUBLE)
                              * ({KMV_SKETCH_K - 1} * {_POW60}
                                 / CAST(kth AS DOUBLE))
                              / {KMV_SKETCH_K}) AS BIGINT)
         END AS n_inter_kmv
  FROM est
)
SELECT src_a, src_b, n_a, n_b, n_union_exact, n_inter_exact,
       n_union_kmv, n_inter_kmv,
       -- n_union_exact >= 1: every source in `pairs` comes from `h`, so
       -- both sides hold >= 1 hash (same invariant as the Spark side).
       ROUND(10000.0 * CAST(n_union_kmv - n_union_exact AS DOUBLE)
             / CAST(n_union_exact AS DOUBLE), 1) AS err_union_bp
FROM fin
ORDER BY src_a, src_b
"""


# --- q220: bucket-bitmap EXACT distinct rollup (mergeable) ---------------------


def q220_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bucket bitmaps
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``) —
    the Snowflake-style pre-aggregated rollup and the scale answer to
    q19/q149's exact-distinct shapes: COUNT(DISTINCT key) shuffles every
    distinct key, the bitmap path partial-aggregates each 32768-id
    bucket into one fixed-size bitmap map-side and merges with OR.

    Two consumption levels from ONE bucket frame prove the
    pre-aggregation story: per-flag distinct part counts (SUM of bucket
    cardinalities — buckets partition the id domain, so no overlap),
    and the ALL-flags distinct from OR-merging the per-flag bucket
    bitmaps WITHOUT rescanning base rows — the rollup a 100 TB warehouse
    materializes once and slices arbitrarily. Exactness (== COUNT
    DISTINCT) makes this the strongest-oracle entry of the sketch
    family; pinned in tests/properties/test_r14_candidate_probes.py
    (incl. the NESTED_AGGREGATE_FUNCTION trap: construct, OR-merge and
    count-sum each need their own query block).

    Scale shape: the bucket frame is one hash aggregate keyed
    (flag, bucket) — partial map-side combine, one narrow shuffle of
    fixed-size bitmaps, never a key explosion. The shared bucket frame
    is pinned (localCheckpoint, the q166/q182 rule) so construct runs
    once for both consumers; at real cluster scale persist() would be
    the fault-tolerant spelling (ADVICE r13 note on q182).

    Reference lineage: the indexer's manual distinct-document fold,
    /root/reference/src/mrapps/indexer.go:21-25.
    """
    buckets = bitmap_bucket_frame(spark, sf_dir).localCheckpoint(
        eager=False
    )
    return _rollup_from_buckets(buckets)


def bitmap_bucket_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q220's (l_returnflag, bkt, bitmap) bucket frame, unpinned — the
    ONE scan of the base rows that every distinct-count consumer
    amortizes. Factored so q220 (inline, localCheckpoint-pinned) and
    the persisted rollup store (``sinks.write_distinct_rollup``,
    bucketed on ``bkt`` with persist-grade durability) share the one
    definition."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    return li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(l_partkey))"
        ).alias("b")
    )


def _rollup_from_buckets(buckets: DataFrame) -> DataFrame:
    """Both consumption levels of the bucket frame (q220's output
    shape): per-flag distinct via SUM of bucket cardinalities, all-flags
    distinct via bitmap OR-merge — never rescanning base rows."""
    per_flag = buckets.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(b)")).cast("bigint").alias("distinct_parts")
    )
    merged = (
        buckets.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(b)").alias("mb"))
        .agg(
            F.sum(F.expr("bitmap_count(mb)"))
            .cast("bigint")
            .alias("distinct_parts_all")
        )
    )
    return per_flag.crossJoin(F.broadcast(merged)).orderBy("l_returnflag")


def q230_stored_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q220 rollup consumed THROUGH the persisted bucket-bitmap
    store (``sinks.write_distinct_rollup``) — the materialize-once/
    slice-forever pattern exercised end to end: write the (group,
    bucket) bitmap frame bucketed on ``bkt`` once per corpus snapshot
    (idempotent: a fresh store is reused, a stale one rewritten —
    freshness via the lineitem fingerprint sidecar, the pair-store
    contract), then answer BOTH distinct-count slices from the stored
    frame with no base-table scan. Same rows as q220 by construction,
    so the driver hash-checks the whole store round trip against the
    same COUNT(DISTINCT) oracle.

    Scale shape: the write is q220's one scan + one narrow bitmap
    shuffle; every subsequent consumer is a popcount over the tiny
    stored frame, and the ``bkt`` bucketing makes the OR-merge group-by
    read pre-partitioned buckets with no Exchange (mirrors q90's
    stored-side-shuffle-free pin; pinned in
    tests/properties/test_round15_properties.py). This is the 100 TB
    dashboard posture: the store is written by the ingest pipeline,
    every distinct-count query after that touches kilobytes.

    Reference lineage: the indexer's distinct fold
    (/root/reference/src/mrapps/indexer.go:21-25) materialized as a
    reusable warehouse artifact."""
    from ..sinks import ensure_distinct_rollup

    return _rollup_from_buckets(ensure_distinct_rollup(spark, sf_dir))


Q220_ORACLE = """
WITH per_flag AS (
  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts
  FROM lineitem GROUP BY l_returnflag
),
merged AS (
  SELECT COUNT(DISTINCT l_partkey) AS distinct_parts_all FROM lineitem
)
SELECT f.l_returnflag, f.distinct_parts, m.distinct_parts_all
FROM per_flag f CROSS JOIN merged m
ORDER BY f.l_returnflag
"""


# --- q231: bitwise-aggregate flag-mask rollup ---------------------------------


def q231_bitmask_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag-mask rollup via the bitwise aggregates ``bit_and`` /
    ``bit_or`` / ``bit_xor`` — the permission-audit / feature-flag
    coverage shape next to q220's bucket bitmaps: each order folds four
    predicates into one BIGINT mask (CASE arithmetic, identical in both
    engines), then per priority class one aggregate answers "which
    flags does EVERY order carry" (bit_and), "which flags does ANY
    order carry" (bit_or), the parity word (bit_xor — the XOR-fold
    integrity check), and the coverage count
    (``bit_count`` of the OR word).

    Value-identical in DuckDB (pinned in
    tests/properties/test_r15_candidate_probes.py), so Spark and oracle
    run the same statement text. Convention pins honored in the shared
    text: the mask and every bitwise aggregate are CAST to BIGINT
    (DuckDB widens bit_and/or/xor inputs per declared type, and
    bit_count counts the declared width — the r16 probe file's 32-vs-64
    trap), so both engines fold 64-bit words.

    Scale shape: ONE hash aggregate keyed on o_orderpriority (5
    groups); bitwise aggregates carry fixed-size (8-byte) mergeable
    state, partial-combined map-side exactly like q220's bitmaps —
    shuffle traffic is 5 rows x 4 words per map task regardless of
    corpus size. This is the cheapest mergeable-rollup rung of the
    sketch family: no bucket frame, no popcount map, one machine word
    per group.

    Reference lineage: the multi-counter single-pass shape of
    src/mrapps/jobcount.go:22-46, folded into machine words instead of
    named counters."""
    return spark.sql(_Q231_STMT, t=load_table(spark, sf_dir, "orders"))


_Q231_STMT = """
WITH flags AS (
  SELECT o_orderpriority,
         CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
            + CASE WHEN o_totalprice > 200000 THEN 2 ELSE 0 END
            + CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                   THEN 4 ELSE 0 END
            + CASE WHEN o_custkey % 2 = 0 THEN 8 ELSE 0 END AS BIGINT)
           AS mask
  FROM {t}
)
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(bit_and(mask) AS BIGINT) AS flags_all,
       CAST(bit_or(mask) AS BIGINT) AS flags_any,
       CAST(bit_xor(mask) AS BIGINT) AS flags_parity,
       CAST(bit_count(CAST(bit_or(mask) AS BIGINT)) AS BIGINT)
         AS n_flags_seen
FROM flags
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q231_ORACLE = _Q231_STMT.format(t="orders")


# --- q221: DataSketches theta set operations in the exact regime ---------------


def q221_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DataSketches THETA sketch set algebra — the operations HLL
    cannot do (q201 spells them manually with KMV): per source, two
    overlapping document audiences (``doc_id % 3 != 2`` vs ``!= 0``, so
    every third doc is shared) are sketched with ``theta_sketch_agg``
    and combined with ``theta_union`` / ``theta_intersection`` /
    ``theta_difference``.

    Oracle posture (the HLL rule, SURVEY §2.4 Q19 note): theta estimates
    are EXACT while every sketch retains all hashed ids — guaranteed
    here by lgNomEntries=15 (32768 nominal entries vs ≤5000 doc ids per
    source at the gated scales), so the entry is value-hashable. Past
    the exact regime the estimates are error-bound only; the unbounded-
    domain path stays rows-only-with-floor (sketch_*) or KMV (q201).
    Pinned in tests/properties/test_r14_candidate_probes.py.

    Scale shape: one hash aggregate per source building three constant-
    size sketch states map-side (mergeable — the same rollup shape as
    q220's bitmaps but sub-linear state); the set ops run on the tiny
    per-source aggregate frame. At 100 TB this is the audience-overlap
    recipe: sketch once per segment, intersect any pair later without
    touching rows.

    Reference lineage: the indexer's distinct-document set semantics
    (/root/reference/src/mrapps/indexer.go:21-25), here as set ALGEBRA
    over sketched id sets rather than materialized lists.
    """
    return spark.sql(
        """
SELECT source,
       CAST(theta_sketch_estimate(theta_union(a, b, 15)) AS BIGINT)
         AS n_union,
       CAST(theta_sketch_estimate(theta_intersection(a, b)) AS BIGINT)
         AS n_inter,
       CAST(theta_sketch_estimate(theta_difference(a, b)) AS BIGINT)
         AS n_only_a
FROM (
  SELECT source,
         theta_sketch_agg(CASE WHEN doc_id % 3 != 2 THEN doc_id END, 15)
           AS a,
         theta_sketch_agg(CASE WHEN doc_id % 3 != 0 THEN doc_id END, 15)
           AS b
  FROM {docs} GROUP BY source
)
ORDER BY source
""",
        docs=load_table(spark, sf_dir, "documents"),
    )


Q221_ORACLE = """
WITH counts AS (
  SELECT source,
         COUNT(DISTINCT CASE WHEN doc_id % 3 != 2 THEN doc_id END) AS n_a,
         COUNT(DISTINCT CASE WHEN doc_id % 3 != 0 THEN doc_id END) AS n_b,
         COUNT(DISTINCT CASE WHEN doc_id % 3 = 1 THEN doc_id END) AS n_inter,
         COUNT(DISTINCT doc_id) AS n_union
  FROM documents GROUP BY source
)
SELECT source, n_union, n_inter, n_a - n_inter AS n_only_a
FROM counts
ORDER BY source
"""


QUERIES = [
    QuerySpec("q197_kmv_distinct", q197_kmv_distinct, _q197_oracle(),
              "KMV distinct-shingle sketch per source with exact twin and "
              "signed error (the oracle-replayable sketch)",
              ("sketch", "approx", "textanalysis")),
    QuerySpec("q201_theta_set_ops", q201_theta_set_ops, _q201_oracle(),
              "theta/KMV sketch set operations: per-source-pair union and "
              "intersection estimates with exact twins and signed error",
              ("sketch", "approx", "textanalysis", "setops")),
    QuerySpec("q220_bitmap_distinct_rollup", q220_bitmap_distinct_rollup,
              Q220_ORACLE,
              "bucket-bitmap EXACT mergeable distinct counts per returnflag "
              "+ OR-merged all-flags rollup without rescanning rows",
              ("sketch", "exact", "mergeable", "relational")),
    QuerySpec("q230_stored_distinct_rollup", q230_stored_distinct_rollup,
              Q220_ORACLE,
              "q220's rollup answered from the persisted bucketed bitmap "
              "store (write-once, popcount-forever; bkt-bucketed OR-merge)",
              ("sketch", "exact", "mergeable", "store")),
    QuerySpec("q231_bitmask_rollup", q231_bitmask_rollup, Q231_ORACLE,
              "bit_and/bit_or/bit_xor flag-mask rollup per priority "
              "(fixed-size mergeable word state + bit_count coverage)",
              ("sketch", "exact", "mergeable", "bitwise")),
    QuerySpec("q221_theta_audience_overlap", q221_theta_audience_overlap,
              Q221_ORACLE,
              "DataSketches theta union/intersection/difference per source "
              "in the lgk-guaranteed exact regime (value-hashed)",
              ("sketch", "setops", "sql-surface")),
    QuerySpec("sketch_active_users", hll_active_users, None,
              "trailing 7/30-day DAU/WAU/MAU from per-day mergeable HLL "
              "sketches (approximate sibling of exact q149; rows-only, "
              "accuracy-tested)",
              ("sketch", "approx", "mergeable", "product-analytics")),
    QuerySpec("sketch_hll_union", hll_sketch_union, None,
              "per-source DataSketches HLL sketches + union rollup "
              "(mergeable distinct counts; rows-only, accuracy-tested)",
              ("sketch", "approx", "mergeable")),
    QuerySpec("sketch_distinct_parts", approx_distinct_parts, None,
              "HyperLogLog++ distinct partkeys per returnflag (approx twin of q19)",
              ("sketch", "approx")),
    QuerySpec("sketch_price_quantiles", approx_price_quantiles, None,
              "approx_percentile p50/p90/p99 of order totalprice per status",
              ("sketch", "approx")),
    QuerySpec("sketch_heavy_tokens", approx_heavy_tokens, None,
              "freqItems heavy-hitter tokens above 0.2% support (no false negatives)",
              ("sketch", "approx")),
]
