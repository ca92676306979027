"""Similarity search over the ``embeddings`` table.

North-star operator family (BASELINE.json:6): brute-force exact search
as the correctness baseline, an LSH-bucketed variant as the 100 TB scale
path. The reference has nothing comparable (SURVEY §2.3) — this is pure
gap-fill on public PySpark APIs.

Determinism contract (SURVEY §2.4 Q18): distances are accumulated in
float64 over the float32 inputs, ROUNDED to 2 decimals *before* the
argmin, ties broken by smallest candidate id — that exact rule is what
lets Spark and DuckDB agree bit-for-bit.

Scale design:
- q18/q23 broadcast the (tiny, fixed) query set and scan embeddings
  exactly once; the argmin is a partial-aggregatable ``min(struct(d, c))``
  — map-side combine reduces each partition to |Q| rows, so the shuffle
  is |Q| x n_partitions rows regardless of table size. No window, no
  global sort, no driver-side loop.
- For query sets too big to broadcast, ``ann_lsh_bucketed`` hashes both
  sides into LSH buckets (pyspark.ml BucketedRandomProjectionLSH) and
  joins bucket-to-bucket — candidate generation cost scales with bucket
  occupancy, not |table| x |queries|. Approximate => rows-only check
  (an approximation can never hash-match an exact oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_col, l2sq_col
from ..registry import QuerySpec
from ..sources import load_table

N_QUERIES = 20  # q18: vec_id 0..19 play the query set


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def q18_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q"), F.col("embedding").alias("qe")
    )
    pairs = emb.crossJoin(F.broadcast(qs)).filter(F.col("vec_id") != F.col("q"))
    d = F.round(l2sq_col(F.col("qe"), F.col("embedding")), 2)
    return (
        pairs.groupBy("q")
        .agg(
            F.min(F.struct(d.alias("d"), F.col("vec_id").alias("c"))).alias("m")
        )
        .select("q", F.col("m.c").alias("c"), F.col("m.d").alias("d"))
        .orderBy("q")
    )


Q18_ORACLE = """
WITH pairs AS (
  SELECT q.vec_id AS q, c.vec_id AS c,
         ROUND(list_sum(list_transform(range(1, len(q.embedding) + 1),
               i -> (CAST(q.embedding[i] AS DOUBLE)
                     - CAST(c.embedding[i] AS DOUBLE)) ** 2)), 2) AS d
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT q, c, d, ROW_NUMBER() OVER (PARTITION BY q ORDER BY d, c) AS rn
  FROM pairs
)
SELECT q, c, d FROM ranked WHERE rn = 1 ORDER BY q
"""


def q23_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbors for queries vec_id < 10. Uses a window
    (rank within query) — here the partition key is the query id, |Q|
    partitions; WindowGroupLimit pushes the top-3 cut into the sort."""
    emb = _emb(spark, sf_dir)
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q"), F.col("embedding").alias("qe")
    )
    pairs = emb.crossJoin(F.broadcast(qs)).filter(F.col("vec_id") != F.col("q"))
    # + 0.0: a cosine in (-0.005, 0) rounds to IEEE -0.0, which renders
    # differently from 0.0 across engines — normalize to +0.0
    cos = F.round(cosine_col(F.col("qe"), F.col("embedding")), 2) + 0.0
    from pyspark.sql.window import Window

    w = Window.partitionBy("q").orderBy(F.col("cos").desc(), F.col("c").asc())
    return (
        pairs.select(
            "q", F.col("vec_id").alias("c"), cos.alias("cos")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("q", "rn")
    )


Q23_ORACLE = """
WITH pairs AS (
  SELECT q.vec_id AS q, c.vec_id AS c,
         ROUND(
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(range(1, len(q.embedding) + 1),
                i -> CAST(q.embedding[i] AS DOUBLE) ** 2)))
              * SQRT(list_sum(list_transform(range(1, len(c.embedding) + 1),
                i -> CAST(c.embedding[i] AS DOUBLE) ** 2)))), 2) + 0.0 AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT q, c, cos, rn
FROM (SELECT q, c, cos,
             ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, c ASC) AS rn
      FROM pairs)
WHERE rn <= 3
ORDER BY q, rn
"""


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via BucketedRandomProjectionLSH (fixed seed).

    The 100 TB path: both sides are hashed into buckets; the join only
    compares vectors sharing a bucket. Returns (q, c, dist) candidate
    neighbors within the distance threshold. Approximate by design —
    registered without an oracle (rows-only check).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = _emb(spark, sf_dir).withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    qs = emb.filter(F.col("vec_id") < N_QUERIES)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(emb)
    joined = model.approxSimilarityJoin(qs, emb, threshold=4.0, distCol="dist")
    return (
        joined.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("q"),
            F.col("datasetB.vec_id").alias("c"),
            F.round("dist", 2).alias("dist"),
        )
        .orderBy("q", "dist", "c")
    )


IVF_K = 16  # coarse-quantizer cells
IVF_NPROBE = 4  # cells searched per query
IVF_FIT_CAP = 256 * IVF_K  # bounded quantizer-training sample (FAISS regime)
IVF_FIT_ITERS = 5


def _ivf_fit_centers(emb: DataFrame) -> list[list[float]]:
    """Driver-side Lloyd fit of the IVF coarse quantizer over a BOUNDED
    sample — the same division of labor as :func:`_pq_fit_codebook`
    (codebook/quantizer training is a constant-size problem; only
    assignment and search are distributed). Replaces the r16-era
    pyspark.ml KMeans fit: a 16-centroid quantizer over ≤4096 sampled
    vectors is milliseconds of numpy, while the ML fit paid init +
    maxIter distributed passes (~2-3 s of per-job overhead at any
    scale, since the sample is capped regardless of corpus size).
    Deterministic: seeded sample, first-K init, fixed rounds."""
    import numpy as np

    v = F.col("embedding").cast("array<double>").alias("v")
    vecs = emb.select(v)
    sample = np.array(
        [
            r["v"]
            for r in vecs.sample(fraction=0.5, seed=42)
            .limit(IVF_FIT_CAP)
            .collect()
        ]
    )
    # Tiny-corpus guards (ADVICE r16): an empty sample would raise an
    # opaque numpy broadcasting error below; a sample shorter than
    # IVF_K would silently train fewer than K cells and change the
    # nProbe/K semantics. A Bernoulli sample of a tiny frame can come
    # back empty while the frame is not — retry unsampled before
    # declaring the input empty; fail loudly only on a truly empty
    # frame; cycle the rows deterministically up to K otherwise
    # (duplicate centers are harmless for argmin assignment — first
    # position wins ties). The retry orders by vec_id: a bare LIMIT
    # picks whichever rows the partition layout yields first.
    if len(sample) == 0:
        sample = np.array(
            [
                r["v"]
                for r in emb.orderBy("vec_id").select(v).limit(IVF_FIT_CAP).collect()
            ]
        )
    if len(sample) == 0:
        raise ValueError(
            "_ivf_fit_centers: the embeddings frame has no rows — "
            f"cannot fit an IVF coarse quantizer with {IVF_K} cells"
        )
    if len(sample) < IVF_K:
        reps = -(-IVF_K // len(sample))  # ceil
        sample = np.tile(sample, (reps, 1))[:IVF_K]
    C = sample[:IVF_K].copy()
    for _ in range(IVF_FIT_ITERS):
        d2 = ((sample[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for k in range(len(C)):
            members = sample[assign == k]
            if len(members):
                C[k] = members.mean(axis=0)
    return [[float(x) for x in c] for c in C]


def _ivf_assign(emb: DataFrame, centers_list: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cell): row-local argmin over the broadcast
    centroid literals — no shuffle, no ML transform machinery. First
    position wins ties, matching numpy argmin. Rendered as ONE SQL
    string (the _pq_dists_fn rationale: per-literal Column calls are
    py4j round-trips; repr(float) round-trips the doubles exactly)."""
    clit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in c) + ")"
            for c in centers_list
        )
        + ")"
    )
    dvec = (
        f"transform({clit}, c -> aggregate("
        f"zip_with(cast(embedding as array<double>), c, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
    )
    cell = F.expr(
        f"cast(array_position({dvec}, array_min({dvec})) - 1 as int)"
    )
    return emb.select("vec_id", "embedding", cell.alias("cell"))


def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 NN via IVF: k-means coarse quantizer, probe the
    nProbe nearest cells per query, exact L2 within probed cells only.

    The other classic ANN scale path next to LSH: per-query work drops
    from |table| to ~|table| * nProbe / k. Everything is distributed
    except the quantizer fit (bounded-sample driver Lloyd,
    :func:`_ivf_fit_centers` — the FAISS recipe: train on a sample,
    assign everything) and the k centroids themselves (k x dim floats —
    legitimately broadcast; at 100 TB k grows to ~sqrt(n) and stays
    broadcastable). Seeded, but cell assignment is still
    float-sensitive => approximate by design, rows-only check.
    """
    # Widen first: the embeddings parquet is one row group (one scan
    # task), and every downstream step here is row-local HOF math
    # (assignment argmin, per-cell distances) that would otherwise run
    # serially in that task (guide §2.5 input skew; r17: gated on the
    # planned scan width so a many-split cluster scan skips the
    # exchange).
    from ..functions.partitioning import widen_for_rowlocal

    emb = widen_for_rowlocal(_emb(spark, sf_dir))
    centers_list = _ivf_fit_centers(emb)
    assigned = _ivf_assign(emb, centers_list)

    centers = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers_list)],
        "cell int, center array<double>",
    )
    qs = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q"), F.col("embedding").alias("qe")
    )
    from pyspark.sql.window import Window

    # probe list: nProbe nearest centroids per query (|Q| x k rows, tiny)
    probes = (
        qs.crossJoin(F.broadcast(centers))
        .withColumn("cd", l2sq_col(F.col("qe"), F.col("center")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q").orderBy("cd", "cell")
            ),
        )
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("q", "qe", "cell")
    )
    d = F.round(l2sq_col(F.col("qe"), F.col("embedding")), 2)
    w = Window.partitionBy("q").orderBy(F.col("d").asc(), F.col("c").asc())
    return (
        probes.join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("q"))
        .select("q", F.col("vec_id").alias("c"), d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("q", "rn")
    )


# --- q82: per-vector int8 quantization error ---------------------------------

QUANT_LEVELS = 255  # uint8 value range
QUANT_MAX_ID = 100  # bound the hash-checked output window


def q82_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min-max int8 quantization with reconstruction-error
    stats — the compression every 100 TB vector index applies before
    serving (4x smaller than float32, error bounded by scale/2). Per
    vector: scale = (max-min)/255, q_i = round((x_i-min)/scale),
    x'_i = min + q_i*scale; report the scale and max-abs / mean-squared
    reconstruction error.

    Row-local array expressions only (transform/aggregate inside
    codegen) — zero shuffles before the output sort, so the op is
    embarrassingly parallel at any scale. Constant vectors (scale 0)
    quantize to error 0 by contract. All arithmetic in float64 with
    sequential left-to-right folds, mirrored exactly by the DuckDB
    oracle's list functions, so the rounded stats hash-match."""
    emb = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < QUANT_MAX_ID)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    scale = (mx - mn) / QUANT_LEVELS
    # reconstruction x' = mn + round((x-mn)/scale)*scale; scale=0 -> x
    recon = F.when(
        scale > 0,
        F.transform(
            "v", lambda x: mn + F.round((x - mn) / scale, 0) * scale
        ),
    ).otherwise(F.col("v"))
    err = F.zip_with("v", recon, lambda a, b: F.abs(a - b))
    d = emb.select(
        "vec_id",
        F.size("v").alias("dim"),
        F.round(scale, 6).alias("q_scale"),
        err.alias("e"),
    )
    return d.select(
        "vec_id",
        "dim",
        "q_scale",
        (F.round(F.array_max("e"), 6) + 0.0).alias("max_abs_err"),
        (
            F.round(
                F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)
                / F.col("dim"),
                9,
            )
            + 0.0
        ).alias("mse"),
    ).orderBy("vec_id")


Q82_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_min(embedding)::DOUBLE AS mn,
         (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE)
           / {QUANT_LEVELS} AS scale
  FROM embeddings WHERE vec_id < {QUANT_MAX_ID}
),
e AS (
  SELECT vec_id, len(v) AS dim, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> abs(x - (mn + ROUND((x - mn) / scale, 0) * scale)))
              ELSE list_transform(v, x -> 0.0) END AS e
  FROM v
)
SELECT vec_id, CAST(dim AS INT) AS dim,
       ROUND(scale, 6) AS q_scale,
       ROUND(list_max(e), 6) + 0.0 AS max_abs_err,
       ROUND(list_aggregate(list_transform(e, x -> x * x), 'sum') / dim, 9)
         + 0.0 AS mse
FROM e
ORDER BY vec_id
"""


# --- q86: per-label centroids + cluster inertia ------------------------------

def q86_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics: member count, centroid squared
    norm, and inertia (mean squared distance of members to their
    centroid) — the E-step/quality-metric shape of k-means and of
    every embedding-cluster audit (label purity, collapsed clusters).

    posexplode to (label, vec_id, dim) rows, one groupBy for the
    centroid (n_labels x dim rows — tiny), broadcast it back, one
    groupBy per vector then per label. All aggregations are avg/sum
    with map-side partials; the centroid table is n_labels x dim
    regardless of corpus size, so the join side is always
    broadcast-able. Stats rounded to 4 decimals (same float posture as
    the q49 moment aggregates)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select(
        "label", "vec_id", F.posexplode("v").alias("pos", "x")
    )
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    d2 = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(F.sum((F.col("x") - F.col("c")) ** 2).alias("d2"))
    )
    norms = cent.groupBy("label").agg(
        F.round(F.sum(F.col("c") ** 2), 4).alias("centroid_sq_norm")
    )
    return (
        d2.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("d2"), 4).alias("inertia"),
        )
        .join(norms, "label")
        .select("label", "n", "inertia", "centroid_sq_norm")
        .orderBy("label")
    )


Q86_ORACLE = """
WITH ex AS (
  SELECT label, vec_id, CAST(embedding[i] AS DOUBLE) AS x, i AS pos
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
cent AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos),
d AS (
  SELECT e.label, e.vec_id, SUM((e.x - c.c) * (e.x - c.c)) AS d2
  FROM ex e JOIN cent c USING (label, pos)
  GROUP BY e.label, e.vec_id
),
norms AS (
  SELECT label, ROUND(SUM(c * c), 4) AS centroid_sq_norm
  FROM cent GROUP BY label
)
SELECT d.label, COUNT(*) AS n, ROUND(AVG(d2), 4) AS inertia,
       ANY_VALUE(norms.centroid_sq_norm) AS centroid_sq_norm
FROM d JOIN norms USING (label)
GROUP BY d.label
ORDER BY d.label
"""


# --- q98: SemDeDup-style per-cluster representative selection ----------------

SEMDEDUP_KEEP_K = 5  # representatives kept per cluster


def q98_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup pruning (SemDeDup, Abbas et al. 2023 §3 shape):
    within each embedding cluster, rank members by cosine similarity to
    the cluster centroid and keep the k most central as the cluster's
    retained representatives — the "prune semantically redundant data"
    pass that follows clustering in a curation pipeline. Emits
    (label, rank, vec_id, cosine) for the kept set.

    Scale shape: the centroid table is n_labels x dim (broadcast-able
    at any corpus size); dot/norm reductions are linear map-side
    partial aggregates; the final top-k per label is a WindowGroupLimit
    (rank pushed into the sort) over the per-vector score frame —
    nothing quadratic, no pair materialization. Ranking uses the
    4-decimal ROUNDED cosine (tie-break vec_id) so both engines select
    identical sets despite fp summation-order noise."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = emb.select("label", "vec_id", F.posexplode("v").alias("pos", "x"))
    cent = ex.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    s = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sum(F.col("x") ** 2).alias("nv2"),
        )
    )
    cn = cent.groupBy("label").agg(F.sum(F.col("c") ** 2).alias("nc2"))
    cos = s.join(F.broadcast(cn), "label").select(
        "label",
        "vec_id",
        F.round(
            F.col("dot") / F.sqrt(F.col("nv2") * F.col("nc2")), 4
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_centroid").desc(), F.col("vec_id").asc()
    )
    return (
        cos.select(
            "label", F.row_number().over(w).alias("rk"), "vec_id",
            "cos_centroid",
        )
        .filter(F.col("rk") <= SEMDEDUP_KEEP_K)
        .orderBy("label", "rk")
    )


Q98_ORACLE = f"""
WITH ex AS (
  SELECT label, vec_id, CAST(embedding[i] AS DOUBLE) AS x, i AS pos
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
cent AS (SELECT label, pos, AVG(x) AS c FROM ex GROUP BY label, pos),
s AS (
  SELECT e.label, e.vec_id, SUM(e.x * c.c) AS dot, SUM(e.x * e.x) AS nv2
  FROM ex e JOIN cent c USING (label, pos)
  GROUP BY e.label, e.vec_id
),
cn AS (SELECT label, SUM(c * c) AS nc2 FROM cent GROUP BY label),
cos AS (
  SELECT s.label, s.vec_id,
         ROUND(s.dot / sqrt(s.nv2 * cn.nc2), 4) AS cos_centroid
  FROM s JOIN cn USING (label)
)
SELECT label,
       row_number() OVER (PARTITION BY label
                          ORDER BY cos_centroid DESC, vec_id) AS rk,
       vec_id, cos_centroid
FROM cos
QUALIFY rk <= {SEMDEDUP_KEEP_K}
ORDER BY label, rk
"""


# --- ann_pq_adc: product quantization + asymmetric distance ------------------

PQ_M = 16     # subspaces (64-dim vectors -> 16 subvectors of 4 dims)
PQ_SUB = 4    # dims per subspace
PQ_K = 16     # codewords per subspace (codes are 4-bit)
PQ_TOPK = 3
PQ_FIT_SAMPLE = 256  # bounded codebook-training sample (rows, not a fraction)
PQ_FIT_ITERS = 10    # driver-side Lloyd rounds per subspace


def _pq_fit_codebook(sample):
    """Per-subspace Lloyd k-means over a bounded numpy sample — the
    driver-side half of PQ (codebook training is constant-size; only
    encoding and search are distributed). Returns cb[m][k] = codeword
    (list of PQ_SUB floats). Deterministic: first-K init, fixed
    rounds. Shared by ann_pq_adc (raw vectors) and ann_ivfpq
    (cell residuals)."""
    cb = []
    for m in range(PQ_M):
        X = sample[:, m * PQ_SUB:(m + 1) * PQ_SUB]
        C = X[:PQ_K].copy()
        for _ in range(PQ_FIT_ITERS):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(PQ_K):
                members = X[assign == k]
                if len(members):
                    C[k] = members.mean(axis=0)
        cb.append([[float(x) for x in row] for row in C])
    return cb


def _pq_dists_fn(cb):
    """Column-expression builder: dists(col, m) = array of squared L2
    distances from subvector m of ``col`` to every codeword of cb[m]
    (broadcast literals, deterministic left-fold). argmin over it is
    the PQ encoder; evaluated at a query it IS the ADC lookup table.

    The whole expression is rendered as ONE SQL string per (col, m):
    building the same tree from nested ``F.lit``/``F.array`` calls cost
    one py4j round-trip per node (~2000 per encode, measured 1.8 s of
    pure driver-side Column construction at sf0.1 — r16 optimization
    round); ``repr(float)`` is shortest-round-trip so the parsed double
    literals are bit-identical to the numpy codewords. ``col`` must be
    a plain column name."""

    def _cw_sql(m):
        return (
            "array("
            + ",".join(
                "array(" + ",".join(f"{x!r}D" for x in cw) + ")"
                for cw in cb[m]
            )
            + ")"
        )

    def dists(col, m):
        sub = f"slice({col}, {m * PQ_SUB + 1}, {PQ_SUB})"
        return F.expr(
            f"transform({_cw_sql(m)}, c -> aggregate("
            f"zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
            f"0.0D, (acc, x) -> acc + x))"
        )

    return dists


def _pq_encode(frame: DataFrame, dists, in_col: str, keep: list) -> DataFrame:
    """codes[m] = 1-based argmin codeword per subspace. Two-step
    projection so each distance array is computed ONCE and referenced
    twice (min + position)."""
    dcols = frame.select(
        *keep, *[dists(in_col, m).alias(f"d{m}") for m in range(PQ_M)]
    )
    return dcols.select(
        *keep,
        F.array(
            *[
                F.array_position(
                    F.col(f"d{m}"), F.array_min(F.col(f"d{m}"))
                )
                for m in range(PQ_M)
            ]
        ).alias("codes"),
    )


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 NN via Product Quantization with Asymmetric
    Distance Computation (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011) — the third classic ANN scale
    path beside LSH bucketing and IVF probing, and the one that attacks
    MEMORY: each vector is stored as M=16 4-bit codes (8 bytes)
    instead of 64 floats (256 bytes), a 32x compression, and queries
    never touch the original vectors — distance ≈ sum of per-subspace
    lookup-table entries addressed by the stored codes.

    Division of labor (the FAISS recipe, same posture as ann_ivf):
    the codebook fit is driver-side over a bounded sample (here: the
    PQ_K seed vectors' subvectors — deterministic, k x m x sub floats,
    always tiny); ENCODING and SEARCH are pure distributed column
    expressions — per-vector argmin over broadcast codeword literals,
    per-query LUT build, zip_with(lut, code) accumulation. No Python in
    the hot path, no original-vector access at query time. Approximate
    by design => rows-only registration; the recall floor vs exact q23
    lives in tests/test_similarity.py."""
    # Widen first: one-row-group scan, heavy row-local HOF math
    # downstream (PQ encode, LUT build) — guide §2.5 input skew
    # (r17: width-gated, the exploded_tokens rationale).
    from ..functions.partitioning import widen_for_rowlocal

    emb = widen_for_rowlocal(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    # Deterministic sampled codebook fit (the FAISS recipe, as in
    # ann_ivf): collect a BOUNDED sample (256 vectors regardless of
    # corpus size) and run per-subspace Lloyd k-means on the driver
    # with numpy — codebook training is a constant-size problem; only
    # encoding and search touch the full table.
    import numpy as np

    sample = np.array(
        [
            r["v"]
            for r in emb.filter(F.col("vec_id") < PQ_FIT_SAMPLE)
            .orderBy("vec_id")
            .collect()
        ]
    )
    _dists = _pq_dists_fn(_pq_fit_codebook(sample))

    encoded = _pq_encode(emb, _dists, "v", ["vec_id"])

    # Queries build one LUT per subspace (distances to all codewords),
    # carried as an array<array<double>> column; |Q| x M x K doubles.
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q"),
        F.array(*[_dists("v", m) for m in range(PQ_M)]).alias("luts"),
    )
    approx = F.round(
        F.aggregate(
            F.zip_with(
                "luts", "codes", lambda lut, c: F.element_at(lut, c.cast("int"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        2,
    )
    w = Window.partitionBy("q").orderBy(F.col("adist").asc(), F.col("c").asc())
    return (
        encoded.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q"))
        .select(
            "q", F.col("vec_id").alias("c"), approx.alias("adist")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOPK)
        .orderBy("q", "rn")
    )


# --- ann_ivfpq: IVF cells + PQ-coded residuals (the FAISS IVF-PQ index) ------

IVFPQ_NPROBE = 4


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN index: IVF coarse cells (ann_ivf's quantizer)
    composed with PQ-coded RESIDUALS (ann_pq_adc's codec) — FAISS's
    IVFPQ. IVF prunes the search to nProbe cells (compute); PQ stores
    each vector as 8 bytes of codes (memory); encoding residuals
    (v - cell centroid) instead of raw vectors concentrates the value
    range so the same 4-bit budget quantizes finer.

    Query path: rank cells per query, take nProbe; per (query, cell)
    build the ADC lookup tables from the QUERY residual against that
    cell's centroid; join candidates BY CELL (hash join — unlike
    ann_pq_adc's whole-table broadcast scan, work is bounded by probed
    cells); sum table entries addressed by stored codes; top-3. The
    original vectors are never touched at query time. Approximate =>
    rows-only; recall floor in tests/test_similarity.py."""
    import numpy as np

    # Widen first: one-row-group scan, heavy row-local HOF math
    # downstream (residuals, PQ encode) — guide §2.5 input skew
    # (r17: width-gated, the exploded_tokens rationale).
    from ..functions.partitioning import widen_for_rowlocal

    emb = widen_for_rowlocal(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    centers_list = _ivf_fit_centers(
        emb.select("vec_id", F.col("v").alias("embedding"))
    )
    # Consumed by the residual frame AND the query frame — pin so the
    # cell-assignment argmin runs once (the q166/q182 shared-frame
    # rule). Quantizer fit + assignment share ann_ivf_probe's
    # bounded-sample driver Lloyd + row-local argmin (no ML fit jobs —
    # see _ivf_fit_centers).
    assigned = (
        _ivf_assign(emb.select("vec_id", F.col("v").alias("embedding")), centers_list)
        .select("vec_id", F.col("embedding").alias("v"), "cell")
        .localCheckpoint(eager=False)
    )
    centers = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers_list)],
        "cell int, center array<double>",
    )

    # Consumed by the bounded codebook-sample collect AND the encoder —
    # pin so the residual computation runs once.
    res = (
        assigned.join(F.broadcast(centers), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with("v", "center", lambda x, y: x - y).alias("r"),
        )
        .localCheckpoint(eager=False)
    )
    sample = np.array(
        [
            row["r"]
            for row in res.filter(F.col("vec_id") < PQ_FIT_SAMPLE)
            .orderBy("vec_id")
            .collect()
        ]
    )
    dists = _pq_dists_fn(_pq_fit_codebook(sample))
    encoded = _pq_encode(res, dists, "r", ["vec_id", "cell"])

    qs = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q"), F.col("v").alias("qe")
    )
    wq = Window.partitionBy("q").orderBy("cd", "cell")
    probes = (
        qs.crossJoin(F.broadcast(centers))
        .withColumn("cd", l2sq_col(F.col("qe"), F.col("center")))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVFPQ_NPROBE)
        .select(
            "q",
            "cell",
            F.zip_with("qe", "center", lambda x, y: x - y).alias("qr"),
        )
        .select(
            "q",
            "cell",
            F.array(*[dists("qr", m) for m in range(PQ_M)]).alias("luts"),
        )
    )
    approx = F.round(
        F.aggregate(
            F.zip_with(
                "luts", "codes",
                lambda lut, c: F.element_at(lut, c.cast("int")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        2,
    )
    w = Window.partitionBy("q").orderBy(F.col("adist").asc(), F.col("c").asc())
    return (
        probes.join(encoded, "cell")
        .filter(F.col("vec_id") != F.col("q"))
        .select("q", F.col("vec_id").alias("c"), approx.alias("adist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOPK)
        .orderBy("q", "rn")
    )


# --- q110: k-means (Lloyd's algorithm, fixed iterations) ---------------------

KMEANS_K = 4       # clusters
KMEANS_ITERS = 2   # full (assign, update) Lloyd rounds


def _kmeans_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """E-step: nearest centroid per vector. The centroid frame is
    K x dim — broadcast at any corpus size — so the crossJoin plans as a
    BroadcastNestedLoopJoin (K rows per vector, linear in n). Distance
    is a deterministic left-fold over the array (F.aggregate preserves
    index order, matching DuckDB's list_aggregate), so both engines
    compute bit-identical distances from the ROUNDED centroids; argmin
    is min(struct(dist, cid)) — partial-aggregatable, ties to the
    lowest cid."""
    d = F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "cid", d.alias("dist"))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(F.col("dist"), F.col("cid"), F.col("v"))
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.cid").alias("cid"),
            F.col("m.dist").alias("dist"),
            F.col("m.v").alias("v"),
        )
    )


def _kmeans_update(assigned: DataFrame) -> DataFrame:
    """M-step: per-cluster mean vector. posexplode -> (cid, pos) avg
    (map-side partial) -> rebuild the array in index order. Centroids
    are ROUNDED to 6 decimals so the next E-step's inputs are identical
    across engines despite fp summation-order noise in AVG (the q86
    posture, applied between iterations instead of only at output)."""
    m = (
        assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    return m.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.c,
        ).alias("c")
    )


def q110_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means via Lloyd's algorithm (K=4, 2 fixed iterations) — the
    iterative-refinement workload (like pagerank / CC)
    but ORACLE-HASHED: a fixed iteration count plus deterministic seeds
    (initial centroids = the vectors with vec_id < K) makes the whole
    trajectory SQL-expressible, so DuckDB replays it exactly. Emits per
    final cluster: member count and inertia (mean squared distance to
    the assigned centroid).

    Scale shape per iteration: one broadcast E-step (K x dim centroid
    frame, linear scan, partial-agg argmin) + one M-step (posexplode,
    K x dim group keys — output always tiny). Nothing quadratic, no
    driver-side loop over data (the Python loop builds the PLAN, the
    data never leaves the cluster). pyspark.ml.KMeans runs the same
    Lloyd step with sampled init; this variant trades seeding quality
    for cross-engine determinism."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"),
        F.transform("v", lambda x: F.round(x, 6)).alias("c"),
    )
    assigned = None
    for _ in range(KMEANS_ITERS):
        assigned = _kmeans_assign(emb, cent)
        cent = _kmeans_update(assigned)
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dist"), 4).alias("inertia"),
        )
        .orderBy("cid")
    )


def _km_assign_sql(emb_cte: str, cent_cte: str) -> str:
    return f"""
  SELECT vec_id, cid, dist, v FROM (
    SELECT e.vec_id, c.cid,
           list_aggregate(list_transform(range(1, len(e.v) + 1),
               i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])), 'sum') AS dist,
           e.v
    FROM {emb_cte} e CROSS JOIN {cent_cte} c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
"""


def _km_update_sql(assign_cte: str) -> str:
    return f"""
  SELECT cid, list(c ORDER BY pos) AS c FROM (
    SELECT cid, i AS pos, ROUND(AVG(v[i]), 6) AS c
    FROM {assign_cte}, UNNEST(range(1, len(v) + 1)) AS u(i)
    GROUP BY cid, i
  ) GROUP BY cid
"""


Q110_ORACLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, list_transform(v, x -> ROUND(x, 6)) AS c
  FROM emb WHERE vec_id < {KMEANS_K}
),
a1 AS ({_km_assign_sql("emb", "c0")}),
c1 AS ({_km_update_sql("a1")}),
a2 AS ({_km_assign_sql("emb", "c1")})
SELECT cid, COUNT(*) AS n, ROUND(AVG(dist), 4) AS inertia
FROM a2 GROUP BY cid ORDER BY cid
"""


# --- q141: Johnson-Lindenstrauss random projection ---------------------------

JL_D_IN = 64    # input dims (embeddings table)
JL_D_OUT = 16   # projected dims (4x compression)
JL_SAMPLE = 20  # vec_ids reported (full corpus projects identically)


def _jl_signs() -> list[list[int]]:
    """The +-1 projection matrix, derived from md5 so it is a CONSTANT
    shared by the Spark expressions and the oracle SQL — the seeded-
    hash determinism posture (q62/q95/q137) applied to the JL sign
    matrix (Achlioptas 2003: +-1 entries satisfy the JL lemma; no
    Gaussian RNG needed)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0] < "8"
            else -1
            for j in range(JL_D_OUT)
        ]
        for i in range(JL_D_IN)
    ]


def _jl_exprs(elem: str) -> tuple[list[str], str]:
    """(projection expressions p0..p{D_OUT-1}, input-norm expression)
    from an element-access template like ``element_at(embedding, {i})``
    (Spark) or ``embedding[{i}]`` (DuckDB). Every term is cast to
    DOUBLE and summed in a FIXED left-to-right order, so both engines
    run the identical IEEE op sequence — bit-identical results, no
    rounding slack needed anywhere upstream of the final display
    round."""
    signs = _jl_signs()
    el = [f"CAST({elem.format(i=i + 1)} AS DOUBLE)" for i in range(JL_D_IN)]
    projs = []
    for j in range(JL_D_OUT):
        terms = " + ".join(
            f"({'' if signs[i][j] > 0 else '-'}{el[i]})"
            for i in range(JL_D_IN)
        )
        projs.append(f"ROUND(({terms}) / {float(JL_D_OUT) ** 0.5}, 4)")
    norm = (
        "ROUND(SQRT(" + " + ".join(f"{e} * {e}" for e in el) + "), 4)"
    )
    return projs, norm


def q141_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-dim embeddings
    compressed to 16 dims with a seeded +-1 matrix — the dimensionality
    reduction that precedes ANN indexing at scale (project once, build
    the index in the cheap space; pairwise distances survive within
    the JL distortion bound). All 16 components are computed; the
    result carries the first 4 (display) plus the input norm and the
    FULL 16-dim projected norm — their ratio is the per-vector JL
    distortion audit (a partial norm could not certify the bound).

    Scale shape: pure row-local whole-stage-codegen arithmetic (16x64
    = 1024 fused multiply-adds per row, no UDF, no shuffle); the
    sample filter prunes to the reported rows but the projection plan
    is identical for the full corpus."""
    projs, norm = _jl_exprs("element_at(embedding, {i})")
    out_norm = (
        "ROUND(SQRT("
        + " + ".join(f"p{j} * p{j}" for j in range(JL_D_OUT))
        + "), 4)"
    )
    base = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < JL_SAMPLE)
        .select(
            "vec_id",
            *[F.expr(p).alias(f"p{j}") for j, p in enumerate(projs)],
            F.expr(norm).alias("norm_in"),
        )
    )
    return base.select(
        "vec_id", "p0", "p1", "p2", "p3",
        "norm_in",
        F.expr(out_norm).alias("norm_out"),
    ).orderBy("vec_id")


def _q141_oracle() -> str:
    projs, norm = _jl_exprs("embedding[{i}]")
    sel = ", ".join(f"{p} AS p{j}" for j, p in enumerate(projs))
    out_norm = (
        "ROUND(SQRT("
        + " + ".join(f"p{j} * p{j}" for j in range(JL_D_OUT))
        + "), 4)"
    )
    return f"""
WITH proj AS (
  SELECT vec_id, {sel}, {norm} AS norm_in
  FROM embeddings
  WHERE vec_id < {JL_SAMPLE}
)
SELECT vec_id, p0, p1, p2, p3, norm_in, {out_norm} AS norm_out
FROM proj
ORDER BY vec_id
"""


QUERIES = [
    QuerySpec("q141_random_projection", q141_random_projection,
              _q141_oracle(),
              "seeded JL +-1 random projection 64->16 dims with norm "
              "audit (codegen-only dimensionality reduction)",
              ("similarity", "scale")),
    QuerySpec("q18_nearest_neighbor", q18_nearest_neighbor, Q18_ORACLE,
              "exact 1-NN by squared L2 for 20 query vectors (argmin via min(struct))",
              ("similarity",)),
    QuerySpec("q23_cosine_topk", q23_cosine_topk, Q23_ORACLE,
              "exact top-3 cosine neighbors for 10 query vectors",
              ("similarity",)),
    QuerySpec("ann_lsh_bucketed", ann_lsh_bucketed, None,
              "approximate NN via BucketedRandomProjectionLSH (scale path; rows-only)",
              ("similarity", "approx")),
    QuerySpec("ann_ivf_probe", ann_ivf_probe, None,
              "approximate top-3 NN via IVF coarse quantizer + nProbe cells (rows-only)",
              ("similarity", "approx")),
    QuerySpec("ann_ivfpq", ann_ivfpq, None,
              "approximate top-3 NN via IVF cells + PQ-coded residuals "
              "(the FAISS IVFPQ composition; rows-only)",
              ("similarity", "approx", "compression")),
    QuerySpec("ann_pq_adc", ann_pq_adc, None,
              "approximate top-3 NN via product quantization + ADC "
              "lookup tables (32x vector compression; rows-only)",
              ("similarity", "approx", "compression")),
    QuerySpec("q82_embedding_quantization", q82_embedding_quantization,
              Q82_ORACLE,
              "per-vector int8 min-max quantization reconstruction error",
              ("similarity", "compression")),
    QuerySpec("q86_label_centroids", q86_label_centroids, Q86_ORACLE,
              "per-label centroid sq-norm + inertia (k-means E-step shape)",
              ("similarity", "clustering")),
    QuerySpec("q98_semantic_prune", q98_semantic_prune, Q98_ORACLE,
              "SemDeDup-style per-cluster top-k central representatives "
              "(broadcast centroids + WindowGroupLimit)",
              ("similarity", "clustering", "dedup")),
    QuerySpec("q110_kmeans_lloyd", q110_kmeans_lloyd, Q110_ORACLE,
              "k-means Lloyd iterations (K=4, 2 rounds, deterministic "
              "seed) — oracle-replayed iterative clustering",
              ("similarity", "clustering", "iterative")),
]
