"""Text-analysis operators for a training-data pipeline.

North-star family (BASELINE.json:6): per-document signals a 100 TB
curation pipeline computes on every record — token counts, quality
scores, language identification, content fingerprints. All four are
single-pass, per-document projections (narrow — zero shuffle until the
final small aggregation, and the per-doc outputs are embarrassingly
parallel at any scale) built from JVM-side expressions only: no Python
in the hot path.

The language-ID heuristic is deliberately simple and *deterministic*
(stopword-hit ratio) so the DuckDB oracle can run the identical rule —
a production pipeline would swap in fastText/CLD3 via a Pandas UDF
(see operators/multimodal.py for the UDF plumbing pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import DUCK_TOKS_EXPR, SPARK_TOKS_EXPR
from ..registry import QuerySpec
from ..sources import load_table

# Keep in sync between the Spark expressions and generated oracle SQL.
STOPWORDS = ("the", "a", "and", "or", "of", "in", "to", "is")
BPE_RE = "[a-zA-Z]+|[0-9]+"  # BPE-ish pre-tokenizer: letter runs / digit runs
KMV_K = 3  # k-min-values fingerprint width


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


_TOKS = SPARK_TOKS_EXPR
_DUCK_TOKS = DUCK_TOKS_EXPR


# --- q28: token counting ----------------------------------------------------

def q28_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document, plus corpus
    totals by source. regexp_count keeps the counting inside codegen."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.size(F.expr("filter(split(text, '\\\\s+'), x -> x != '')")).alias("ws"),
        F.regexp_count("text", F.lit(BPE_RE)).alias("bpe"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.round(F.avg("ws"), 2).alias("avg_ws"),
        )
        .orderBy("source")
    )


Q28_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       ROUND(AVG(ws), 2) AS avg_ws
FROM (SELECT source,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS ws,
             len(regexp_extract_all(text, '{BPE_RE}')) AS bpe
      FROM documents)
GROUP BY source
ORDER BY source
"""

# --- q29: quality scoring ---------------------------------------------------

_SW_LIST_SPARK = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
_SW_LIST_DUCK = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score): the per-document quality frame — length factor
    (saturates at 100 tokens) x stopword-sanity factor (penalizes
    distance from a 20% stopword ratio), rounded to 2 so both engines
    compare identically. Consumed by q29 (histogram) and q72 (canonical
    selection among near-duplicates)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"size({_TOKS})").alias("n_tok"),
        F.expr(
            f"size(filter({_TOKS}, x -> array_contains({_SW_LIST_SPARK}, x)))"
        ).alias("n_stop"),
    )
    return d.select(
        "doc_id",
        F.round(
            F.least(F.col("n_tok") / 100.0, F.lit(1.0))
            * (1 - F.abs(F.col("n_stop") / F.col("n_tok") - 0.2)),
            2,
        ).alias("score"),
    )


# Standalone SELECT twin of doc_quality_scores for oracle composition.
DUCK_SCORED_SQL = f"""
SELECT doc_id,
       ROUND(LEAST(n_tok / 100.0, 1.0)
             * (1 - ABS(CAST(n_stop AS DOUBLE) / n_tok - 0.2)), 2) AS score
FROM (SELECT doc_id,
             len({DUCK_TOKS_EXPR}) AS n_tok,
             len(list_filter({DUCK_TOKS_EXPR},
                             x -> list_contains({_SW_LIST_DUCK}, x))) AS n_stop
      FROM documents)
"""


def q29_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic doc-quality score in [0, 1], binned for a compact
    hash-checked output; the per-doc frame (doc_quality_scores) is the
    real pipeline product."""
    scored = doc_quality_scores(spark, sf_dir)
    return (
        scored.groupBy(F.floor(F.col("score") * 10).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc"))
        .orderBy("bin")
    )


Q29_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         len({_DUCK_TOKS}) AS n_tok,
         len(list_filter({_DUCK_TOKS},
                         x -> list_contains({_SW_LIST_DUCK}, x))) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id,
         ROUND(LEAST(n_tok / 100.0, 1.0)
               * (1 - ABS(CAST(n_stop AS DOUBLE) / n_tok - 0.2)), 2) AS score
  FROM d
)
SELECT CAST(FLOOR(score * 10) AS BIGINT) AS bin,
       COUNT(*) AS n, MIN(doc_id) AS first_doc
FROM scored
GROUP BY 1
ORDER BY bin
"""

# --- q30: language-ID heuristic ---------------------------------------------

def q30_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language guess vs the labeled lang column:
    confusion-matrix style output (labeled lang, predicted, count)."""
    d = _docs(spark, sf_dir).select(
        "lang",
        F.expr(f"size({_TOKS})").alias("n_tok"),
        F.expr(
            f"size(filter({_TOKS}, x -> array_contains({_SW_LIST_SPARK}, x)))"
        ).alias("n_stop"),
    )
    pred = F.when(
        (F.col("n_tok") > 0) & (F.col("n_stop") / F.col("n_tok") >= 0.05), "en"
    ).otherwise("unknown")
    return (
        d.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


Q30_ORACLE = f"""
WITH d AS (
  SELECT lang,
         len({_DUCK_TOKS}) AS n_tok,
         len(list_filter({_DUCK_TOKS},
                         x -> list_contains({_SW_LIST_DUCK}, x))) AS n_stop
  FROM documents
)
SELECT lang,
       CASE WHEN n_tok > 0 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.05
            THEN 'en' ELSE 'unknown' END AS lang_pred,
       COUNT(*) AS n
FROM d
GROUP BY 1, 2
ORDER BY lang, lang_pred
"""

# --- q31: k-min-values document fingerprint ---------------------------------

def q31_kmv_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint = the K smallest distinct shingle hashes, dash-joined.
    A locality-sensitive sketch: shared prefixes => shared content; used
    as a cheap near-dup blocking key. Grouped output (fingerprint, count,
    keeper) mirrors q16's exact-dedup shape one level fuzzier."""
    from .dedup import _doc_shingles, _hash7

    # collect_set dedupes, so hash each shingle to its 28-bit key on the
    # map side and shuffle only (doc_id, bigint) — no distinct pass, no
    # raw shingle strings on the wire.
    sh = _doc_shingles(spark, sf_dir, distinct=False).select(
        "doc_id", _hash7(F.col("sh")).alias("h")
    )
    fp = F.concat_ws(
        "-",
        F.transform(
            F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K),
            lambda x: x.cast("string"),
        ),
    )
    return (
        sh.groupBy("doc_id")
        .agg(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keeper"))
        .orderBy("fp")
    )


Q31_ORACLE = f"""
WITH s AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
),
fps AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             list_sort(list(DISTINCT ('0x' || substr(md5(sh), 1, 7))::BIGINT))[1:{KMV_K}],
             x -> x::VARCHAR), '-') AS fp
  FROM s GROUP BY doc_id
)
SELECT fp, COUNT(*) AS c, MIN(doc_id) AS keeper
FROM fps
GROUP BY fp
ORDER BY fp
"""

# --- q37: intra-document repetition ratio -----------------------------------

def q37_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratio = 1 - distinct/total 3-gram shingles per doc —
    the classic boilerplate/spam signal a curation pipeline thresholds
    on (high ratio = the document repeats itself). Computed without any
    explode-shuffle: both counts are array expressions on the already-
    materialized shingle array, so the per-doc pass is projection-only
    and the only shuffle is the final small histogram."""
    from .dedup import _SPARK_SHINGLES, _SPARK_TOKS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id", F.expr(_SPARK_TOKS).alias("toks")
    ).select("doc_id", F.expr(_SPARK_SHINGLES).alias("shs"))
    ratio = F.when(
        F.size("shs") > 0,
        F.round(
            1 - F.size(F.array_distinct("shs")) / F.size("shs").cast("double"), 2
        ),
    ).otherwise(F.lit(None).cast("double"))
    return (
        sh.select("doc_id", ratio.alias("rep"))
        .groupBy(F.floor(F.col("rep") * 100).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc"))
        .orderBy("bin")
    )


Q37_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shs
  FROM (SELECT doc_id, {{toks}} AS toks FROM documents)
),
r AS (
  SELECT doc_id,
         CASE WHEN len(shs) > 0
              THEN ROUND(1 - CAST(len(list_distinct(shs)) AS DOUBLE) / len(shs), 2)
         END AS rep
  FROM sh
)
SELECT CAST(FLOOR(rep * 100) AS BIGINT) AS bin,
       COUNT(*) AS n, MIN(doc_id) AS first_doc
FROM r
GROUP BY 1
ORDER BY bin
""".format(toks=_DUCK_TOKS)

# --- q53: winnowing fingerprints (rolling k-gram window min) -----------------

WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # window: fingerprint = min hash of 4 consecutive k-grams
_WINNOW_PREFIX = 400  # fingerprint the document head (bounds per-doc work)


def q53_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    char k-gram, slide a w-wide window, keep each window's min hash.
    Guarantees every match of length >= k+w-1 shares a fingerprint,
    storing ~2/(w+1) of the hashes.

    Expressed relationally — k-grams explode to rows, the window min is
    a ROWS-frame over (doc, position) — NOT as nested higher-order
    array functions: Catalyst inlines HOF aliases textually, which
    re-evaluates the gram-hash array per window element (the measured
    O(n²) trap from q24's tokenizer, see BASELINE.md). Per doc the
    frame sort is local; across docs this is embarrassingly parallel —
    zero shuffle until the final per-doc aggregate.
    """
    k, w = WINNOW_K, WINNOW_W
    t = (
        _docs(spark, sf_dir)
        .filter((F.col("doc_id") < 50) & (F.length("text") >= 2 * k))
        .select("doc_id", F.expr(f"substring(text, 1, {_WINNOW_PREFIX})").alias("s"))
    )
    g = t.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(1, length(s) - {k - 1}), i -> substring(s, i, {k}))")
        ).alias("pos", "gram"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("i"),
        F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 7), 16, 10)
        .cast("long")
        .alias("h"),
    )
    from pyspark.sql.window import Window

    wn = Window.partitionBy("doc_id")
    wf = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    fp = F.when(F.col("i") <= F.col("n") - (w - 1), F.col("fp_raw"))
    return (
        g.withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn("fp_raw", F.min("h").over(wf))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_grams"),
            F.countDistinct(fp).alias("n_fps"),
            F.min(fp).alias("min_fp"),
        )
        .orderBy("doc_id")
    )


Q53_ORACLE = f"""
WITH t AS (
  SELECT doc_id, substr(text, 1, {_WINNOW_PREFIX}) AS s
  FROM documents WHERE doc_id < 50 AND LENGTH(text) >= {2 * WINNOW_K}
),
g AS (
  SELECT doc_id, unnest(generate_series(1, len(s) - {WINNOW_K - 1})) AS i, s
  FROM t
),
h AS (
  SELECT doc_id, i,
         (('0x' || substr(md5(substr(s, i, {WINNOW_K})), 1, 7))::BIGINT) AS h,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM g
),
w AS (
  SELECT doc_id, i, n,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp_raw
  FROM h
)
SELECT doc_id, MAX(n) AS n_grams,
       COUNT(DISTINCT CASE WHEN i <= n - {WINNOW_W - 1} THEN fp_raw END) AS n_fps,
       MIN(CASE WHEN i <= n - {WINNOW_W - 1} THEN fp_raw END) AS min_fp
FROM w
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q54: TF-IDF top terms ---------------------------------------------------

def q54_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (first 20 docs) — the classic
    relevance/keyword-extraction signal over the corpus.

    One pass over the exploded tokens: term frequency is the
    (doc, token) groupBy; document frequency is a COUNT window over the
    token partition of that SAME aggregate (tf rows are unique per
    (doc, token), so rows-per-token = docs-containing-token) — no
    second explode, no tf-df self-join. Corpus size N joins in as a
    broadcast single-row aggregate. Ranking orders by the ROUNDED score
    (suite convention) so cross-engine float ulps can't flip ranks;
    ties break on token."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        with_df.filter(F.col("doc_id") < 20)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 2
            ),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


Q54_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKS_EXPR}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok WHERE token <> ''
  GROUP BY doc_id, token
),
with_df AS (
  SELECT doc_id, token, tf, COUNT(*) OVER (PARTITION BY token) AS df
  FROM tf
),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         ROUND(tf * LN((n + 1.0) / (df + 1.0)), 2) AS tfidf
  FROM with_df CROSS JOIN n
  WHERE doc_id < 20
)
SELECT doc_id, token, tf, df, tfidf, rn
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token ASC) AS rn
  FROM scored
)
WHERE rn <= 3
ORDER BY doc_id, rn
"""


# --- q55: token frequency histogram (Zipf curve) -----------------------------

def q55_token_freq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary shape summary: token counts bucketed by order of
    magnitude (decimal digits of the count — an integer-exact bucket,
    deliberately NOT floor(log2(c)), whose float boundary at exact
    powers can land on different sides per engine). Two shuffles
    (token counts, then tiny bucket agg), no global-rank window — the
    Zipf *rank* variant would need a single-partition sort; the count
    histogram carries the same curve shape and scales."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.expr(_TOKS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy(
            F.length(F.col("c").cast("string")).alias("digits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("occurrences"),
            F.max("c").alias("max_count"),
        )
        .orderBy("digits")
    )


Q55_ORACLE = f"""
SELECT LENGTH(CAST(c AS VARCHAR)) AS digits,
       COUNT(*) AS n_tokens,
       CAST(SUM(c) AS BIGINT) AS occurrences,
       MAX(c) AS max_count
FROM (
  SELECT token, COUNT(*) AS c
  FROM (SELECT unnest({DUCK_TOKS_EXPR}) AS token FROM documents)
  GROUP BY token
)
GROUP BY 1
ORDER BY digits
"""


# --- q68: unigram language-model log-probability -----------------------------

LOGPROB_SCALE = 10**6  # fixed-point units for per-token ln terms (q68/q147)


def q68_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the KenLM-style perplexity stand-in used to
    quality-filter pretraining data (word-salad scores low, natural
    repetition scores high).

    Shape: one explode + one token-frequency aggregate, a scalar total
    (1-row broadcast, stays in-plan), then tokens join frequencies and
    re-aggregate per doc. The vocab frame is the only mid-size
    structure (unique tokens); at 100 TB it is GBs and the join is a
    plain hash join on the token key — AQE broadcasts it while it fits,
    shuffles when it doesn't. No Python anywhere.

    Cross-engine fp note: each ln(c/n) term is quantized to integer
    1e-6 units before the per-doc sum (the q158/q162 fixed-point
    pattern — VERDICT r7 item 9), so accumulation order cannot move
    the 4dp hash; both engines round the identical IEEE double, so
    even .5-unit landings agree."""
    tok = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(_TOKS)).alias("token"))
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    return (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(F.log(F.col("c") / F.col("n")) * LOGPROB_SCALE)
                .cast("bigint")
            ).alias("lp_u"),
            F.count(F.lit(1)).alias("n_tok"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("lp_u").cast("double")
                / LOGPROB_SCALE
                / F.col("n_tok").cast("double"),
                4,
            ).alias("logprob"),
            "n_tok",
        )
        .orderBy("doc_id")
    )


Q68_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({DUCK_TOKS_EXPR}) AS token FROM documents),
freq AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(ROUND(LN(c / n) * {LOGPROB_SCALE}) AS BIGINT))
                  AS DOUBLE) / {LOGPROB_SCALE} / CAST(COUNT(*) AS DOUBLE), 4)
         AS logprob,
       COUNT(*) AS n_tok
FROM tok JOIN freq USING (token) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q91: Gopher/C4-style quality-rule funnel --------------------------------

# Rule thresholds chosen so each rule splits the synthetic corpus
# non-trivially (sf0.01: 106 too-short, 99 too-long, 183 stopword-poor
# docs of 500). Mean word length is integer-sum / integer-count in
# double on both engines, so the boundary comparison is exact.
RULE_MIN_TOK = 30
RULE_MAX_TOK = 80
RULE_MIN_MEANLEN = 4.0
RULE_MAX_MEANLEN = 5.0
RULE_MIN_STOPWORDS = 2


def gopher_rule_frame(docs: DataFrame) -> DataFrame:
    """Row-local rule projection over any documents-shaped frame (batch
    OR streaming — it is stateless, so the same expression tree serves
    both): per doc, the four Gopher-rule fail booleans."""
    d = docs.select(
        "source",
        F.expr(f"size({_TOKS})").alias("n_tok"),
        F.expr(
            f"aggregate({_TOKS}, 0L, (a, x) -> a + length(x))"
        ).alias("len_sum"),
        F.expr(
            f"size(array_intersect({_TOKS}, {_SW_LIST_SPARK}))"
        ).alias("n_stop_distinct"),
    ).select(
        "source",
        "n_tok",
        (F.col("len_sum") / F.col("n_tok")).alias("mean_len"),
        "n_stop_distinct",
    )
    return d.select(
        "source",
        (F.col("n_tok") < RULE_MIN_TOK).alias("f_short"),
        (F.col("n_tok") > RULE_MAX_TOK).alias("f_long"),
        (
            (F.col("mean_len") < RULE_MIN_MEANLEN)
            | (F.col("mean_len") > RULE_MAX_MEANLEN)
        ).alias("f_wordlen"),
        (F.col("n_stop_distinct") < RULE_MIN_STOPWORDS).alias("f_stop"),
    )


def gopher_funnel(rules: DataFrame) -> DataFrame:
    """Per-source fail-count funnel over a rule frame. Unordered (the
    streaming twin sorts after its drain; batch sorts inline)."""
    return (
        rules.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("f_short").cast("long")).alias("fail_short"),
            F.sum(F.col("f_long").cast("long")).alias("fail_long"),
            F.sum(F.col("f_wordlen").cast("long")).alias("fail_wordlen"),
            F.sum(F.col("f_stop").cast("long")).alias("fail_stop"),
            F.sum(
                (
                    ~F.col("f_short")
                    & ~F.col("f_long")
                    & ~F.col("f_wordlen")
                    & ~F.col("f_stop")
                ).cast("long")
            ).alias("n_pass"),
        )
        .withColumn(
            "pass_rate", F.round(F.col("n_pass") / F.col("n_docs"), 4)
        )
    )


def q91_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality filter funnel (Rae et al. 2021
    §A1.1.1 document filters, re-expressed as Spark column rules): word
    count bounds, mean-word-length band, and a minimum distinct-stopword
    hit count. Emits the curation dashboard — per-source doc counts,
    per-rule fail counts, and the final keep rate.

    Scale shape: one row-local projection computes every rule inside
    whole-stage codegen (aggregate() for the length sum, array_intersect
    for distinct stopword hits — no explode, no Python), then one tiny
    per-source aggregation. Embarrassingly parallel at 100 TB; the rule
    booleans would feed a `.filter(passes)` writer in production. The
    rule frame and funnel are shared verbatim with the streaming twin
    (q114) — stateless projections serve both execution modes."""
    return gopher_funnel(
        gopher_rule_frame(_docs(spark, sf_dir))
    ).orderBy("source")


Q91_ORACLE = f"""
WITH sig AS (
  SELECT source,
         len(t) AS n_tok,
         CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
           / len(t) AS mean_len,
         len(list_intersect(t, {_SW_LIST_DUCK})) AS n_stop_distinct
  FROM (SELECT source, {DUCK_TOKS_EXPR} AS t FROM documents)
),
rules AS (
  SELECT source,
         n_tok < {RULE_MIN_TOK} AS f_short,
         n_tok > {RULE_MAX_TOK} AS f_long,
         (mean_len < {RULE_MIN_MEANLEN} OR mean_len > {RULE_MAX_MEANLEN})
           AS f_wordlen,
         n_stop_distinct < {RULE_MIN_STOPWORDS} AS f_stop
  FROM sig
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_short,
       CAST(SUM(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_long,
       CAST(SUM(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_wordlen,
       CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_stop,
       CAST(SUM(CASE WHEN NOT f_short AND NOT f_long AND NOT f_wordlen
                      AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       ROUND(SUM(CASE WHEN NOT f_short AND NOT f_long AND NOT f_wordlen
                       AND NOT f_stop THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS pass_rate
FROM rules
GROUP BY source
ORDER BY source
"""


# --- q92: bigram PMI collocations --------------------------------------------

PMI_MIN_COUNT = 20  # bigram support floor — kills noise pairs
PMI_TOP_K = 20


def q92_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K bigram collocations by pointwise mutual information —
    the phrase-mining pass (word2vec-style phrase detection, Mikolov et
    al. 2013 §4) a pipeline runs to decide which token pairs to merge
    before tokenizer training.

    Shape: adjacent pairs are built ROW-LOCALLY with zip_with over the
    token array (no per-doc window, no shuffle by doc_id, no self-join),
    so the corpus is scanned exactly twice (bigram explode + unigram
    explode) and the bigram total comes from the pre-filter bigram
    aggregate — its exchange is shared with the support filter via
    ReuseExchange. The unigram frame joins back twice (vocab-sized —
    broadcast while it fits, plain hash join when it doesn't). The
    final top-K is a sort over the *filtered* bigram frame (support
    >= {PMI_MIN_COUNT}), which is tiny by construction.

    Cross-engine fp decision (VERDICT r7 item 9): PMI is a SINGLE ln()
    per output row — there is no fp accumulation to quantize, so the
    fixed-point treatment q68/q147/q158 received does not apply; the
    only residual risk is one libm call on an identical IEEE double
    landing exactly on a 4dp rounding boundary, accepted as-is."""
    d = _docs(spark, sf_dir).select(F.expr(_TOKS).alias("t"))
    pairs = d.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                " slice(t, 2, greatest(size(t) - 1, 0)),"
                " (a, b) -> struct(a AS x, b AS y))"
            )
        ).alias("p")
    ).select(F.col("p.x").alias("token"), F.col("p.y").alias("nxt"))
    # Both count frames feed multiple consumers under different aliases
    # (bi_all -> total + support filter; uni -> c_x join, c_y join,
    # total) and ReuseExchange can't unify aliased subtrees (the q24
    # lesson) — lazy-checkpoint each so the corpus is scanned exactly
    # twice (bigram explode + unigram explode), never per consumer.
    bi_all = (
        pairs.groupBy("token", "nxt")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    n_bi = bi_all.agg(F.sum("c_xy").cast("double").alias("n_b"))
    bi = bi_all.filter(F.col("c_xy") >= PMI_MIN_COUNT)
    uni = (
        d.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("n_u"))
    scored = (
        bi.join(uni.withColumnRenamed("token", "t1")
                   .withColumnRenamed("c", "c_x"),
                F.col("token") == F.col("t1"))
        .join(uni.withColumnRenamed("token", "t2")
                 .withColumnRenamed("c", "c_y"),
              F.col("nxt") == F.col("t2"))
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.concat_ws(" ", "token", "nxt").alias("bigram"),
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("n_b"))
                    / ((F.col("c_x") / F.col("n_u"))
                       * (F.col("c_y") / F.col("n_u")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("bigram")
    ).limit(PMI_TOP_K)


Q92_ORACLE = f"""
WITH docs_t AS (SELECT doc_id, {DUCK_TOKS_EXPR} AS t FROM documents),
pairs AS (
  SELECT t[i] AS token, t[i + 1] AS nxt
  FROM docs_t, UNNEST(range(1, len(t))) AS u(i)
),
bi AS (
  SELECT token, nxt, COUNT(*) AS c_xy
  FROM pairs
  GROUP BY token, nxt
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
uni AS (
  SELECT token, COUNT(*) AS c
  FROM (SELECT unnest(t) AS token FROM docs_t)
  GROUP BY token
),
n_uni AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_u FROM uni),
n_bi AS (
  SELECT CAST(SUM(GREATEST(len(t) - 1, 0)) AS DOUBLE) AS n_b FROM docs_t
)
SELECT bi.token || ' ' || bi.nxt AS bigram,
       c_xy,
       ROUND(LN((c_xy / n_b) / ((x.c / n_u) * (y.c / n_u))), 4) AS pmi
FROM bi
JOIN uni x ON bi.token = x.token
JOIN uni y ON bi.nxt = y.token
CROSS JOIN n_uni CROSS JOIN n_bi
ORDER BY pmi DESC, bigram
LIMIT {PMI_TOP_K}
"""


# --- q147: bigram language-model log-probability -----------------------------

def q147_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram model — q68's unigram scorer upgraded one
    Markov order: ln((c(w1,w2)+1) / (c(w1·)+V)) averaged over each
    doc's bigrams. Word salad keeps plausible unigrams but implausible
    transitions, so the bigram score separates shuffled text that q68
    cannot.

    Shape: one bigram explode (q92's zip_with idiom), a bigram-count
    aggregate, a prefix-count aggregate derived FROM the bigram counts
    (no third corpus scan), a 1-row vocab scalar that stays in-plan,
    then bigrams join both count frames and re-aggregate per doc.
    The bigram-count frame is the largest mid-structure; the join is a
    plain hash join on the (w1,w2) key — AQE broadcasts it while it
    fits, shuffles when it doesn't. Smoothing keeps every term finite.

    Cross-engine fp note: each ln term is quantized to integer 1e-6
    units before the per-doc sum (q158/q162 fixed-point pattern —
    VERDICT r7 item 9), so accumulation order cannot move the 4dp
    hash; both engines round the identical IEEE double.
    """
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(_TOKS).alias("t"))
        .filter(F.size("t") >= 2)
    )
    big = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                " slice(t, 2, greatest(size(t) - 1, 0)),"
                " (a, b) -> struct(a AS x, b AS y))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.x").alias("w1"), F.col("p.y").alias("w2"))
    # Bigram counts once; prefix counts c(w1, ·) roll up from them so
    # the corpus is scanned exactly twice (bigrams + the vocab scalar).
    cb = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    cp = cb.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    vocab = (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(_TOKS)).alias("token"))
        .agg(F.count_distinct("token").cast("double").alias("v"))
    )
    return (
        big.join(cb, ["w1", "w2"])
        .join(cp, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(
                    F.log(
                        (F.col("c_xy") + 1.0) / (F.col("c_x") + F.col("v"))
                    )
                    * LOGPROB_SCALE
                ).cast("bigint")
            ).alias("lp_u"),
            F.count(F.lit(1)).alias("n_bigram"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("lp_u").cast("double")
                / LOGPROB_SCALE
                / F.col("n_bigram").cast("double"),
                4,
            ).alias("logprob"),
            "n_bigram",
        )
        .orderBy("doc_id")
    )


Q147_ORACLE = f"""
WITH docs_t AS (
  SELECT doc_id, {DUCK_TOKS_EXPR} AS t FROM documents
),
big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM docs_t, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
cb AS (SELECT w1, w2, COUNT(*) AS c_xy FROM big GROUP BY w1, w2),
cp AS (SELECT w1, SUM(c_xy) AS c_x FROM cb GROUP BY w1),
vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
  FROM (SELECT unnest({DUCK_TOKS_EXPR}) AS token FROM documents)
)
SELECT doc_id,
       ROUND(CAST(SUM(CAST(ROUND(LN((c_xy + 1.0) / (c_x + v))
                                 * {LOGPROB_SCALE}) AS BIGINT)) AS DOUBLE)
             / {LOGPROB_SCALE} / CAST(COUNT(*) AS DOUBLE), 4) AS logprob,
       COUNT(*) AS n_bigram
FROM big JOIN cb USING (w1, w2) JOIN cp USING (w1) CROSS JOIN vocab
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q151: cross-source vocabulary-overlap matrix ----------------------------

def q151_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document sources — the
    corpus-drift audit that says which feeds speak the same language
    (near-identical vocab => candidate mirrors worth a dedup pass;
    near-disjoint vocab => a feed that shifts the training mixture).
    The source-level sibling of q77's doc-level dup matrix.

    Shape: dedup to the (source, token) vocabulary frame (map-side
    combinable — the 100 TB corpus collapses to |sources| x |vocab|),
    per-source sizes from it, then a token-keyed self-join counts
    intersections for the source_a < source_b triangle. Per-token join
    fan-out is bounded by |sources|^2 (a constant ~hundreds of pairs),
    NOT corpus size, so the hot all-sources tokens ('the') cost the
    same as rare ones. Union = |A| + |B| - |A∩B| and the Jaccard ships
    as exact integer basis points — no FP anywhere."""
    voc = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(_TOKS)).alias("token"))
        .distinct()
        .localCheckpoint(eager=False)  # sizes + self-join share one dedup pass
    )
    sizes = voc.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        voc.alias("a")
        .join(voc.alias("b"), "token")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("n", "n_a"), "source_a")
        .join(sizes.withColumnRenamed("source", "source_b")
                   .withColumnRenamed("n", "n_b"), "source_b")
        .select(
            "source_a", "source_b", "n_a", "n_b", "n_common",
            F.floor(
                F.lit(10000) * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("bigint").alias("jaccard_bp"),
        )
        .orderBy("source_a", "source_b")
    )


Q151_ORACLE = f"""
WITH voc AS (
  SELECT DISTINCT source, token
  FROM (SELECT source, unnest({DUCK_TOKS_EXPR}) AS token FROM documents)
),
sizes AS (SELECT source, COUNT(*) AS n FROM voc GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM voc a JOIN voc b ON a.token = b.token AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
       CAST(floor(10000 * n_common / (sa.n + sb.n - n_common)) AS BIGINT)
         AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""


# --- q158: character-level Shannon entropy ------------------------------------

ENTROPY_MAX_ID = 200  # docs audited (bounds the hashed output)
ENTROPY_SCALE = 10**6  # fixed-point units for the c*ln(c) terms


def q158_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (letters+space
    alphabet) — the gibberish/encoding-garbage screen: natural prose
    sits near 2.6–3.0 nats, repeated-char spam and base64 blobs fall
    far outside. Complements the token-level q68 log-prob (which needs
    a vocabulary) with a vocabulary-free per-doc signal.

    H = ln(T) - (sum c*ln c)/T from exact integer char counts — one
    log per distinct character (<= 27 terms), not per char occurrence.
    Cross-engine fp note: each c*ln(c) term is quantized to integer
    1e-6 units BEFORE summation (the q162 fixed-point pattern), so the
    accumulated sum is exact BIGINT arithmetic in both engines and
    partition/accumulation order cannot move it; the residual risk is
    per-term only — libm ln() disagreement at a .5-unit quantization
    boundary (1e-6 of one term), far inside the 4dp output rounding.

    Scale shape: explode to (doc, char) then two nested
    map-side-combinable groupBys; fan-out is bounded by document
    length, state by the 27-char alphabet."""
    chars = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < ENTROPY_MAX_ID)
        .select(
            "doc_id",
            F.explode(
                F.split(
                    F.regexp_replace(F.lower("text"), "[^a-z ]", ""), ""
                )
            ).alias("ch"),
        )
        .filter(F.col("ch") != "")
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("t"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.round(
                    F.col("c").cast("double")
                    * F.log(F.col("c").cast("double"))
                    * ENTROPY_SCALE
                ).cast("bigint")
            ).alias("clnc_u"),
        )
        .select(
            "doc_id",
            F.col("t").alias("n_chars_used"),
            "n_distinct",
            F.round(
                F.log(F.col("t").cast("double"))
                - (F.col("clnc_u").cast("double") / ENTROPY_SCALE)
                / F.col("t").cast("double"),
                4,
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


Q158_ORACLE = f"""
WITH chars AS (
  SELECT doc_id, ch
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-z ]', '', 'g'), '')) AS ch
    FROM documents WHERE doc_id < {ENTROPY_MAX_ID}
  )
  WHERE ch <> ''
),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars_used,
       COUNT(*) AS n_distinct,
       ROUND(ln(CAST(SUM(c) AS DOUBLE))
             - (CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                    * {ENTROPY_SCALE}) AS BIGINT))
                     AS DOUBLE) / {ENTROPY_SCALE})
               / CAST(SUM(c) AS DOUBLE), 4) AS entropy
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q168: per-source Zipf exponent -------------------------------------------

ZIPF_TOP = 100  # rank depth for the log-log fit
ZIPF_SCALE = 10**6  # fixed-point units for the ln terms


def q168_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent: the OLS slope of ln(freq) on ln(rank)
    over each source's top-{ZIPF_TOP} tokens — the classic heavy-tail
    health check for a text corpus (natural language sits near -1;
    boilerplate/template-heavy sources flatten, spam steepens). The
    corpus-curation sibling of q162's per-brand elasticity fit.

    Determinism: token frequencies are exact integers; rank is a
    deterministic ROW_NUMBER (freq desc, token asc). Each ln term is
    quantized to integer 1e-6 units BEFORE the OLS sums (the q162/q158
    fixed-point pattern), so all four regression sums are exact BIGINT
    arithmetic; the slope is one identical double expression both
    engines. Magnitudes: |ln| terms <= ln(T)*1e6 ~ 2e7; squared-sum
    over 100 ranks ~ 4e16 — 200x inside int64.

    Scale shape: explode -> map-side-combinable (source, token) count;
    the rank window is PARTITIONED by source (never global), and its
    input is each source's vocabulary, not its token stream. The OLS
    reduce is a per-source integer groupBy — one tiny row per source."""
    from pyspark.sql.window import Window

    freq = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(_TOKS)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("token"))
    ranked = freq.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ZIPF_TOP
    )
    pts = ranked.select(
        "source",
        F.round(F.log(F.col("rank").cast("double")) * ZIPF_SCALE)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * ZIPF_SCALE)
        .cast("bigint")
        .alias("y"),
    )
    agg = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_tokens").cast("double")
    return (
        agg.select(
            "source",
            "n_tokens",
            F.round(
                (n * F.col("sxy").cast("double")
                 - F.col("sx").cast("double") * F.col("sy").cast("double"))
                / (n * F.col("sxx").cast("double")
                   - F.col("sx").cast("double") * F.col("sx").cast("double")),
                4,
            ).alias("zipf_slope"),
        )
        .orderBy("source")
    )


Q168_ORACLE = f"""
WITH freq AS (
  SELECT source, token, COUNT(*) AS c
  FROM (SELECT source, unnest({DUCK_TOKS_EXPR}) AS token FROM documents)
  GROUP BY source, token
),
ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, token ASC) AS rank
  FROM freq
),
pts AS (
  SELECT source,
         CAST(ROUND(ln(CAST(rank AS DOUBLE)) * {ZIPF_SCALE}) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(c AS DOUBLE)) * {ZIPF_SCALE}) AS BIGINT) AS y
  FROM ranked WHERE rank <= {ZIPF_TOP}
),
agg AS (
  SELECT source, COUNT(*) AS n_tokens, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts GROUP BY source
)
SELECT source, n_tokens,
       ROUND((CAST(n_tokens AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
         AS zipf_slope
FROM agg
ORDER BY source
"""


# --- q172: per-source vocabulary richness -------------------------------------

def q172_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary richness: token mass, type count, hapax
    legomena (types seen exactly once), type-token ratio, and hapax
    share — the cheap lexical-diversity profile that separates natural
    prose (high hapax share) from templated/boilerplate text (low),
    complementing q168's distributional (Zipf) view of the same
    frequency table.

    Determinism: counts and ratios of exact integers only; the two
    ratios are single double divisions rounded to 4dp.

    Scale shape: the same map-side-combinable (source, token) count as
    q168, then one tiny per-source rollup — no windows, no joins."""
    freq = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(_TOKS)).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        freq.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("ttr"),
            F.round(
                F.col("n_hapax").cast("double")
                / F.col("n_types").cast("double"),
                4,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


Q172_ORACLE = f"""
WITH freq AS (
  SELECT source, token, COUNT(*) AS c
  FROM (SELECT source, unnest({DUCK_TOKS_EXPR}) AS token FROM documents)
  GROUP BY source, token
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4) AS ttr,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 4) AS hapax_share
FROM freq
GROUP BY source
ORDER BY source
"""


# --- q175: BPE first-merge pair table -----------------------------------------

BPE_TOP_PAIRS = 50  # merge-table depth reported


def q175_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-wide frequency
    of adjacent character pairs inside words, weighted by word
    frequency — the table whose argmax becomes merge #1, reported to
    depth {BPE_TOP_PAIRS}. The suite's q28 counts tokens under a fixed
    BPE-ish regex; this is the other direction — the statistics a
    pipeline computes to BUILD the tokenizer.

    Scale shape: pairs explode from the DISTINCT-word frame (vocab ~
    sqrt-ish of token mass) and multiply by word counts, never from the
    raw token stream — the standard word-counts-first BPE formulation
    (Sennrich et al. 2016). Two map-side-combinable groupBys; the
    top-{BPE_TOP_PAIRS} is a TakeOrdered over the pair vocabulary.

    Determinism: integer counts; ordering (n DESC, pair ASC) is total.
    """
    wc = (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = wc.select(
        "wn",
        F.explode(
            F.expr(
                "zip_with(slice(split(w, ''), 1, greatest(length(w) - 1, 0)),"
                " slice(split(w, ''), 2, greatest(length(w) - 1, 0)),"
                " (a, b) -> concat(a, b))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


Q175_ORACLE = f"""
WITH wc AS (
  SELECT w, COUNT(*) AS wn
  FROM (SELECT unnest({DUCK_TOKS_EXPR}) AS w FROM documents)
  GROUP BY w
),
pairs AS (
  SELECT wn, chars[i] || chars[i + 1] AS pair
  FROM (SELECT wn, string_split_regex(w, '') AS chars FROM wc),
       UNNEST(range(1, len(chars))) AS u(i)
)
SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_TOP_PAIRS}
"""



# --- q176: held-out bigram perplexity -----------------------------------------

def q176_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation done RIGHT: an add-one-
    smoothed bigram model fitted on the q62 md5 TRAIN split scores the
    VAL split's documents — the no-leakage twin of q147, whose
    in-sample score flatters every document that contributed its own
    counts. Per val-doc mean log-prob plus perplexity; the gap between
    this and q147 is the generalization signal a curation pipeline
    actually wants (memorizable boilerplate scores far better in-sample
    than held-out).

    Determinism: the split is md5-deterministic (q62's rule verbatim);
    counts are exact integers; each ln term quantizes to 1e-6
    fixed-point before the per-doc sum (q158 pattern), and perplexity
    exponentiates the ROUNDED mean — one libm exp of an identical
    4dp double both engines.

    Scale shape: identical to q147 (bigram explode, two
    map-side-combinable count aggregates, hash join on the bigram key)
    with a pushdown-able split filter on each side; unseen val bigrams
    hit the smoothing floor via a LEFT join + coalesce, not a lookup
    miss."""
    from .training import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    split_h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    d = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(_TOKS).alias("t"),
            F.when(split_h < SPLIT_TRAIN_MAX, "train")
            .when(split_h < SPLIT_VAL_MAX, "val")
            .otherwise("test")
            .alias("split"),
        )
        .filter(F.size("t") >= 2)
    )
    big = d.select(
        "doc_id",
        "split",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                " slice(t, 2, greatest(size(t) - 1, 0)),"
                " (a, b) -> struct(a AS x, b AS y))"
            )
        ).alias("p"),
    ).select("doc_id", "split", F.col("p.x").alias("w1"), F.col("p.y").alias("w2"))
    cb = (
        big.filter(F.col("split") == "train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .localCheckpoint(eager=False)
    )
    cp = cb.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    vocab = (
        d.filter(F.col("split") == "train")
        .select(F.explode("t").alias("token"))
        .agg(F.count_distinct("token").cast("double").alias("v"))
    )
    val = big.filter(F.col("split") == "val")
    term = F.log(
        (F.coalesce(F.col("c_xy"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c_x"), F.lit(0)) + F.col("v"))
    )
    return (
        val.join(cb, ["w1", "w2"], "left")
        .join(cp, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.round(term * LOGPROB_SCALE).cast("bigint")
            ).alias("lp_u"),
            F.count(F.lit(1)).alias("n_bigram"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("lp_u").cast("double")
                / LOGPROB_SCALE
                / F.col("n_bigram").cast("double"),
                4,
            ).alias("logprob"),
            "n_bigram",
        )
        .select(
            "doc_id",
            "logprob",
            F.round(F.exp(-F.col("logprob")), 2).alias("perplexity"),
            "n_bigram",
        )
        .orderBy("doc_id")
    )


def _q176_oracle() -> str:
    from .training import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    return f"""
WITH d AS (
  SELECT doc_id, {DUCK_TOKS_EXPR} AS t,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_TRAIN_MAX}' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_VAL_MAX}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
dd AS (SELECT * FROM d WHERE len(t) >= 2),
big AS (
  SELECT doc_id, split, t[i] AS w1, t[i + 1] AS w2
  FROM dd, UNNEST(range(1, len(t))) AS u(i)
),
cb AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM big WHERE split = 'train'
  GROUP BY w1, w2
),
cp AS (SELECT w1, SUM(c_xy) AS c_x FROM cb GROUP BY w1),
vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
  FROM (SELECT unnest(t) AS token FROM dd WHERE split = 'train')
),
scored AS (
  SELECT b.doc_id,
         CAST(ROUND(LN((COALESCE(cb.c_xy, 0) + 1.0)
                       / (COALESCE(cp.c_x, 0) + vocab.v))
                    * {LOGPROB_SCALE}) AS BIGINT) AS term_u
  FROM big b
  LEFT JOIN cb USING (w1, w2)
  LEFT JOIN cp USING (w1)
  CROSS JOIN vocab
  WHERE b.split = 'val'
)
SELECT doc_id,
       ROUND(CAST(SUM(term_u) AS DOUBLE) / {LOGPROB_SCALE}
             / CAST(COUNT(*) AS DOUBLE), 4) AS logprob,
       ROUND(EXP(-(ROUND(CAST(SUM(term_u) AS DOUBLE) / {LOGPROB_SCALE}
                         / CAST(COUNT(*) AS DOUBLE), 4))), 2) AS perplexity,
       COUNT(*) AS n_bigram
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""



# --- q184: train/val token-distribution drift (smoothed KL) -------------------

KL_SCALE = 10**9  # fixed-point units per KL term (terms are << 1)


def q184_kl_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(train || val) between the token
    unigram distributions of the md5-hash train and val splits (q62's
    split recipe) with add-1 smoothing over the source's joint
    vocabulary — the split-health check that catches a skewed split or
    a source whose content drifts between splits (a leakage/shift
    smell no row-count comparison sees).

    Scale shape: one explode into (source, token, split) counts, a
    per-source totals frame (tiny — one row per source) broadcast back,
    then one map-side-combinable per-source sum. The vocab frame is the
    only mid-size structure, same as q68.

    Determinism: p and the ln ratio are IEEE-double expressions over
    exact integer counts (identical in both engines); each additive
    term is quantized to integer 1e-9 units before the sum (the
    q68/q158 fixed-point pattern), so accumulation order cannot move
    the 4 dp result."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    from .training import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    tok = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.when(h < SPLIT_TRAIN_MAX, "train")
            .when(h < SPLIT_VAL_MAX, "val")
            .otherwise("test")
            .alias("split"),
            F.explode(F.expr(_TOKS)).alias("token"),
        )
        .filter(F.col("split") != "test")
    )
    counts = tok.groupBy("source", "token").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "c_tr"
        ),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias(
            "c_val"
        ),
    )
    totals = counts.groupBy("source").agg(
        F.sum("c_tr").alias("n_tr"),
        F.sum("c_val").alias("n_val"),
        F.count(F.lit(1)).alias("v"),
    )
    p = (F.col("c_tr") + 1).cast("double") / (
        F.col("n_tr") + F.col("v")
    ).cast("double")
    ratio = (
        (F.col("c_tr") + 1) * (F.col("n_val") + F.col("v"))
    ).cast("double") / (
        (F.col("c_val") + 1) * (F.col("n_tr") + F.col("v"))
    ).cast("double")
    term = F.round(p * F.log(ratio) * KL_SCALE).cast("bigint")
    return (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.max("v").alias("v_types"),
            F.max("n_tr").alias("n_train"),
            F.max("n_val").alias("n_val"),
            F.sum(term).alias("kl_u"),
        )
        .select(
            "source",
            "v_types",
            "n_train",
            "n_val",
            F.round(F.col("kl_u").cast("double") / KL_SCALE, 4).alias(
                "kl_nats"
            ),
        )
        .orderBy("source")
    )


def _q184_oracle() -> str:
    from .training import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    return f"""
WITH tok AS (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_TRAIN_MAX}' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_VAL_MAX}' THEN 'val'
              ELSE 'test' END AS split,
         unnest({DUCK_TOKS_EXPR}) AS token
  FROM documents
),
counts AS (
  SELECT source, token,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_tr,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_val
  FROM tok WHERE split <> 'test'
  GROUP BY source, token
),
totals AS (
  SELECT source, SUM(c_tr) AS n_tr, SUM(c_val) AS n_val,
         COUNT(*) AS v
  FROM counts GROUP BY source
)
SELECT c.source, CAST(MAX(v) AS BIGINT) AS v_types,
       CAST(MAX(n_tr) AS BIGINT) AS n_train,
       CAST(MAX(n_val) AS BIGINT) AS n_val,
       ROUND(CAST(SUM(CAST(ROUND(
           (CAST(c_tr + 1 AS DOUBLE) / CAST(n_tr + v AS DOUBLE))
           * LN(CAST((c_tr + 1) * (n_val + v) AS DOUBLE)
                / CAST((c_val + 1) * (n_tr + v) AS DOUBLE))
           * {KL_SCALE}) AS BIGINT)) AS DOUBLE) / {KL_SCALE}, 4)
         AS kl_nats
FROM counts c JOIN totals t ON t.source = c.source
GROUP BY c.source
ORDER BY c.source
"""


# --- q188: LIX readability per source ------------------------------------------

def q188_lix_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus readability per source via the LIX index (Björnsson):
    LIX = words/sentences + 100 * longwords/words, computed over
    per-source integer totals — the classic "is this source legalese
    or chat?" difficulty signal used to stratify pretraining mixes
    (the readability complement to q29's surface-quality score).

    Sentences = runs of [.!?] (floored at 1 per doc so terminator-free
    fragments count as one sentence); long words = tokens longer than
    6 characters (LIX's syllable-free proxy).

    Scale shape: one projection computes all three counts per doc
    inside codegen (regexp + array filter, no explode), then one
    map-side-combinable rollup per source.

    Determinism: all totals are exact integers; LIX is two IEEE
    divisions and an add over them, identical in both engines."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.expr(f"size({_TOKS})").alias("w"),
        F.greatest(
            F.lit(1),
            F.expr("size(regexp_extract_all(text, '[.!?]+', 0))"),
        ).alias("s"),
        F.expr(f"size(filter({_TOKS}, x -> length(x) > 6))").alias("lw"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("s").alias("n_sentences"),
            F.sum("lw").alias("n_long"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_sentences",
            "n_long",
            F.round(
                F.col("n_words").cast("double")
                / F.col("n_sentences").cast("double")
                + 100.0
                * F.col("n_long").cast("double")
                / F.col("n_words").cast("double"),
                4,
            ).alias("lix"),
        )
        .orderBy("source")
    )


Q188_ORACLE = f"""
WITH d AS (
  SELECT source,
         len({_DUCK_TOKS}) AS w,
         GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
         len(list_filter({_DUCK_TOKS}, x -> length(x) > 6)) AS lw
  FROM documents
),
r AS (
  SELECT source, COUNT(*) AS n_docs, SUM(w) AS n_words,
         SUM(s) AS n_sentences, SUM(lw) AS n_long
  FROM d GROUP BY source
)
SELECT source, n_docs, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_long AS BIGINT) AS n_long,
       ROUND(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
             + 100.0 * CAST(n_long AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
         AS lix
FROM r
ORDER BY source
"""


# --- q189: pairwise source similarity (Jensen-Shannon) -------------------------

def q189_js_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of sources' token
    unigram distributions — the full source-by-source content-drift
    matrix (q184 compares splits WITHIN a source; this compares
    sources to each other, the "which domains are near-duplicates of
    each other" signal used to diversify a pretraining mix).

    Closed-form tail: tokens present in only one of the pair
    contribute exactly (ln 2)/2 times their probability mass, so the
    whole JSD reduces to an aggregate over the INNER join of the two
    count frames — no token-level outer join or zero-fill:
      JSD = 1/2 sum_common [p ln(2p/(p+q)) + q ln(2q/(p+q))]
            + (ln2/2) * ((1 - sum_common p) + (1 - sum_common q)).
    Vocab-DISJOINT pairs (no common token) are still emitted, with
    their exact JSD = ln 2: the full s1<s2 matrix comes from the
    |sources|^2-bounded totals frame, zero-filled where the inner
    join had nothing.

    Scale shape: one (source, token) count frame, self-joined on the
    token key with source< ordering — each token fans out to at most
    |sources|^2/2 pairs, and the join distributes on the token key.
    Per-source totals are a tiny broadcast.

    Determinism: common-token terms are quantized to integer 1e-9
    units before summing (q68 pattern); the tail masses are ratios of
    exact integer sums, combined in one final IEEE expression."""
    tok = _docs(spark, sf_dir).select(
        "source", F.explode(F.expr(_TOKS)).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    # cw feeds both self-join sides — pin one materialization (the
    # q163 shared-frame pattern) instead of re-deriving the explode +
    # count pipeline per side.
    cw = counts.join(F.broadcast(totals), "source").localCheckpoint(
        eager=False
    )
    a = cw.select(
        F.col("source").alias("s1"),
        "token",
        F.col("c").alias("ca"),
        F.col("n").alias("na"),
    )
    bside = cw.select(
        F.col("source").alias("s2"),
        "token",
        F.col("c").alias("cb"),
        F.col("n").alias("nb"),
    )
    j = a.join(bside, "token").filter(F.col("s1") < F.col("s2"))
    p = F.col("ca").cast("double") / F.col("na").cast("double")
    q = F.col("cb").cast("double") / F.col("nb").cast("double")
    term = F.round(
        (
            p * F.log(2.0 * p / (p + q))
            + q * F.log(2.0 * q / (p + q))
        )
        * KL_SCALE
    ).cast("bigint")
    common = j.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(term).alias("core_u"),
        F.sum("ca").alias("ca_common"),
        F.sum("cb").alias("cb_common"),
    )
    # Every pair gets a row, even vocab-DISJOINT ones (no common token
    # -> the inner join emits nothing, but their JSD is exactly ln 2,
    # not no-data): build the full s1<s2 matrix off the tiny totals
    # frame and zero-fill the common-token aggregates.
    tt = totals.select(
        F.col("source").alias("s1"), F.col("n").alias("na")
    ).crossJoin(
        totals.select(F.col("source").alias("s2"), F.col("n").alias("nb"))
    ).filter(F.col("s1") < F.col("s2"))
    pairs = tt.join(common, ["s1", "s2"], "left").select(
        "s1",
        "s2",
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        F.coalesce("core_u", F.lit(0)).alias("core_u"),
        F.coalesce("ca_common", F.lit(0)).alias("ca_common"),
        "na",
        F.coalesce("cb_common", F.lit(0)).alias("cb_common"),
        "nb",
    )
    ln2 = 0.6931471805599453
    return pairs.select(
        "s1",
        "s2",
        "n_common",
        F.round(
            0.5 * F.col("core_u").cast("double") / KL_SCALE
            + (ln2 / 2.0)
            * (
                (
                    1.0
                    - F.col("ca_common").cast("double")
                    / F.col("na").cast("double")
                )
                + (
                    1.0
                    - F.col("cb_common").cast("double")
                    / F.col("nb").cast("double")
                )
            ),
            4,
        ).alias("jsd_nats"),
    ).orderBy("s1", "s2")


Q189_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({DUCK_TOKS_EXPR}) AS token FROM documents
),
counts AS (
  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token
),
totals AS (SELECT source, SUM(c) AS n FROM counts GROUP BY source),
cw AS (SELECT c.source, c.token, c.c, t.n
       FROM counts c JOIN totals t ON t.source = c.source),
j AS (
  SELECT a.source AS s1, b.source AS s2, a.token,
         a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
  FROM cw a JOIN cw b ON a.token = b.token AND a.source < b.source
),
common AS (
  SELECT s1, s2, COUNT(*) AS n_common,
         SUM(CAST(ROUND(
             (CAST(ca AS DOUBLE) / na
                * LN(2.0 * (CAST(ca AS DOUBLE) / na)
                     / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
              + CAST(cb AS DOUBLE) / nb
                * LN(2.0 * (CAST(cb AS DOUBLE) / nb)
                     / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb)))
             * {KL_SCALE}) AS BIGINT)) AS core_u,
         SUM(ca) AS ca_common, SUM(cb) AS cb_common
  FROM j GROUP BY s1, s2
),
pairs AS (
  SELECT ta.source AS s1, tb.source AS s2,
         COALESCE(c.n_common, 0) AS n_common,
         COALESCE(c.core_u, 0) AS core_u,
         COALESCE(c.ca_common, 0) AS ca_common, ta.n AS na,
         COALESCE(c.cb_common, 0) AS cb_common, tb.n AS nb
  FROM totals ta
  JOIN totals tb ON ta.source < tb.source
  LEFT JOIN common c ON c.s1 = ta.source AND c.s2 = tb.source
)
SELECT s1, s2, n_common,
       ROUND(0.5 * CAST(core_u AS DOUBLE) / {KL_SCALE}
             + (0.6931471805599453 / 2.0)
               * ((1.0 - CAST(ca_common AS DOUBLE) / CAST(na AS DOUBLE))
                  + (1.0 - CAST(cb_common AS DOUBLE) / CAST(nb AS DOUBLE))),
             4) AS jsd_nats
FROM pairs
ORDER BY s1, s2
"""


# --- q195: held-out n-gram novelty -------------------------------------------

def q195_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram novelty per source: what fraction of the val
    split's bigram OCCURRENCES were never seen in the same source's
    train split — the coverage/memorization probe behind "is the val
    split actually held out, and does train cover val's phrase space?"
    (q176 scores val under a train LM; this counts raw unseen mass,
    the model-free version).

    Scale shape: one bigram explode (q92's zip_with idiom, row-local),
    a DISTINCT train-bigram frame per source, and one hash left join
    of val bigrams against it keyed on (source, w1, w2) — vocab^2
    bounded, distributed on the join key. Final rollup is map-side
    combinable. All-integer output (rate in basis points).
    """
    from .training import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    d = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.when(h < SPLIT_TRAIN_MAX, "train")
            .when(h < SPLIT_VAL_MAX, "val")
            .otherwise("test")
            .alias("split"),
            F.expr(_TOKS).alias("t"),
        )
        .filter(F.col("split") != "test")
    )
    big = d.select(
        "source",
        "split",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, greatest(size(t) - 1, 0)),"
                " slice(t, 2, greatest(size(t) - 1, 0)),"
                " (a, b) -> struct(a AS x, b AS y))"
            )
        ).alias("p"),
    ).select(
        "source", "split",
        F.col("p.x").alias("w1"), F.col("p.y").alias("w2"),
    )
    train_set = (
        big.filter(F.col("split") == "train")
        .select("source", "w1", "w2")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    val = big.filter(F.col("split") == "val").select(
        "source", "w1", "w2"
    )
    return (
        val.join(train_set, ["source", "w1", "w2"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_val_bigrams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select(
            "source",
            "n_val_bigrams",
            "n_novel",
            F.expr("n_novel * 10000 div n_val_bigrams").alias("novel_bp"),
        )
        .orderBy("source")
    )


def _q195_oracle() -> str:
    from .training import SPLIT_TRAIN_MAX, SPLIT_VAL_MAX

    return f"""
WITH d AS (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_TRAIN_MAX}' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                < '{SPLIT_VAL_MAX}' THEN 'val'
              ELSE 'test' END AS split,
         {DUCK_TOKS_EXPR} AS t
  FROM documents
),
big AS (
  SELECT source, split, t[i] AS w1, t[i + 1] AS w2
  FROM d, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2 AND split <> 'test'
),
train_set AS (
  SELECT DISTINCT source, w1, w2 FROM big WHERE split = 'train'
),
val AS (SELECT source, w1, w2 FROM big WHERE split = 'val')
SELECT v.source, COUNT(*) AS n_val_bigrams,
       CAST(SUM(CASE WHEN ts.w1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN ts.w1 IS NULL THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS novel_bp
FROM val v LEFT JOIN train_set ts
  ON ts.source = v.source AND ts.w1 = v.w1 AND ts.w2 = v.w2
GROUP BY v.source
ORDER BY v.source
"""


def q223_try_quality_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe quality metrics with the ``try_*`` family: curation
    expressions over messy text must not abort a 100 TB job on one bad
    record (div-by-zero on an unpunctuated doc, an unparseable numeric
    field) — ``try_divide`` / ``try_to_number`` return NULL where the
    plain forms raise under ANSI mode, and NULLs flow through the
    aggregates as "metric undefined for this record".

    Per source: documents with no sentence punctuation at all
    (the try_divide NULL census), total floor'd chars-per-sentence over
    the defined rows (per-row FLOOR before the SUM — the established
    integer discipline, raw double quotient sums are order-sensitive in
    the last unit across engines), and the sum of each document's first
    ≤6-digit number parsed with try_to_number (NULL when the doc has
    none, or when the extract is empty).

    Oracle shape: CASE WHEN guards replay every try_* NULL exactly
    (pinned in tests/properties/test_r14_candidate_probes.py); DuckDB's
    TRY_CAST of the empty extract mirrors try_to_number's NULL.

    Scale shape: single-pass per-document codegen projections (regexp
    count/extract + guarded arithmetic), then one small hash aggregate
    keyed by source — the q17/q29 shape, zero Python.

    Reference lineage: record-level fault tolerance — the reference
    tolerates PROCESS crashes and re-runs whole tasks
    (/root/reference/src/mrapps/crash.go:20-33 maybeCrash, worker
    re-dispatch);
    a declarative engine instead tolerates RECORD-level failures
    in-place: try_* turns the bad record into a NULL and the job never
    re-runs anything.
    """
    docs = load_table(spark, sf_dir, "documents")
    sent = F.expr("regexp_count(text, '[.!?]')")
    cps = F.floor(F.expr("try_divide(n_chars, regexp_count(text, '[.!?]'))"))
    first_num = F.expr(
        "try_to_number(regexp_extract(text, '([0-9]{1,6})', 1), '999999')"
    )
    return (
        docs.select(
            "source",
            sent.alias("sent"),
            cps.cast("bigint").alias("cps"),
            first_num.cast("bigint").alias("first_num"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("sent") == 0).cast("bigint")).alias("n_unsentenced"),
            F.sum("cps").alias("sum_chars_per_sent"),
            F.sum((F.col("first_num").isNull()).cast("bigint")).alias(
                "n_numberless"
            ),
            F.sum("first_num").alias("sum_first_num"),
        )
        .orderBy("source")
    )


Q223_ORACLE = """
WITH d AS (
  SELECT source,
         len(regexp_extract_all(text, '[.!?]')) AS sent,
         n_chars,
         TRY_CAST(regexp_extract(text, '([0-9]{1,6})', 1) AS BIGINT)
           AS first_num
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN sent = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unsentenced,
       CAST(SUM(CASE WHEN sent = 0 THEN NULL
                     ELSE CAST(FLOOR(n_chars / sent) AS BIGINT) END)
         AS BIGINT) AS sum_chars_per_sent,
       CAST(SUM(CASE WHEN first_num IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_numberless,
       CAST(SUM(first_num) AS BIGINT) AS sum_first_num
FROM d
GROUP BY source
ORDER BY source
"""


# --- q238: hex-codec content fingerprints --------------------------------------


def q238_hex_codec_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary-codec fingerprint census with the hex surfaces staged in
    the r17 probe file: every document is rendered to its hex byte
    string (``hex``), round-tripped back through ``unhex`` (n_rt == n
    proves the codec is lossless on every row), re-ingested through
    ``try_to_binary(_, 'hex')`` against a deterministically corrupted
    feed (every 9th doc gets a non-hex 'zz' prefix — the NULL-on-error
    posture of the q223/q232/q237 family applied to binary decode), and
    content-addressed two ways: a 12-hex-char (48-bit) prefix
    fingerprint and the full ``md5`` (the portable content-address
    surface pinned in the r15 probe file; crc32/xxhash64 are ruled out
    as Spark-internal). ``bin(doc_id)``'s max length rides along as the
    integer-radix sibling (value-identical in DuckDB, r17 pin 13).

    Oracle replays: ``from_hex`` for unhex; the try_to_binary feed
    check as a hex-charset regexp (NULL iff the string contains a
    non-hex character — exactly Spark's try_ semantics for 'hex').

    Scale shape: every codec call is row-local codegen on the scan —
    the hex render doubles bytes in flight but only inside one
    projection; ONE hash aggregate on source with COUNT/COUNT
    DISTINCT/MAX partials. The two distinct-fingerprint counts shuffle
    (source, fp) pairs — bounded by corpus cardinality, the exact-dedup
    cardinality class q16 already carries at scale.

    Reference lineage: /root/reference/src/mr/worker.go:273-276 —
    ihash(key) content-addresses every intermediate record to its
    reduce bucket; here the same content-address idea is the dedup
    fingerprint itself, with an explicit codec round-trip proof."""
    return spark.sql(
        """
WITH fp AS (
  SELECT source, text, doc_id,
         hex(text) AS hx,
         CASE WHEN doc_id % 9 = 0 THEN concat('zz', hex(text))
              ELSE hex(text) END AS hx_feed
  FROM {documents}
)
SELECT source,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE CAST(unhex(hx) AS STRING) = text) AS n_rt,
       COUNT(*) FILTER (WHERE try_to_binary(hx_feed, 'hex') IS NULL)
         AS n_corrupt,
       COUNT(DISTINCT substr(hx, 1, 12)) AS n_fp12,
       COUNT(DISTINCT md5(text)) AS n_md5,
       MAX(length(bin(doc_id))) AS max_bits
FROM fp GROUP BY source ORDER BY source
""",
        documents=load_table(spark, sf_dir, "documents"),
    )


Q238_ORACLE = """
WITH fp AS (
  SELECT source, text, doc_id,
         hex(text) AS hx,
         CASE WHEN doc_id % 9 = 0 THEN 'zz' || hex(text)
              ELSE hex(text) END AS hx_feed
  FROM documents
)
SELECT source,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE CAST(from_hex(hx) AS VARCHAR) = text) AS n_rt,
       COUNT(*) FILTER (WHERE NOT regexp_matches(hx_feed, '^[0-9a-fA-F]*$'))
         AS n_corrupt,
       COUNT(DISTINCT substr(hx, 1, 12)) AS n_fp12,
       COUNT(DISTINCT md5(text)) AS n_md5,
       CAST(MAX(length(bin(doc_id))) AS BIGINT) AS max_bits
FROM fp GROUP BY source ORDER BY source
"""


# --- q240: token set algebra against the stopword dimension --------------------


def q240_token_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra over document token sets vs the module's
    shared STOPWORDS dimension — the r17-staged surfaces ``array_union``
    / ``array_except`` / ``array_intersect`` / ``arrays_overlap`` /
    ``array_position`` / ``array_remove`` / ``flatten`` as one
    stopword-budget report per language: kept-vocabulary mass after
    stopword removal, stopword vocabulary hits, docs touching any
    stopword, union cardinality mass, the positional mass of 'the'
    (where in each doc it first appears), and raw-minus-'the' lengths.

    ORDER TRAP honored twice (r16 pin 11 + this round's scouting):
    set-producing results only ever feed ``size()`` (order-free), and
    ``array_position`` runs on the RAW token array — never on
    ``array_distinct`` output, whose element ORDER differs between
    engines (Spark keeps first-seen, DuckDB does not: position-on-
    distinct mismatched in the sf0.001 scout and is pinned in the
    round-16 wave-2 property file). NULL pin: DuckDB ``list_position``
    is NULL on a miss where Spark returns 0 — the oracle coalesces.

    Scale shape: the stopword side is a constant literal array (a
    broadcast dim degenerated to a literal — no join at all); every
    set operation is a bounded in-register loop over ~100-token
    arrays inside whole-stage codegen; ONE 5-group hash aggregate.
    This is the row-local algebra a 100 TB stopword-budget audit runs
    in a single scan.

    Reference lineage: /root/reference/src/mrapps/indexer.go:21-25 —
    the indexer's per-document distinct token set, here with the full
    set-algebra toolkit instead of membership only."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return spark.sql(
        f"""
WITH toks AS (
  SELECT lang, {SPARK_TOKS_EXPR} AS raw,
         array_distinct({SPARK_TOKS_EXPR}) AS tk
  FROM {{documents}}
), alg AS (
  SELECT lang, raw, tk, array({stop}) AS stop
  FROM toks
)
SELECT lang,
       COUNT(*) AS n,
       CAST(SUM(size(array_except(tk, stop))) AS BIGINT) AS n_kept,
       CAST(SUM(size(array_intersect(tk, stop))) AS BIGINT) AS n_stop,
       COUNT(*) FILTER (WHERE arrays_overlap(tk, stop)) AS n_hit,
       CAST(SUM(size(array_union(tk, stop))) AS BIGINT) AS n_union,
       CAST(SUM(array_position(raw, 'the')) AS BIGINT) AS pos_mass,
       CAST(SUM(size(array_remove(raw, 'the'))) AS BIGINT) AS n_nothe,
       CAST(SUM(size(flatten(array(tk, stop)))) AS BIGINT) AS n_flat
FROM alg GROUP BY lang ORDER BY lang
""",
        documents=load_table(spark, sf_dir, "documents"),
    )


def _q240_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT lang, {DUCK_TOKS_EXPR} AS raw,
         list_distinct({DUCK_TOKS_EXPR}) AS tk
  FROM documents
), alg AS (
  SELECT lang, raw, tk, [{stop}] AS stop
  FROM toks
)
SELECT lang,
       COUNT(*) AS n,
       CAST(SUM(len(list_filter(tk, x -> NOT list_contains(stop, x))))
            AS BIGINT) AS n_kept,
       CAST(SUM(len(list_filter(tk, x -> list_contains(stop, x))))
            AS BIGINT) AS n_stop,
       COUNT(*) FILTER (WHERE list_has_any(tk, stop)) AS n_hit,
       CAST(SUM(len(list_distinct(list_concat(tk, stop)))) AS BIGINT)
         AS n_union,
       CAST(SUM(coalesce(list_position(raw, 'the'), 0)) AS BIGINT)
         AS pos_mass,
       CAST(SUM(len(list_filter(raw, x -> x != 'the'))) AS BIGINT)
         AS n_nothe,
       CAST(SUM(len(flatten([tk, stop]))) AS BIGINT) AS n_flat
FROM alg GROUP BY lang ORDER BY lang
"""


# --- q245: portable content-address report -------------------------------------


def q245_content_address_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Portable content-addressing census — the r15-pinned fingerprint
    surfaces as one report: ``sha2(text, 256)`` (hex-identical to
    DuckDB's sha256 — the collision-resistant content address q16's md5
    family upgrades to), and the ``base64(encode(...))`` transport
    encoding with a per-row ``unbase64`` round-trip proof.

    NEW TRAP pinned this wave (the r15 probe only covered short
    literals): Spark's ``base64`` is MIME-CHUNKED — it inserts CRLF
    every 76 output chars, so any input over 57 bytes renders with
    embedded line breaks while DuckDB's ``to_base64`` never chunks.
    The portable rendering is ``replace(base64(...), '\\r\\n', '')``;
    the ``n_chunked`` column counts exactly the over-57-byte stratum
    on BOTH engines (Spark: raw != normalized; DuckDB: payload byte
    length > 57), so the boundary itself is driver-checked.

    Scale shape: hashing and encoding are row-local codegen (the
    base64 render is ~4/3x bytes in flight inside one projection,
    never materialized); ONE hash aggregate on source. The distinct-
    sha count shuffles (source, 32-byte digest) pairs — the exact-
    dedup cardinality class.

    Reference lineage: /root/reference/src/mr/worker.go:273-276 —
    ihash(key) as content address; sha2-256 is the grown-up version
    with a transport encoding and its round-trip proof."""
    return spark.sql(
        """
WITH f AS (
  SELECT source, text,
         sha2(text, 256) AS sha,
         replace(base64(encode(text, 'UTF-8')), '\r\n', '') AS b64,
         base64(encode(text, 'UTF-8')) AS b64_raw
  FROM {documents}
)
SELECT source, COUNT(*) AS n,
       COUNT(DISTINCT sha) AS n_sha,
       COUNT(*) FILTER (WHERE CAST(unbase64(b64) AS STRING) = text)
         AS n_rt,
       COUNT(*) FILTER (WHERE b64_raw != b64) AS n_chunked,
       CAST(MAX(length(b64)) AS BIGINT) AS max_b64,
       MIN(sha) AS min_sha
FROM f GROUP BY source ORDER BY source
""",
        documents=load_table(spark, sf_dir, "documents"),
    )


Q245_ORACLE = """
WITH f AS (
  SELECT source, text,
         sha256(text) AS sha,
         to_base64(encode(text)) AS b64
  FROM documents
)
SELECT source, COUNT(*) AS n,
       COUNT(DISTINCT sha) AS n_sha,
       COUNT(*) FILTER (WHERE CAST(from_base64(b64) AS VARCHAR) = text)
         AS n_rt,
       COUNT(*) FILTER (WHERE octet_length(encode(text)) > 57)
         AS n_chunked,
       CAST(MAX(length(b64)) AS BIGINT) AS max_b64,
       MIN(sha) AS min_sha
FROM f GROUP BY source ORDER BY source
"""


# --- q246: field-splice surgery ------------------------------------------------


def q246_field_splice_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Field extraction and splicing with the r15-staged trio:
    ``split_part`` with positive AND negative indexes (1-based from the
    front, -1-based from the end — same semantics in DuckDB by the same
    name), ``translate`` (character-map normalization,
    value-identical), and ``overlay`` (in-place byte-range replacement
    — DuckDB has NO overlay, so the oracle replays the substr splice:
    prefix || patch || suffix). Per source: distinct second words,
    distinct last words, the translated source signature, and distinct
    overlay-redacted prefixes.

    Scale shape: all four functions are row-local codegen; ONE
    20-group hash aggregate. The three COUNT(DISTINCT) terms shuffle
    short (source, token) pairs — vocabulary-bounded, the q21 indexer
    class. This is the field-surgery pass an ingest normalizer runs in
    one scan.

    Reference lineage: /root/reference/src/mrapps/indexer.go:21-25 —
    the indexer's FieldsFunc split is split_part's whole-string
    ancestor; the splice surfaces are its record-repair extension."""
    return spark.sql(
        """
SELECT source, COUNT(*) AS n,
       COUNT(DISTINCT split_part(text, ' ', 2)) AS n_second,
       COUNT(DISTINCT split_part(text, ' ', -1)) AS n_last,
       MAX(translate(source, 'abcdes', 'ABCDE5')) AS tr_sig,
       COUNT(DISTINCT overlay(text PLACING '@@' FROM 3 FOR 2)) AS n_ov
FROM {documents} GROUP BY source ORDER BY source
""",
        documents=load_table(spark, sf_dir, "documents"),
    )


Q246_ORACLE = """
SELECT source, COUNT(*) AS n,
       COUNT(DISTINCT split_part(text, ' ', 2)) AS n_second,
       COUNT(DISTINCT split_part(text, ' ', -1)) AS n_last,
       MAX(translate(source, 'abcdes', 'ABCDE5')) AS tr_sig,
       COUNT(DISTINCT substr(text, 1, 2) || '@@' || substr(text, 5))
         AS n_ov
FROM documents GROUP BY source ORDER BY source
"""


# --- q252: UTF-8 byte-budget census --------------------------------------------


def q252_utf8_budget_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 byte-budget census — the length trio pinned in the r16
    probe file (chars ``length`` / bytes ``octet_length`` == DuckDB
    ``strlen`` / ``bit_length``) over a corpus with a deterministic
    multibyte stratum: every 7th document is prefixed with 'é—' (2- and
    3-byte code points), so bytes > chars exactly on that slice and the
    divergence is driver-checked, not assumed. ``ascii`` (code point of
    the first char — Unicode-identical in DuckDB, including the
    multibyte stratum's 233) and ``lpad`` zero-padding ride along from
    the same probe batch.

    The byte/char split is what a tokenizer-cost estimator actually
    budgets at 100 TB: chars drive sequence lengths, bytes drive I/O
    and Arrow buffer sizes; a corpus where they diverge silently skews
    either estimate.

    Scale shape: all measures are row-local codegen; ONE 20-group
    hash aggregate with SUM/COUNT/MAX partials map-side. Zero joins,
    zero explode — the cheapest census shape in the suite.

    Reference lineage: the byte-counted intermediate files of
    /root/reference/src/mr/worker.go:240-265 (the reference sizes its
    shuffle in bytes while its apps count words — exactly the
    byte-vs-token split this census prices)."""
    return spark.sql(
        """
WITH s AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0 THEN concat('é—', text)
              ELSE text END AS t,
         doc_id
  FROM {documents}
)
SELECT source, COUNT(*) AS n,
       CAST(SUM(length(t)) AS BIGINT) AS chars_mass,
       CAST(SUM(octet_length(t)) AS BIGINT) AS bytes_mass,
       CAST(SUM(bit_length(t)) AS BIGINT) AS bits_mass,
       COUNT(*) FILTER (WHERE octet_length(t) > length(t)) AS n_multibyte,
       CAST(SUM(ascii(substr(t, 1, 1))) AS BIGINT) AS ascii_mass,
       MAX(lpad(CAST(doc_id AS STRING), 8, '0')) AS max_padded
FROM s GROUP BY source ORDER BY source
""",
        documents=load_table(spark, sf_dir, "documents"),
    )


Q252_ORACLE = """
WITH s AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0 THEN 'é—' || text
              ELSE text END AS t,
         doc_id
  FROM documents
)
SELECT source, COUNT(*) AS n,
       CAST(SUM(length(t)) AS BIGINT) AS chars_mass,
       CAST(SUM(strlen(t)) AS BIGINT) AS bytes_mass,
       CAST(SUM(bit_length(t)) AS BIGINT) AS bits_mass,
       COUNT(*) FILTER (WHERE strlen(t) > length(t)) AS n_multibyte,
       CAST(SUM(ascii(substr(t, 1, 1))) AS BIGINT) AS ascii_mass,
       MAX(lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS max_padded
FROM s GROUP BY source ORDER BY source
"""


QUERIES = [
    QuerySpec("q195_ngram_novelty", q195_ngram_novelty, _q195_oracle(),
              "held-out bigram novelty rate per source (val occurrences "
              "unseen in same-source train, exact integer bp)",
              ("textanalysis", "training", "quality")),
    QuerySpec("q188_lix_readability", q188_lix_readability, Q188_ORACLE,
              "per-source LIX readability index over exact integer "
              "word/sentence/long-word totals",
              ("textanalysis", "quality")),
    QuerySpec("q189_js_source_similarity", q189_js_source_similarity,
              Q189_ORACLE,
              "pairwise Jensen-Shannon divergence between source token "
              "distributions (closed-form tail, inner join only)",
              ("textanalysis", "stats", "curation")),
    QuerySpec("q184_kl_source_drift", q184_kl_source_drift,
              _q184_oracle(),
              "per-source smoothed KL(train||val) token-distribution "
              "drift over the md5 split (integer-quantized ln terms)",
              ("textanalysis", "training", "stats")),
    QuerySpec("q168_zipf_exponent", q168_zipf_exponent, Q168_ORACLE,
              "per-source Zipf slope from integer-quantized log-log OLS "
              "over the top-100 tokens (heavy-tail corpus health check)",
              ("textanalysis", "stats", "quality")),
    QuerySpec("q176_heldout_perplexity", q176_heldout_perplexity,
              _q176_oracle(),
              "held-out bigram perplexity: train-split LM scores the "
              "val split, no leakage (q147's in-sample twin)",
              ("textanalysis", "quality", "training")),
    QuerySpec("q175_bpe_merge_pairs", q175_bpe_merge_pairs, Q175_ORACLE,
              "BPE training step 1: word-frequency-weighted adjacent "
              "char-pair merge table (top-50)",
              ("textanalysis", "tokenizer")),
    QuerySpec("q172_vocab_richness", q172_vocab_richness, Q172_ORACLE,
              "per-source token/type/hapax profile with TTR and hapax "
              "share (lexical-diversity quality signal)",
              ("textanalysis", "quality")),
    QuerySpec("q158_char_entropy", q158_char_entropy, Q158_ORACLE,
              "per-doc character Shannon entropy over the a-z+space "
              "alphabet (gibberish screen; logs only per distinct char)",
              ("textanalysis", "quality")),
    QuerySpec("q28_token_counts", q28_token_counts, Q28_ORACLE,
              "whitespace + BPE-ish regex token counts by source",
              ("textanalysis",)),
    QuerySpec("q29_quality_score", q29_quality_score, Q29_ORACLE,
              "deterministic doc quality score, binned histogram",
              ("textanalysis",)),
    QuerySpec("q30_lang_id", q30_lang_id, Q30_ORACLE,
              "stopword-ratio language-ID vs labeled lang (confusion counts)",
              ("textanalysis",)),
    QuerySpec("q31_kmv_fingerprint", q31_kmv_fingerprint, Q31_ORACLE,
              "k-min-values shingle fingerprint buckets",
              ("textanalysis", "dedup")),
    QuerySpec("q37_repetition_ratio", q37_repetition_ratio, Q37_ORACLE,
              "intra-doc 3-gram repetition ratio histogram (boilerplate signal)",
              ("textanalysis", "quality")),
    QuerySpec("q53_winnowing_fingerprints", q53_winnowing_fingerprints,
              Q53_ORACLE,
              "winnowing (MOSS) rolling k-gram window-min fingerprints",
              ("textanalysis", "fingerprint")),
    QuerySpec("q54_tfidf", q54_tfidf, Q54_ORACLE,
              "top-3 TF-IDF terms per doc (single token pass, window df)",
              ("textanalysis", "tfidf")),
    QuerySpec("q55_token_freq_histogram", q55_token_freq_histogram,
              Q55_ORACLE,
              "Zipf-curve token-frequency histogram (digit buckets)",
              ("textanalysis", "vocab")),
    QuerySpec("q68_unigram_logprob", q68_unigram_logprob, Q68_ORACLE,
              "per-doc mean unigram log-prob (perplexity-style quality)",
              ("textanalysis", "quality")),
    QuerySpec("q91_gopher_rules", q91_gopher_rules, Q91_ORACLE,
              "Gopher/C4 quality-rule filter funnel per source",
              ("textanalysis", "quality")),
    QuerySpec("q92_bigram_pmi", q92_bigram_pmi, Q92_ORACLE,
              "top-K bigram collocations by PMI (phrase mining)",
              ("textanalysis", "vocab")),
    QuerySpec("q147_bigram_logprob", q147_bigram_logprob, Q147_ORACLE,
              "per-doc mean add-one bigram log-prob (order-2 fluency score; "
              "catches shuffled text q68's unigram model cannot)",
              ("textanalysis", "quality")),
    QuerySpec("q151_vocab_overlap", q151_vocab_overlap, Q151_ORACLE,
              "pairwise source-vocabulary Jaccard matrix in integer basis "
              "points (corpus-drift / mirror-feed audit; token-keyed join "
              "bounded by |sources|^2 per token)",
              ("textanalysis", "dedup", "audit")),
    QuerySpec("q223_try_quality_guards", q223_try_quality_guards,
              Q223_ORACLE,
              "error-safe curation metrics via try_divide/try_to_number "
              "(NULL-on-error census + guarded integer aggregates)",
              ("textanalysis", "quality", "sql-surface")),
    QuerySpec("q238_hex_codec_fingerprint", q238_hex_codec_fingerprint,
              Q238_ORACLE,
              "hex/unhex/try_to_binary codec round-trip census with "
              "48-bit prefix + md5 content fingerprints per source",
              ("textanalysis", "fingerprint", "error-safe")),
    QuerySpec("q240_token_set_algebra", q240_token_set_algebra,
              _q240_oracle(),
              "array set algebra vs the stopword dim: except/intersect/"
              "union/overlap/position/remove/flatten budget report",
              ("textanalysis", "array", "curation")),
    QuerySpec("q245_content_address_report", q245_content_address_report,
              Q245_ORACLE,
              "sha2-256 + base64 content addressing with round-trip proof "
              "and the MIME-chunking boundary driver-checked",
              ("textanalysis", "fingerprint", "codec")),
    QuerySpec("q246_field_splice_report", q246_field_splice_report,
              Q246_ORACLE,
              "split_part (+/- indexes) / translate / overlay field "
              "surgery per source (substr-splice overlay replay)",
              ("textanalysis", "scalar", "sql-surface")),
    QuerySpec("q252_utf8_budget_census", q252_utf8_budget_census,
              Q252_ORACLE,
              "length/octet_length/bit_length byte-budget census with a "
              "planted multibyte stratum + ascii/lpad riders",
              ("textanalysis", "scalar", "quality")),
]
