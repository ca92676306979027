"""Footer-statistics fast path: COUNT/MIN/MAX without reading data pages.

Parquet row-group metadata already stores row counts and per-column
min/max. Spark's v2 parquet source can answer bare COUNT/MIN/MAX
aggregates from that metadata alone (``PushedAggregation`` in the plan)
— at 100 TB that is the difference between listing footers and scanning
a table. The engine keeps the default v1 source for everything else
(bucketing and the streaming file source are v1-only), so this helper
runs its scan on a *derived* session: ``newSession()`` shares the
SparkContext and catalog but has an isolated SQL conf, letting us enable
the v2 source + aggregate pushdown for exactly this plan and nothing
else (the conf-scoping problem a shared-session ``set``/restore cannot
solve for lazy plans).

Limits (inherited from Spark's pushdown rules, asserted by the plan
test): no filters, no grouping, primitive non-timestamp columns.
"""

from __future__ import annotations

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import TABLES, session_cache


def footer_stats(
    spark: SparkSession, sf_dir: str, table: str, cols: list[str]
) -> DataFrame:
    """COUNT(*) plus MIN/MAX of ``cols`` served from parquet footers."""
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; known: {TABLES}")
    cache = session_cache(spark)
    if "footer_session" not in cache:
        # One derived session per session. Constructing a SparkSession
        # rebinds RDD.toDF to it, which would send every later
        # rdd.toDF() here and keep this session alive; put it back.
        to_df = RDD.toDF
        try:
            ns = spark.newSession()
        finally:
            RDD.toDF = to_df
        ns.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        ns.conf.set("spark.sql.sources.useV1SourceList", "")
        cache["footer_session"] = ns
    df = cache["footer_session"].read.parquet(
        f"{sf_dir.rstrip('/')}/{table}.parquet"
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.agg(*aggs)


def q69_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: lineitem scan statistics off footer metadata."""
    return footer_stats(
        spark, sf_dir, "lineitem", ["l_extendedprice", "l_quantity"]
    )


Q69_ORACLE = """
SELECT COUNT(*) AS n_rows,
       MIN(l_extendedprice) AS min_l_extendedprice,
       MAX(l_extendedprice) AS max_l_extendedprice,
       MIN(l_quantity) AS min_l_quantity,
       MAX(l_quantity) AS max_l_quantity
FROM lineitem
"""


def _build_queries():
    from ..registry import QuerySpec

    return [
        QuerySpec(
            "q69_footer_stats",
            q69_footer_stats,
            Q69_ORACLE,
            "COUNT/MIN/MAX answered from parquet footer metadata (v2 scan)",
            ("source", "stats", "pushdown"),
        )
    ]


QUERIES = _build_queries()
