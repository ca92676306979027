"""Typed readers for the driver-provided parquet tables (TESTDATA.md).

The reference engine has no format layer at all — a file is an opaque
string handed to the user map function (/root/reference/src/mr/worker.go:221-232).
Here the source layer is Spark's parquet reader: columnar, predicate
pushdown, column pruning, partition-split parallelism — all properties the
declared queries rely on at 100 TB.

Schemas (FIXTURES.md §B) are *documented* here but not force-applied on
read: parquet footers carry them, and forcing a mismatched StructType
would silently cast. ``expected_schema`` is exposed for tests to assert
the footer matches the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def expected_schema(name: str) -> T.StructType:
    return _SCHEMAS[name]


# Plan-level reuse of loaded tables, keyed by (SparkSession, sf dir,
# table): every `spark.read.parquet` call re-lists the path and
# re-reads the footer driver-side (~0.1 s of py4j + listing per call),
# and the suite loads the same handful of tables hundreds of times.
# The cached object is an UNRESOLVED lazy DataFrame — no data, no
# results, not even a materialized plan; every action on it still
# computes from the parquet input, so this is the same reuse a user
# gets by assigning `df = spark.read.parquet(p)` once per program
# (VERDICT r16 item 5: plan-level reuse, not data caching). The cache
# hangs on the exact session object — a DataFrame binds to the session
# that read it, so a derived `newSession()` (stats.py's v2-conf scope)
# or a fresh application can never be served another session's frame.
# The cached frames reference their session, so cache and session form
# a cycle that the garbage collector frees once nothing else holds the
# session (a map keyed weakly by session would never evict: its values
# would keep their keys alive). The corpus directories are immutable
# snapshots (TESTDATA.md), and tests that write their own tables use
# fresh temp dirs per test.


def session_cache(spark: SparkSession) -> dict:
    """This session's memo dict (loaded tables, stream schemas), stored
    on the session object and freed with it."""
    return spark.__dict__.setdefault("_dmrs_cache", {})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain ``spark.read.parquet`` so Catalyst keeps full
    pushdown/pruning freedom; callers select only the columns they need.

    ``events.ts`` has shipped with two physical parquet types across
    testdata generations, so the loader adapts to the file footer:

    - TIMESTAMP(NANOS): Spark's reader rejects it (PARQUET_TYPE_ILLEGAL)
      — Spark timestamps are microsecond. We read nanos as int64
      (``nanosAsLong``, an engine-level conf declared in
      :mod:`..session` — it cannot be scoped set/restore around this
      lazy read because execution consults it again) and truncate
      ns -> us, matching DuckDB's own ns -> us truncation, so both
      engines see identical microsecond timestamps.
    - TIMESTAMP(MICROS) (current generation): read natively; only
      normalize to TIMESTAMP_NTZ so every downstream plan and oracle
      sees the same wall-clock values regardless of session timezone.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    cache = session_cache(spark)
    key = ("table", sf_dir.rstrip("/"), name)
    if key not in cache:
        cache[key] = _load_table_uncached(spark, sf_dir, name)
    return cache[key]


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        # Engine sessions (session.get_spark) already carry this conf;
        # foreign sessions (the correctness driver builds its own) get it
        # set here, since events is unreadable without it. The session-
        # global effect is deliberate and documented: every TIMESTAMP
        # (NANOS) parquet read in this engine uses the same int64+truncate
        # posture, and a set/restore scoped to this lazy read would break
        # at action time when execution re-reads the conf.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if df.schema["ts"].dataType.simpleString() == "bigint":
            # TIMESTAMP(NANOS) surfaced as int64 under nanosAsLong
            return df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so ``spark.sql`` text matches the
    DuckDB oracle's table names one-for-one."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
