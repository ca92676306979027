"""Custom aggregate surface: vectorized Pandas UDAF.

The reference has no UDAF interface — its single extension point is the
map/reduce function pair (/root/reference/src/mr/worker.go:280-301,
SURVEY §2.3 "no UDAF/UDTF interfaces"). Spark's native analog is the
grouped-aggregate ``pandas_udf``: the UDAF receives each group's column
as an Arrow-backed pandas Series and returns one scalar — vectorized
(no per-row Python), partial-aggregation-free (holistic), and usable in
``groupBy().agg()`` like any built-in.

The demo aggregate is the geometric mean of order totals per order
priority — numerically exp(mean(log x)), so a DuckDB oracle can check
the Python path bit-for-bit (after the suite's standard ROUND). A real
pipeline would use this interface for aggregates SQL cannot express
(e.g. a streaming sketch merge); the point here is the wiring: Arrow
batches in, scalar out, engine handles the shuffle.

Scale note: grouped-agg pandas UDAFs are holistic — every group's
values materialize in one task, exactly like ``collect_set`` — so the
skew guidance from ``functions/agg.py`` (salt hot keys, merge partials)
applies when a group can be a whale. Priorities here have ~5 groups of
uniform size; the salted twin is the documented escape hatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources import load_table


def _geomean_udaf():
    """Built lazily: ``pandas_udf`` parses its DDL return type against
    the active session, so decorating at import time would make the
    registry unimportable without Spark running. (pandas/numpy import
    at module level so the UDFs' postponed type hints resolve.)"""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        # exp(mean(log)) rather than prod()**(1/n): the product of 60k
        # prices overflows float64 immediately; the log-domain form is
        # the numerically standard geometric mean.
        return float(np.exp(np.log(v.to_numpy()).mean()))

    @pandas_udf("long")
    def n_values(v: pd.Series) -> int:
        # Spark disallows mixing grouped-agg pandas UDFs with built-in
        # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
        # group size is a second UDAF over the same column.
        return len(v)

    return geomean, n_values


def q70_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    geomean, n_values = _geomean_udaf()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(geomean("o_totalprice"), 2).alias("geomean_price"),
            n_values("o_totalprice").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


Q70_ORACLE = """
SELECT o_orderpriority,
       ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geomean_price,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q71: Python UDTF (table function) ---------------------------------------

def q71_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE function surface: a Python UDTF that explodes
    each nation name into (pos, token) rows, applied laterally — the
    one-row-to-many extension point (§2.3: the reference has "no
    UDAF/UDTF interfaces"; its only fan-out is the map function's kv
    list). Arrow-optimized (useArrow=True): rows cross the Python
    boundary in Arrow batches (ArrowEvalPythonUDTF), keeping even the
    API-surface demo off the row-at-a-time path; every hot-path fan-out
    in this engine (shingling, chunking, q51 posexplode) stays on
    codegen explode — the UDTF is API surface, not a scan operator."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string", useArrow=True)
    class Tokenize:
        def eval(self, name: str):
            for i, tok in enumerate(name.split(" "), start=1):
                yield i, tok

    spark.udtf.register("tokenize_name", Tokenize)
    return spark.sql(
        """
        SELECT p.p_partkey, t.pos, t.token
        FROM {part} p, LATERAL tokenize_name(p.p_name) t
        ORDER BY p.p_partkey, t.pos
        """,
        part=load_table(spark, sf_dir, "part").filter(
            F.col("p_partkey") < UDTF_KEY_CAP
        ),
    )


UDTF_KEY_CAP = 200  # bound the demo fan-out (p_name is ~5 tokens each)

Q71_ORACLE = f"""
WITH toks AS (
  SELECT p_partkey, string_split(p_name, ' ') AS t FROM part
  WHERE p_partkey < {UDTF_KEY_CAP}
)
SELECT p_partkey, CAST(i AS INT) AS pos, t[i] AS token
FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
ORDER BY p_partkey, pos
"""


def q108_pandas_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q87's per-type OLS trend computed by an ``applyInPandas`` group
    processor instead of the JVM regr_* aggregates, hash-checked against
    the SAME DuckDB oracle — the parity demo for custom Python
    operators: most applyInPandas pipelines get rows-only checks
    because they express non-SQL logic; this one deliberately
    recomputes a SQL-expressible aggregate so the Arrow group path
    itself is value-verified cross-engine.

    The pandas side evaluates the identical algebraic sums
    (n·Σxy − Σx·Σy etc., float64) as regr_slope, so the only
    cross-path difference is summation order — inside the rounding
    budget q87 already pins. Scale posture matches every grouped
    applyInPandas: holistic per group; groups here are the event-type
    vocabulary."""
    from .events import Q87_ORACLE  # noqa: F401  (oracle shared)

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
            )
            / 3600.0
        ).alias("x"),
        F.col("value").alias("y"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype="float64")
        y = pdf["y"].to_numpy(dtype="float64")
        n = float(len(x))
        sx, sy = x.sum(), y.sum()
        sxx, sxy, syy = (x * x).sum(), (x * y).sum(), (y * y).sum()
        dx = n * sxx - sx * sx
        slope = (n * sxy - sx * sy) / dx
        intercept = (sy - slope * sx) / n
        dy = n * syy - sy * sy
        r2 = (n * sxy - sx * sy) ** 2 / (dx * dy)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [int(n)],
                "slope": [slope],
                "intercept": [intercept],
                "r2": [r2],
            }
        )

    fitted = ev.groupBy("event_type").applyInPandas(
        fit,
        "event_type string, n bigint, slope double, "
        "intercept double, r2 double",
    )
    # rounding stays Spark-side so tie-breaking matches the rest of the
    # suite (Python's round() is banker's; F.round is the pinned posture)
    return fitted.select(
        "event_type",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("event_type")


def _q108_oracle() -> str:
    from .events import Q87_ORACLE

    return Q87_ORACLE


# --- q202: applyInArrow group processor (Arrow-native, no pandas) -------------


def q202_arrow_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q70's geometric mean recomputed through ``groupBy().applyInArrow``
    — Spark 4's Arrow-NATIVE group processor: each group arrives as one
    ``pyarrow.Table`` and returns one, with no pandas materialization
    between the Arrow batch and user code (the pandas layer q70/q108
    ride adds a columnar->pandas copy per group; for numeric-only
    aggregates Arrow->numpy is zero-copy). Hash-checked against the
    same geometric-mean SQL as q70, so the two UDAF surfaces are
    differentially tested against each other through a common oracle.

    Scale note: like every full-group processor this is holistic —
    a group's rows materialize in one task (q70's skew caveat applies;
    ~5 uniform priority groups here). The rounding happens ENGINE-side
    (F.round on the returned double), so Python only computes the raw
    exp(mean(log)) both engines replay.

    Reference lineage: worker.go:280-301 (the reference's map/reduce
    callables are its whole custom-aggregate surface); this is the
    Arrow-native rung of that ladder."""
    import pyarrow as pa

    def geo(table: pa.Table) -> pa.Table:
        v = table.column("o_totalprice").to_numpy(zero_copy_only=False)
        return pa.table(
            {
                "o_orderpriority": [
                    table.column("o_orderpriority")[0].as_py()
                ],
                "gm_raw": [float(np.exp(np.log(v).mean()))],
                "n": [len(v)],
            }
        )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return (
        orders.groupBy("o_orderpriority")
        .applyInArrow(
            geo, schema="o_orderpriority string, gm_raw double, n long"
        )
        .select(
            "o_orderpriority",
            F.round("gm_raw", 2).alias("geomean_price"),
            "n",
        )
        .orderBy("o_orderpriority")
    )


Q202_ORACLE = """
SELECT o_orderpriority,
       ROUND(EXP(AVG(LN(o_totalprice))), 2) AS geomean_price,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q204: declarative SQL UDF (CREATE FUNCTION ... RETURN expr) ---------------


def q204_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top rung of the extension-point ladder: Spark 4 SQL scalar
    UDFs (``CREATE FUNCTION ... RETURNS ... RETURN <expr>``). Unlike
    every Python surface below it (row UDF, pandas UDAF, applyInArrow,
    UDTF), a SQL UDF is INLINED by Catalyst at plan time — the plan for
    this query shows ``partial_sum((p * (1.0 - d)))`` inside
    WholeStageCodegen with full column pruning, exactly as if the
    expression were written in place. At 100 TB that makes it the only
    UDF kind with literally zero invocation cost: reusable business
    logic (pricing, banding) with built-in-function performance.

    Three UDFs exercised: two arithmetic (TPC-H Q1's derived revenue
    and charge expressions, factored out as functions) and one
    control-flow (a CASE discount band), composed in one rollup per
    ship-year x band.

    Determinism: double sums ROUND(...,2) (the q4 recipe, green since
    round 1); band edges are exact double literals compared against
    parquet values — identical in both engines.

    Reference lineage: worker.go:280-301 — the reference's map/reduce
    callables are its whole extension surface; SURVEY §2.3 "no
    UDAF/UDTF interfaces"."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q204_disc_price(p DOUBLE,"
        " d DOUBLE) RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q204_charge(p DOUBLE,"
        " d DOUBLE, t DOUBLE) RETURNS DOUBLE"
        " RETURN p * (1.0 - d) * (1.0 + t)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q204_disc_band(d DOUBLE)"
        " RETURNS STRING RETURN CASE WHEN d < 0.03 THEN 'LOW'"
        " WHEN d < 0.07 THEN 'MID' ELSE 'HIGH' END"
    )
    return spark.sql(
        """
        SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
               q204_disc_band(l_discount) AS disc_band,
               COUNT(*) AS n_items,
               ROUND(SUM(q204_disc_price(l_extendedprice, l_discount)), 2)
                 AS revenue,
               ROUND(SUM(q204_charge(l_extendedprice, l_discount, l_tax)), 2)
                 AS charge
        FROM {lineitem}
        GROUP BY 1, 2
        ORDER BY 1, 2
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


Q204_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
       CASE WHEN l_discount < 0.03 THEN 'LOW'
            WHEN l_discount < 0.07 THEN 'MID' ELSE 'HIGH' END AS disc_band,
       COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
         AS charge
FROM lineitem
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- q205: declarative SQL TABLE function (CREATE FUNCTION ... RETURNS TABLE) --


def q205_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL *table* functions — ``CREATE FUNCTION ... RETURNS TABLE
    (...) RETURN SELECT ...`` — the declarative sibling of q71's Python
    UDTF, completing the SQL-UDF ladder q204's scalar functions
    started. A parameterized relation (here: the per-priority order
    rollup for one market segment after a cutoff) is defined once and
    invoked per argument set in the FROM clause; Catalyst inlines each
    invocation into the plan like a parameterized view, so the joins
    and aggregates below get full pushdown/pruning/partial-agg
    treatment — zero invocation cost, unlike q71 whose fan-out runs in
    a Python worker.

    The query calls the function twice (BUILDING and MACHINERY) and
    unions the invocations, proving args actually parameterize the
    body rather than being captured once. The correlated form
    (``FROM t, LATERAL tf(t.col)``) is deliberately NOT exercised: in
    this Spark build a correlated table-function call whose body ends
    in ORDER BY ... LIMIT returned wrong rows in a pre-registration
    probe (dropped groups + wrong per-group rows), so the query pins
    the plain-invocation surface only; q119 covers LATERAL via
    correlated subqueries, which decorrelate correctly.

    Determinism: money is summed in integer cents (floor(p*100+0.5));
    the SUM is CAST to BIGINT in both engines (DuckDB HUGEINT rule).

    Scale shape: each invocation is the same broadcast-able
    customer⋈orders rollup a hand-written query would plan (the filter
    on c_mktsegment reaches the customer scan; at 100 TB the inlined
    body behaves exactly like the q6 family). Invocation count is
    static (2), not data-dependent.

    Reference lineage: worker.go:280-301 — reusable composition units
    in the reference are Go callables; SURVEY §2.3 "no UDAF/UDTF
    interfaces". This is the declarative table-shaped analog."""
    # The function body names its tables, so they are named views; the
    # invocations are inlined at analysis, before the finally drops them.
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__q205_{t}")
    try:
        spark.sql(
            """
            CREATE OR REPLACE TEMPORARY FUNCTION q205_seg_orders(
                seg STRING, cutoff TIMESTAMP)
            RETURNS TABLE (o_orderpriority STRING, n_orders BIGINT,
                           total_cents BIGINT)
            RETURN SELECT o.o_orderpriority, COUNT(*),
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT)
            FROM __q205_orders o
            JOIN __q205_customer c ON c.c_custkey = o.o_custkey
            WHERE c.c_mktsegment = seg AND o.o_orderdate >= cutoff
            GROUP BY o.o_orderpriority
            """
        )
        return spark.sql(
            """
            SELECT 'BUILDING' AS seg, *
            FROM q205_seg_orders('BUILDING', TIMESTAMP '1995-01-01 00:00:00')
            UNION ALL
            SELECT 'MACHINERY' AS seg, *
            FROM q205_seg_orders('MACHINERY', TIMESTAMP '1995-01-01 00:00:00')
            ORDER BY seg, o_orderpriority
            """
        )
    finally:
        for t in ("orders", "customer"):
            spark.catalog.dropTempView(f"__q205_{t}")


Q205_ORACLE = """
WITH f AS (
  SELECT segs.seg, o.o_orderpriority, COUNT(*) AS n_orders,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM (VALUES ('BUILDING'), ('MACHINERY')) AS segs(seg)
  JOIN customer c ON c.c_mktsegment = segs.seg
  JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  GROUP BY segs.seg, o.o_orderpriority
)
SELECT seg, o_orderpriority, n_orders, total_cents
FROM f ORDER BY seg, o_orderpriority
"""


Q213_MOD = 32  # deterministic input cap (q71's UDTF_KEY_CAP posture)


def q213_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static ``analyze()`` — the polymorphic
    table-function surface: the OUTPUT SCHEMA is computed at plan time
    from the call's literal arguments (here ``k`` power-sum columns
    s1..sk), and the function itself REQUESTS its required input
    partitioning (``AnalyzeResult(partitionBy=...)``), so a caller
    cannot forget the PARTITION BY clause — the contract travels with
    the function, not the call site. Completes the UDTF ladder: q71 is
    a fixed-schema per-row fan-out, q205 a declarative SQL table
    function; this is the dynamic-schema, whole-partition form (the
    TABLE(...) argument + terminate() pattern — a UDTF acting as a
    custom aggregate over each partition).

    The body computes exact integer power sums of kilodollar order
    totals per priority (s1..s3 = Σv, Σv², Σv³ — the raw moments a
    variance/skew layer derives); kilodollar truncation keeps s3 far
    inside BIGINT at any realistic scale (530³·|orders| ≈ 4e12 at
    sf0.1) and the oracle replays the same truncation.

    Scale shape: Spark hash-partitions the input on the requested key
    and streams each partition through one UDTF instance — state is
    O(k) per partition, rows never materialize. Input is capped to
    o_orderkey % Q213_MOD = 0 (the q71 posture: this is API surface, not
    a scan operator — hot-path aggregation stays on codegen).
    useArrow=True keeps the suite's whole-plan invariant — the plan
    sweep forbids BatchEvalPython nodes, and the Arrow registration
    plans as ArrowEvalPythonUDTF instead. Note the Arrow UDTF path
    still invokes eval() per row (measured SLOWER than the pickle path
    uncapped: 30 s vs 10 s at sf0.1 with an earlier %8 cap), so the
    input cap, not Arrow, is what bounds the Python cost here.

    Reference lineage: SURVEY §2.3 "no UDAF/UDTF interfaces"; the
    reference's map fan-out (worker.go:280-301) has a fixed kv shape —
    schema-from-arguments has no analog there."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult, PartitioningColumn

    class PowerSums:
        @staticmethod
        def analyze(k: AnalyzeArgument, t: AnalyzeArgument) -> AnalyzeResult:
            if not t.isTable:
                raise ValueError("power_sums: second argument must be TABLE(...)")
            if k.value is None or int(k.value) < 1:
                raise ValueError("power_sums: k must be a positive literal")
            kv = int(k.value)
            fields = [
                StructField("o_orderpriority", StringType()),
                StructField("n", LongType()),
            ]
            fields += [StructField(f"s{i}", LongType()) for i in range(1, kv + 1)]
            return AnalyzeResult(
                schema=StructType(fields),
                partitionBy=[PartitioningColumn("o_orderpriority")],
            )

        def __init__(self):
            self._key, self._n, self._sums = None, 0, None

        def eval(self, k: int, row):
            if self._sums is None:
                self._sums = [0] * int(k)
            self._key = row["o_orderpriority"]
            v = int(row["kd"])
            self._n += 1
            p = 1
            for i in range(len(self._sums)):
                p *= v
                self._sums[i] += p

        def terminate(self):
            if self._key is not None:
                yield (self._key, self._n, *self._sums)

    spark.udtf.register("q213_power_sums", udtf(PowerSums, useArrow=True))
    return spark.sql(
        """
        SELECT * FROM q213_power_sums(3, TABLE(
            SELECT o_orderpriority,
                   CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS kd
            FROM {orders}))
        ORDER BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % Q213_MOD == 0
        ),
    )


Q213_ORACLE = f"""
WITH b AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS kd
  FROM orders WHERE o_orderkey % {Q213_MOD} = 0
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(kd) AS BIGINT) AS s1,
       CAST(SUM(kd * kd) AS BIGINT) AS s2,
       CAST(SUM(kd * kd * kd) AS BIGINT) AS s3
FROM b GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


QUERIES = [
    QuerySpec("q70_udaf_geomean", q70_udaf_geomean, Q70_ORACLE,
              "grouped-agg pandas UDAF (vectorized custom aggregate)",
              ("udaf", "pandas")),
    QuerySpec("q202_arrow_geomean", q202_arrow_geomean, Q202_ORACLE,
              "applyInArrow group processor (Arrow-native UDAF surface, "
              "== q70 through the same oracle)",
              ("udaf", "arrow")),
    QuerySpec("q204_sql_udf", q204_sql_udf, Q204_ORACLE,
              "declarative SQL scalar UDFs (CREATE FUNCTION), inlined by "
              "Catalyst into whole-stage codegen",
              ("udf", "sql")),
    QuerySpec("q71_udtf_tokenize", q71_udtf_tokenize, Q71_ORACLE,
              "Python UDTF lateral fan-out (table-function interface)",
              ("udtf",)),
    QuerySpec("q205_sql_table_function", q205_sql_table_function,
              Q205_ORACLE,
              "declarative SQL table function (CREATE FUNCTION RETURNS "
              "TABLE), inlined per-invocation like a parameterized view",
              ("udtf", "sql")),
    QuerySpec("q213_udtf_analyze", q213_udtf_analyze, Q213_ORACLE,
              "Python UDTF with static analyze(): output schema computed "
              "from literal args, input partitioning requested by the "
              "function (TABLE argument + terminate())",
              ("udtf", "analyze")),
    QuerySpec("q108_pandas_ols", q108_pandas_ols, _q108_oracle(),
              "q87's OLS trend recomputed by an applyInPandas group "
              "processor, hash-checked against the same SQL oracle",
              ("udaf", "pandas", "parity")),
]
