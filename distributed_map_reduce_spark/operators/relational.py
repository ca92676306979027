"""Relational query suite (SURVEY §2.4 Q4–Q13, Q19).

The reference has no relational layer at all — no joins, filters,
windows, sorts, limits, set ops or grouping sets (SURVEY §2.3); its
entire aggregation story is one holistic sort-group-fold
(/root/reference/src/mr/worker.go:197-212). These queries pin down the
gap the Spark engine fills, each expressed declaratively so Catalyst
owns pushdown, pruning, join strategy and AQE re-planning.

Scale notes per query are inline. General posture:
- Fact-to-dim joins are written fact-first; tiny dims (region, nation)
  get an explicit broadcast hint, mid-size dims (customer, part,
  supplier — which grow linearly with SF) are left to AQE's
  size-based broadcast decision so the same plan text works at SF 0.01
  and SF 1000.
- Filters sit directly on the scan so parquet row-group pruning and
  predicate pushdown fire (`PushedFilters` in .explain).
- Aggregations are algebraic (sum/count/avg/min) => automatic partial
  aggregation map-side; the reference ships every value to the reducer
  (worker.go:207) — Spark's combine is the first 100x win at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import QuerySpec
from ..sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- Q4: pricing summary (TPC-H Q1 shape) -----------------------------------

def q4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q4_ORACLE = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_discount), 2) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# --- Q5: filtered revenue (TPC-H Q6 shape) ----------------------------------

def q5_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All four predicates reach the parquet scan as PushedFilters; at
    # 100 TB this query is I/O-bound on exactly the row groups that
    # survive min/max pruning on l_shipdate.
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


Q5_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# --- Q6: segment revenue join -----------------------------------------------

def q6_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customer grows with SF: no hard broadcast hint; AQE converts to
    # broadcast when the build side fits, else shuffle-hash/sort-merge
    # on the (uniform) custkey — no skew by construction.
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


Q6_ORACLE = """
SELECT c_mktsegment,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

# --- Q7: 4-way join to region ----------------------------------------------

def q7_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Written fact-first (lineitem -> orders -> customer -> nation ->
    # region) so each successive build side is smaller. region/nation
    # are O(1)-sized at any SF: hard broadcast. The lineitem⋈orders
    # join is the only unavoidable big shuffle; both sides hash on
    # orderkey, and AQE splits skewed partitions if the key
    # distribution degrades.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("r_name")
    )


Q7_ORACLE = """
SELECT r_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY r_name
ORDER BY r_name
"""

# --- Q8: top-k customers ----------------------------------------------------

def q8_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy().limit() compiles to TakeOrderedAndProject: each
    # partition keeps its local top-10, the driver merges — no global
    # sort even at 100 TB.
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


Q8_ORACLE = """
SELECT c_custkey, c_name, ROUND(SUM(o_totalprice), 2) AS total_spend
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 10
"""

# --- Q9: window / rank ------------------------------------------------------

def q9_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window partitioned by customer: one shuffle on o_custkey, sort
    # within partitions. rank<=2 predicate cannot be pushed below the
    # window, but Spark's WindowGroupLimit pushes the top-2 limit into
    # the sort at execution time.
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn")
    )


Q9_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 2
ORDER BY o_custkey, rn
"""

# --- Q10: set operations ----------------------------------------------------

def q10_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey"))
    )
    ords = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.intersect(ords).orderBy("c_custkey")


Q10I_ORACLE = """
SELECT c_custkey FROM customer WHERE c_acctbal > 0
INTERSECT
SELECT o_custkey FROM orders
ORDER BY c_custkey
"""


def q10_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey"))
    )
    ords = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # subtract() IS SQL EXCEPT (distinct, absent-from-right). The earlier
    # exceptAll().distinct() kept left rows whose multiplicity merely
    # exceeded the right side's — equivalent only when the left key is
    # unique, which c_custkey happens to be.
    return cust.subtract(ords).orderBy("c_custkey")


Q10E_ORACLE = """
SELECT c_custkey FROM customer WHERE c_acctbal > 0
EXCEPT
SELECT o_custkey FROM orders
ORDER BY c_custkey
"""

# --- Q11: rollup -------------------------------------------------------------

def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n",
            "sum_qty",
        )
        .orderBy("rf", "ls")
    )


Q11_ORACLE = """
SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       COALESCE(l_linestatus, 'ALL') AS ls,
       COUNT(*) AS n,
       SUM(l_quantity) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY rf, ls
"""

# --- Q12: scalar function sweep ---------------------------------------------

def q12_scalar_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%a%"))
        .groupBy(
            "p_brand",
            F.upper(F.substring("p_type", 1, 5)).alias("type5"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("p_size").alias("min_size"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
        .orderBy("p_brand", "type5")
    )


Q12_ORACLE = """
SELECT p_brand,
       UPPER(SUBSTR(p_type, 1, 5)) AS type5,
       COUNT(*) AS n,
       MIN(p_size) AS min_size,
       ROUND(AVG(p_retailprice), 2) AS avg_price
FROM part
WHERE p_name LIKE '%a%'
GROUP BY p_brand, UPPER(SUBSTR(p_type, 1, 5))
ORDER BY p_brand, type5
"""

# --- Q13: date bucketing -----------------------------------------------------

def q13_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("m")
    )


# DuckDB's DATE_TRUNC('month', ts) yields DATE; cast back to TIMESTAMP to
# match Spark's date_trunc, which always returns timestamp.
Q13_ORACLE = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY 1
ORDER BY m
"""

# --- Q19: exact count distinct ----------------------------------------------

def q19_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact distinct => two-phase shuffle (expand on (rf, partkey) then
    # re-agg). approx_count_distinct would be one pass at scale but can
    # never hash-match an oracle; the engine exposes both, the declared
    # query pins the exact one.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
        .orderBy("l_returnflag")
    )


Q19_ORACLE = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# --- Q35: CUBE grouping sets -------------------------------------------------

def q35_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE = all 4 grouping sets in one pass; Spark expands them via a
    # single Expand node feeding one partial-aggregating shuffle — not 4
    # scans. COALESCE folds the NULL grouping keys to 'ALL' exactly like
    # q11's rollup.
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


Q35_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""

# --- Q36: pivot --------------------------------------------------------------

PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q36_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: one row per status, one column per priority.
    Explicit pivot values => single pass, no distinct-values pre-query
    (at scale an unbounded pivot would need one extra job just to learn
    the columns)."""
    o = _t(spark, sf_dir, "orders")
    df = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderstatus")
    )
    # pivot column names contain spaces/dashes; normalize for the driver's
    # column-name-matched comparison
    renames = {p: f"p{i + 1}" for i, p in enumerate(PIVOT_PRIORITIES)}
    return df.withColumnsRenamed(renames).select(
        "o_orderstatus", *sorted(renames.values())
    )


_PIVOT_COLS = ",\n       ".join(
    f"COUNT(*) FILTER (o_orderpriority = '{p}') AS p{i + 1}"
    for i, p in enumerate(PIVOT_PRIORITIES)
)

Q36_ORACLE = f"""
SELECT o_orderstatus,
       {_PIVOT_COLS}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# --- Q40: semi / anti joins --------------------------------------------------

def q40_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI as first-class join types: count customers
    with >= 1 urgent order vs customers with no orders at all. Both
    dedup-free by construction (no post-join distinct needed — semi/anti
    emit each left row at most once), which at scale avoids the
    EXISTS-via-join-plus-distinct double shuffle."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    # Both counts in ONE plan / one action: tag each semi/anti survivor
    # and conditionally aggregate the union — no driver-side .count()
    # round-trips re-embedded as literals (two extra jobs otherwise).
    tagged = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select(F.lit("urgent").alias("k"))
        .unionByName(
            cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select(F.lit("orderless").alias("k"))
        )
    )
    return tagged.agg(
        F.sum((F.col("k") == "urgent").cast("bigint")).alias(
            "n_urgent_customers"
        ),
        F.sum((F.col("k") == "orderless").cast("bigint")).alias(
            "n_orderless_customers"
        ),
    )


Q40_ORACLE = """
SELECT (SELECT COUNT(*) FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT'))
         AS n_urgent_customers,
       (SELECT COUNT(*) FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
         AS n_orderless_customers
"""

# --- Q41: window frames + offset functions -----------------------------------

def q41_running_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: cumulative spend (ROWS UNBOUNDED
    PRECEDING frame) and gap in days since the previous order (lag) —
    the window-frame and offset-function surface q9's ranking doesn't
    touch. One shuffle on o_custkey, one per-partition sort, both
    windows computed in the same pass (same partitioning + ordering).
    Restricted to 3 customers so the hash-checked output stays small."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 3)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(
                F.sum("o_totalprice").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ).alias("cum_spend"),
            F.date_diff(
                "o_orderdate", F.lag("o_orderdate", 1).over(w)
            ).alias("days_since_prev"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


Q41_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS cum_spend,
       DATE_DIFF('day', LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS days_since_prev
FROM orders
WHERE o_custkey < 3
ORDER BY o_custkey, o_orderdate, o_orderkey
"""

# --- Q44: above-group-average analytic filter --------------------------------

def q44_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average price: the analytic-filter
    shape (compare each row to its group aggregate). Expressed with an
    unbounded window average — one shuffle on the group key — rather
    than the self-join-with-aggregate a naive translation would use
    (two scans + a join)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cavg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cavg"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_custkey")
    )


Q44_ORACLE = """
SELECT o_custkey,
       COUNT(*) AS n_above,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM (SELECT o_custkey, o_totalprice,
             AVG(o_totalprice) OVER (PARTITION BY o_custkey) AS cavg
      FROM orders)
WHERE o_totalprice > cavg
GROUP BY o_custkey
ORDER BY o_custkey
"""

# --- Q42: array function sweep -----------------------------------------------

def q42_array_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions over the embedding column: size, min/max
    element, prefix slice sum — all codegen'd array expressions, no
    explode (SURVEY §2.3 listed array functions among the reference's
    gaps)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    arr = F.col("embedding").cast("array<double>")
    # + 0.0 normalizes IEEE -0.0 (ROUND of a tiny negative) to +0.0 so
    # both engines render zero identically; same in the oracle SQL
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.round(F.array_min(arr), 2) + 0.0).alias("lo"),
        (F.round(F.array_max(arr), 2) + 0.0).alias("hi"),
        (
            F.round(
                F.aggregate(
                    F.slice(arr, 1, 4), F.lit(0.0), lambda acc, x: acc + x
                ),
                2,
            )
            + 0.0
        ).alias("head4_sum"),
    ).orderBy("vec_id")


Q42_ORACLE = """
SELECT vec_id,
       len(embedding) AS dim,
       ROUND(list_min(embedding)::DOUBLE, 2) + 0.0 AS lo,
       ROUND(list_max(embedding)::DOUBLE, 2) + 0.0 AS hi,
       ROUND(list_sum(list_transform(embedding[1:4], x -> x::DOUBLE)), 2) + 0.0
         AS head4_sum
FROM embeddings
WHERE vec_id < 50
ORDER BY vec_id
"""

# --- Q43: date-part extraction sweep -----------------------------------------

def q43_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/quarter/month/day-of-week extraction + aggregation — the
    date-function surface beyond q13's date_trunc."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.dayofweek("o_orderdate").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("y", "q", "dow")
    )


# DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday — shift by one.
Q43_ORACLE = """
SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
       EXTRACT(QUARTER FROM o_orderdate) AS q,
       EXTRACT(DOW FROM o_orderdate) + 1 AS dow,
       COUNT(*) AS n,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY 1, 2, 3
ORDER BY y, q, dow
"""

# --- Q45: exact percentiles ---------------------------------------------------

def q45_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/median/p90) of order price per
    priority class. Uses the exact `percentile` aggregate, NOT
    approx_percentile — approximations can never hash-match an oracle
    (same rule as q19). Exact percentile sorts within each group; at
    100 TB the group count here is 5, so the per-group sort is the
    scale risk — the approximate sketch twin (sketch_price_quantiles)
    is the documented big-data path, this is the correctness anchor."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
            F.round(F.median("o_totalprice"), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# DuckDB quantile_cont and Spark percentile use the same linear
# interpolation at index p*(n-1).
Q45_ORACLE = """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
       ROUND(median(o_totalprice), 2) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# --- Q46: correlated scalar subquery (TPC-H Q17 shape) ------------------------

def q46_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from unusually-small orders of one brand's parts: lineitems
    with quantity below 20% of that part's average quantity. The oracle
    states it as a correlated scalar subquery; here it's decorrelated as
    a window aggregate over the join key — ONE scan of the fact (the
    naive pre-aggregate-then-rejoin rewrite scans lineitem twice), with
    the brand filter broadcast-joined first so the window shuffles only
    the ~1% brand slice."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    li = _t(spark, sf_dir, "lineitem")
    brand_li = li.join(
        F.broadcast(part.select("p_partkey")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    cap = (F.avg("l_quantity").over(Window.partitionBy("l_partkey")) * 0.2)
    return (
        brand_li.withColumn("qty_cap", cap)
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


Q46_ORACLE = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
"""

# --- Q47: UNION ALL conformance + regexp extraction ---------------------------

def q47_entity_union_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conform two entity tables into one feed (UNION ALL — SURVEY §2.3
    lists set ops among the gaps; q10 covers INTERSECT/EXCEPT, this
    covers the bag union) and parse the numeric id out of the entity
    name with regexp_extract. Both branches stay fully codegen'd; the
    union is a no-shuffle concatenation of scans."""
    cust = _t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_name").alias("name"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_name").alias("name"),
    )
    return (
        cust.unionByName(supp)
        .withColumn(
            "name_id", F.regexp_extract("name", "([0-9]+)", 1).cast("bigint")
        )
        .groupBy("kind", "nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("name_id").alias("sum_name_id"),
        )
        .orderBy("kind", "nationkey")
    )


Q47_ORACLE = """
SELECT kind, nationkey, COUNT(*) AS n,
       CAST(SUM(CAST(regexp_extract(name, '([0-9]+)', 1) AS BIGINT)) AS BIGINT)
         AS sum_name_id
FROM (
  SELECT 'customer' AS kind, c_nationkey AS nationkey, c_name AS name
  FROM customer
  UNION ALL
  SELECT 'supplier', s_nationkey, s_name FROM supplier
)
GROUP BY kind, nationkey
ORDER BY kind, nationkey
"""

# --- Q48: explicit grouping sets ----------------------------------------------

def q48_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with hand-picked sets — (returnflag), (linestatus),
    and grand total — the irregular shape rollup (q11) and cube (q35)
    can't express. One scan + one Expand pass, same as rollup/cube;
    partial aggregation still applies after Expand."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
            "sum_price",
        )
        .orderBy("rflag", "lstatus")
    )


Q48_ORACLE = """
SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
       COALESCE(l_linestatus, 'ALL') AS lstatus,
       COUNT(*) AS n,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY rflag, lstatus
"""


# --- Q49: statistical moments + math scalar sweep -----------------------------

def q49_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (stddev/variance/correlation/covariance)
    plus math scalars (sqrt/ln/pow) — the statistics surface §2.3 lists
    among the reference's gaps. All algebraic (sum-of-squares
    decomposable), so partial aggregation applies map-side exactly like
    plain sums: one scan, one shuffle of 3 groups."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 2).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qe"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qe"
            ),
            F.round(F.avg(F.sqrt("l_quantity")), 2).alias("avg_sqrt_qty"),
            F.round(F.avg(F.log("l_extendedprice")), 2).alias("avg_ln_price"),
            F.round(F.sum(F.pow("l_discount", F.lit(2))), 2).alias("sum_disc_sq"),
        )
        .orderBy("l_returnflag")
    )


Q49_ORACLE = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 2) AS sd_qty,
       ROUND(VAR_SAMP(l_quantity), 2) AS var_qty,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qe,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qe,
       ROUND(AVG(SQRT(l_quantity)), 2) AS avg_sqrt_qty,
       ROUND(AVG(LN(l_extendedprice)), 2) AS avg_ln_price,
       ROUND(SUM(POW(l_discount, 2)), 2) AS sum_disc_sq
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# --- Q50: unpivot / melt ------------------------------------------------------

def q50_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape: per-priority order metrics melted into
    (priority, metric, val) rows — the inverse of q36's pivot. Spark's
    `unpivot` is a zero-shuffle Expand over the 5-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return (
        wide.unpivot(
            ["o_orderpriority"],
            ["sum_price", "avg_price", "max_price"],
            "metric",
            "val",
        )
        .orderBy("o_orderpriority", "metric")
    )


Q50_ORACLE = """
SELECT o_orderpriority, metric, val
FROM (
  SELECT o_orderpriority,
         ROUND(SUM(o_totalprice), 2) AS sum_price,
         ROUND(AVG(o_totalprice), 2) AS avg_price,
         ROUND(MAX(o_totalprice), 2) AS max_price
  FROM orders
  GROUP BY o_orderpriority
) UNPIVOT (val FOR metric IN (sum_price, avg_price, max_price))
ORDER BY o_orderpriority, metric
"""


# --- Q58: window navigation + distribution functions --------------------------

def q58_window_nav_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window functions q9/q41 don't touch: first_value/last_value
    over an explicit full frame, lead (q41 had lag), and the
    distribution family ntile/percent_rank/cume_dist. One shuffle on
    o_custkey; every window shares the same partitioning + ordering so
    they evaluate in a single Window operator pass."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 3)
    order_cols = [F.col("o_orderdate"), F.col("o_orderkey")]
    w = Window.partitionBy("o_custkey").orderBy(*order_cols)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.first("o_totalprice").over(wfull), 2).alias("first_price"),
            F.round(F.last("o_totalprice").over(wfull), 2).alias("last_price"),
            F.round(F.lead("o_totalprice", 1).over(w), 2).alias("next_price"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 4).alias("cdist"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


Q58_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(FIRST_VALUE(o_totalprice) OVER w_full, 2) AS first_price,
       ROUND(LAST_VALUE(o_totalprice) OVER w_full, 2) AS last_price,
       ROUND(LEAD(o_totalprice, 1) OVER w, 2) AS next_price,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 4) AS cdist
FROM orders
WHERE o_custkey < 3
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""

# --- Q60: boolean + conditional aggregates ------------------------------------

def q60_bool_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (bool_and/bool_or) and conditional counting
    (count_if — SQL's FILTER clause shape) per returnflag: do ALL lines
    carry a discount, does ANY exceed 8%, how many ship after 1997 —
    predicates aggregated without CASE scaffolding. All algebraic,
    map-side partials as usual."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_discount") > 0).alias("all_discounted"),
            F.bool_or(F.col("l_discount") > 0.08).alias("any_deep_discount"),
            F.count_if(
                F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
            ).alias("n_late_ship"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


Q60_ORACLE = """
SELECT l_returnflag,
       BOOL_AND(l_discount > 0) AS all_discounted,
       BOOL_OR(l_discount > 0.08) AS any_deep_discount,
       COUNT(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1997-01-01')
         AS n_late_ship,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# --- Q75: string scalar-function sweep ----------------------------------------

def q75_string_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function library coverage in one hash-checked pass (the
    scalar-matrix pattern of q42 arrays / q43 dates): upper/lower, trim,
    length, reverse, lpad, substr, replace — each wrapped in an
    aggregate so the output stays a 5-row frame. All codegen scalars on
    one scan; no Python, no extra shuffle beyond the group."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.upper("c_name")).alias("min_upper"),
            F.max(F.reverse(F.lower("c_name"))).alias("max_revlower"),
            F.sum(F.length(F.trim(F.col("c_name"))))
            .cast("bigint")
            .alias("sum_len"),
            F.min(
                F.lpad(F.substring("c_name", 10, 6), 10, "_")
            ).alias("min_padded"),
            F.max(
                F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C"))
            ).alias("max_replaced"),
        )
        .orderBy("c_mktsegment")
    )


Q75_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n,
       MIN(UPPER(c_name)) AS min_upper,
       MAX(REVERSE(LOWER(c_name))) AS max_revlower,
       CAST(SUM(LENGTH(TRIM(c_name))) AS BIGINT) AS sum_len,
       MIN(LPAD(SUBSTR(c_name, 10, 6), 10, '_')) AS min_padded,
       MAX(REPLACE(c_name, 'Customer', 'C')) AS max_replaced
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

# --- Q76: math scalar-function sweep ------------------------------------------

def q76_math_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar coverage in one pass: abs, ceil, floor, sqrt, ln,
    pow, mod, sign — aggregated per returnflag so the hash-checked
    output stays 3 rows. Inputs are chosen so every function is exact
    or rounds identically across engines (sqrt/ln of positive doubles,
    ROUND(...,2) at the end)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.ceil("l_extendedprice")).cast("bigint").alias("sum_ceil"),
            F.sum(F.floor("l_extendedprice")).cast("bigint").alias("sum_floor"),
            F.round(F.sum(F.sqrt("l_quantity")), 2).alias("sum_sqrt_qty"),
            F.round(F.sum(F.log(F.col("l_extendedprice"))), 2).alias(
                "sum_ln_price"
            ),
            F.round(F.sum(F.pow("l_discount", F.lit(3))), 2).alias(
                "sum_disc_cubed"
            ),
            F.sum(F.pmod(F.col("l_linenumber"), F.lit(3)))
            .cast("bigint")
            .alias("sum_mod3"),
            F.sum(F.signum(F.col("l_extendedprice") - 50000))
            .cast("bigint")
            .alias("net_sign_50k"),
        )
        .orderBy("l_returnflag")
    )


Q76_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CEIL(l_extendedprice)) AS BIGINT) AS sum_ceil,
       CAST(SUM(FLOOR(l_extendedprice)) AS BIGINT) AS sum_floor,
       ROUND(SUM(SQRT(l_quantity)), 2) AS sum_sqrt_qty,
       ROUND(SUM(LN(l_extendedprice)), 2) AS sum_ln_price,
       ROUND(SUM(POW(l_discount, 3)), 2) AS sum_disc_cubed,
       CAST(SUM(l_linenumber % 3) AS BIGINT) AS sum_mod3,
       CAST(SUM(SIGN(l_extendedprice - 50000)) AS BIGINT) AS net_sign_50k
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# --- Q56: null-handling semantics ---------------------------------------------

def q56_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling surface pinned end-to-end: NULLIF introduces nulls,
    COALESCE classifies them, COUNT(col) vs COUNT(*) shows null
    exclusion, and a null-safe comparison (IS DISTINCT FROM / <=>)
    counts through the null. The testdata has no physical nulls, so the
    query synthesizes them — the semantics are what's under test."""
    o = _t(spark, sf_dir, "orders")
    masked = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        o.groupBy(
            F.coalesce(masked, F.lit("OPEN_MASKED")).alias("status_class")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(masked).alias("n_nonmasked"),
            F.sum(
                (~F.col("o_orderstatus").eqNullSafe("F")).cast("bigint")
            ).alias("n_not_f"),
        )
        .orderBy("status_class")
    )


Q56_ORACLE = """
SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN_MASKED') AS status_class,
       COUNT(*) AS n_rows,
       COUNT(NULLIF(o_orderstatus, 'O')) AS n_nonmasked,
       CAST(SUM(CASE WHEN o_orderstatus IS DISTINCT FROM 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_not_f
FROM orders
GROUP BY 1
ORDER BY status_class
"""


# --- q88: RANGE-frame moving average -----------------------------------------

def q88_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order revenue per priority — the
    RANGE-interval window frame (value-based, not row-based): days with
    no orders contribute nothing and the frame still spans exactly 7
    calendar days, which a ROWS frame cannot express over sparse dates.

    Daily pre-aggregate first (one shuffle, map-side partials), then
    the window runs over ~days x priorities rows — thousands at any
    corpus size, partitioned by priority so no single-partition sort.
    The frame key is integer days-since-epoch: identical semantics in
    both engines, no interval-type coercion differences. Money is
    summed as integer CENTS (prices are 2-decimal by construction):
    float sums of daily revenue landed exactly on a x.xx5 rounding
    boundary at sf0.001, where engine summation order flips the
    rounded cent — integer sums are order-free and exact."""
    orders = _t(spark, sf_dir, "orders")
    # floor(x*100 + 0.5), NOT round(x*100): the engines' round-to-int
    # implementations disagree on exact-half doubles, floor of the same
    # double is bit-identical everywhere.
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    daily = (
        orders.groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents).alias("cents"))
        .withColumn("day_num", F.unix_date("day"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "o_orderpriority",
            "day",
            F.round(F.col("cents") / 100.0, 2).alias("rev"),
            # round-half-up to the cent via floor(x + 0.5) on the SAME
            # double in both engines: a 7-day mean lands on exact .xx5
            # fractions (sum_cents/n with small n), where Spark rounds
            # the shortest decimal repr and DuckDB the exact binary —
            # floor arithmetic sidesteps both ROUND implementations.
            (
                F.floor(
                    F.sum("cents").over(w) / F.count("cents").over(w) + 0.5
                )
                / 100.0
            ).alias("ma7"),
        )
        .orderBy("o_orderpriority", "day")
    )


Q88_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num
  FROM orders
  GROUP BY 1, 2
)
SELECT o_orderpriority, day, ROUND(cents / 100.0, 2) AS rev,
       FLOOR(SUM(cents) OVER w * 1.0 / COUNT(cents) OVER w + 0.5)
         / 100.0 AS ma7
FROM daily
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY o_orderpriority, day
"""


# --- q100: snapshot reconciliation (FULL OUTER join diff) --------------------

# Deterministic "v2 crawl" of the documents table, derived in-query so
# both engines fabricate the identical snapshot:
#   - doc_id % 11 == 3  -> deleted in v2
#   - doc_id % 7  == 2  -> text modified in v2 (suffix edit)
#   - doc_id % 13 == 0  -> re-crawled under a NEW id (doc_id + 10^6)
_V2_DUCK = (
    "SELECT doc_id, source,"
    " CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text"
    " FROM documents WHERE doc_id % 11 != 3"
    " UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, source, text"
    " FROM documents WHERE doc_id % 13 = 0"
)


def q100_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version reconciliation: diff two corpus snapshots keyed
    by doc_id and classify every document as added / removed / changed /
    unchanged — the audit run between crawl versions (or before/after a
    curation pass) to quantify churn. The only FULL OUTER join shape in
    the suite; contents compare by md5 so the wide text column never
    crosses the shuffle.

    Scale shape: both sides reduce to (doc_id, source, md5) projections
    at the scan, so the full-outer hash join shuffles fingerprints, not
    documents; the classification is a row-local CASE and the rollup is
    a tiny per-(source, status) aggregate. At 100 TB both snapshots are
    bucketed by doc_id and the join is exchange-free."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select(
        "doc_id", "source", F.md5("text").alias("h1")
    )
    did = F.col("doc_id")
    v2 = (
        docs.filter(did % 11 != 3)
        .select(
            "doc_id",
            "source",
            F.when(did % 7 == 2, F.concat("text", F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(did % 13 == 0).select(
                (did + 1000000).alias("doc_id"), "source", "text"
            )
        )
        .select("doc_id", "source", F.md5("text").alias("h2"))
    )
    j = v1.withColumnsRenamed({"source": "s1"}).join(
        v2.withColumnsRenamed({"source": "s2"}), "doc_id", "full_outer"
    )
    status = (
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce("s1", "s2").alias("source"), status.alias("status")
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "status")
    )


Q100_ORACLE = f"""
WITH v1 AS (SELECT doc_id, source, md5(text) AS h1 FROM documents),
v2 AS (SELECT doc_id, source, md5(text) AS h2 FROM ({_V2_DUCK})),
j AS (
  SELECT COALESCE(v1.source, v2.source) AS source,
         CASE WHEN h1 IS NULL THEN 'added'
              WHEN h2 IS NULL THEN 'removed'
              WHEN h1 <> h2 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT source, status, COUNT(*) AS n
FROM j
GROUP BY source, status
ORDER BY source, status
"""


# --- q115: explicit GROUPING SETS --------------------------------------------

def q115_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (status), ()) — the
    general form that cube (q35) and rollup (q11) specialize; picking
    exactly the marginal totals a dashboard needs skips computing the
    (priority)-only set a full cube would add. Uses the first-class
    ``DataFrame.groupingSets`` API (Spark 4). Same engine shape as
    cube: one Expand node feeding ONE partially-aggregated shuffle —
    3 grouping sets ≠ 3 scans, at 100 TB the scan still happens once."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


Q115_ORACLE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
ORDER BY status, priority
"""


# --- q116: higher-order array-function sweep ---------------------------------

ARRAY_SWEEP_MAX_ID = 50  # vectors audited (bounds the hashed output)


def q116_array_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function coverage in one row-local pass over
    embeddings — the complex-type sibling of the q75 string and q76
    math sweeps: filter (positive count), exists-as-filter-length
    (|x| > 2 outliers), aggregate (abs-sum fold), transform+sort+slice
    (top-3 components), and distinct-of-transform (sign vocabulary).

    Output contract: every column is a SCALAR. The top-3 components are
    serialized to one comma-joined string of fixed-point integers
    (round(x*10000) as bigint) rather than shipped as array<double> —
    the driver's canonicalizer sorts cells with pandas and cannot hash
    list-typed cells (round-6 q116 err: "unhashable type: 'list'"), and
    fixed-point integers make the string identical across engines with
    no float-formatting ambiguity. Everything stays inside whole-stage
    codegen; zero shuffles before the final sort of 50 rows. DuckDB
    twins: list_filter / list_aggregate / list_sort / list_distinct /
    array_to_string."""
    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < ARRAY_SWEEP_MAX_ID
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return emb.select(
        "vec_id",
        F.size(F.filter("v", lambda x: x > 0)).alias("n_pos"),
        F.size(F.filter("v", lambda x: F.abs(x) > 2)).alias("n_outlier"),
        F.round(
            F.aggregate(
                "v", F.lit(0.0), lambda acc, x: acc + F.abs(x)
            ),
            4,
        ).alias("abs_sum"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    F.sort_array(
                        F.transform(
                            "v",
                            lambda x: F.round(x * 10000, 0).cast("long"),
                        ),
                        asc=False,
                    ),
                    1,
                    3,
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("top3"),
        F.array_size(
            F.array_distinct(F.transform("v", lambda x: F.signum(x)))
        ).alias("n_signs"),
    ).orderBy("vec_id")


Q116_ORACLE = f"""
SELECT vec_id,
       len(list_filter(v, x -> x > 0)) AS n_pos,
       len(list_filter(v, x -> abs(x) > 2)) AS n_outlier,
       ROUND(list_aggregate(list_transform(v, x -> abs(x)), 'sum'), 4)
         AS abs_sum,
       array_to_string(
         list_sort(list_transform(v, x -> CAST(ROUND(x * 10000) AS BIGINT)),
                   'DESC')[1:3],
         ',') AS top3,
       len(list_distinct(list_transform(v, x -> CAST(sign(x) AS DOUBLE))))
         AS n_signs
FROM (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < {ARRAY_SWEEP_MAX_ID}
)
ORDER BY vec_id
"""


# --- q117: weighted median ---------------------------------------------------

def q117_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per returnflag — the holistic
    weighted aggregate Spark has no built-in for, composed from a RANGE
    cumulative-weight window: the weighted median is the smallest price
    whose cumulative weight reaches half the group total. The RANGE
    frame (not ROWS) makes the cumulative sum at tied prices the sum
    THROUGH the tie group — deterministic under any row order, which is
    what lets both engines agree. Weights here are integral-valued
    doubles, so the cumulative sums are fp-exact and the half-total
    comparison cannot flip.

    Scale shape: one hash exchange on the group key + per-partition
    sort (the window), then a plain partial-aggregated groupBy — the
    same cost as any per-group window; no global sort, no driver
    collection. For groups too hot for one partition the SHIPPED
    fallback is :func:`weighted_median_approx` (q129): a fixed-
    resolution weighted histogram whose window partitions are bounded
    by the bin count, within one bin width of this exact form
    (property-tested). The exact form stays the oracle-checkable
    contract."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wcum).alias("cum"),
        F.sum("l_quantity").over(wtot).alias("tot"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("tot"), 2).alias("total_weight"),
            F.round(
                F.min(
                    F.when(
                        F.col("cum") >= F.col("tot") / 2.0,
                        F.col("l_extendedprice"),
                    )
                ),
                2,
            ).alias("weighted_median_price"),
        )
        .orderBy("l_returnflag")
    )


WMA_BINS = 512  # histogram resolution for the approx fallback


def weighted_median_approx(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    n_bins: int = WMA_BINS,
) -> DataFrame:
    """Hot-group fallback for the exact RANGE-window weighted median
    (q117): a fixed-resolution weighted histogram. Returns
    (group_col, wm_approx) where wm_approx is the SMALLEST member value
    inside the first histogram bin whose cumulative weight reaches half
    the group total — a real data point, and within one bin width
    ((max-min)/n_bins) of the exact lower weighted median (property-
    tested in tests/test_property_mr.py on skewed synthetic data).

    Scale shape — why this survives a group too hot for one partition,
    where the exact form's per-group window sort does not:
      1. per-group min/max: plain partial-aggregated groupBy;
      2. per-(group, bin) weight sums + bin-min value: another plain
         partial-aggregated groupBy — the ONLY pass that touches every
         row, and it is map-side combinable down to <= n_bins rows per
         group;
      3. the cumulative scan runs over that <= n_bins-row frame, so the
         window partition is bounded by the HISTOGRAM size, never by
         the group size.
    """
    vmin, vmax, width, bin_c = "_wma_min", "_wma_max", "_wma_w", "_wma_bin"
    stats = df.groupBy(group_col).agg(
        F.min(value_col).alias(vmin), F.max(value_col).alias(vmax)
    )
    # group-stats frame has one row per group: AQE broadcasts it when
    # small and falls back to a shuffled join for extreme group counts.
    w_expr = (F.col(vmax) - F.col(vmin)) / F.lit(float(n_bins))
    binned = (
        df.join(stats, group_col)
        .withColumn(width, w_expr)
        .withColumn(
            bin_c,
            F.when(F.col(width) > 0,
                   F.least(
                       F.floor((F.col(value_col) - F.col(vmin)) / F.col(width)),
                       F.lit(n_bins - 1),
                   ))
            .otherwise(F.lit(0)),
        )
        .groupBy(group_col, bin_c)
        .agg(
            F.sum(weight_col).alias("_w"),
            F.min(value_col).alias("_vlo"),
        )
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(bin_c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(group_col)
    c = binned.select(
        group_col,
        bin_c,
        "_vlo",
        F.sum("_w").over(wcum).alias("_cum"),
        F.sum("_w").over(wtot).alias("_tot"),
    )
    return (
        c.filter(F.col("_cum") >= F.col("_tot") / 2.0)
        .groupBy(group_col)
        .agg(F.min_by("_vlo", bin_c).alias("wm_approx"))
    )


def q129_weighted_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q117's weighted median via the histogram fallback, driver-checked:
    quantity-weighted approximate median price per returnflag. The
    oracle replays the identical fixed-resolution histogram in SQL —
    binning is floor((v - min)/width) over IEEE doubles, bit-identical
    on both engines, so the approx answer is deterministic and
    hash-checkable, not just 'close'."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return (
        weighted_median_approx(
            li, "l_returnflag", "l_extendedprice", "l_quantity"
        )
        .select(
            "l_returnflag",
            F.round("wm_approx", 2).alias("wm_approx"),
        )
        .orderBy("l_returnflag")
    )


Q129_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag, MIN(l_extendedprice) AS vmin,
         (MAX(l_extendedprice) - MIN(l_extendedprice)) / {float(WMA_BINS)}
           AS width
  FROM lineitem GROUP BY l_returnflag
),
b AS (
  SELECT l.l_returnflag,
         CASE WHEN s.width > 0
              THEN LEAST(CAST(FLOOR((l.l_extendedprice - s.vmin) / s.width)
                              AS BIGINT), {WMA_BINS - 1})
              ELSE 0 END AS bin,
         SUM(l.l_quantity) AS w,
         MIN(l.l_extendedprice) AS vlo
  FROM lineitem l JOIN s ON s.l_returnflag = l.l_returnflag
  GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, bin, vlo,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM b
)
SELECT l_returnflag, ROUND(MIN_BY(vlo, bin), 2) AS wm_approx
FROM c
WHERE cum >= tot / 2.0
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- q132: NTILE decile profile ----------------------------------------------

def q132_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (NTILE) account-balance deciles per market segment —
    the distributional profile surface the suite's windows otherwise
    lack (rank/row_number/lag/lead/RANGE sums are covered; NTILE's
    bucket arithmetic is its own operator in both engines).

    Determinism: NTILE depends on the TOTAL order of its partition, so
    the window orders by (c_acctbal, c_custkey) — the unique key makes
    tie placement identical on both engines. Scale shape: one hash
    exchange on the segment key + per-partition sort, then a tiny
    partial-aggregated groupBy; segments are the partition unit, so a
    hot segment is bounded by the same argument as any per-group
    window (and the q129 histogram fallback pattern applies past it)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal", "c_custkey"
    )
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    # mean via exact integer-cent sums (the q81 lesson): a float AVG's
    # summation order differs per engine, and even a deterministic
    # quotient can't be ROUND(x, 2)-ed portably at a half-cent boundary
    # (Spark rounds the SHORTEST DECIMAL repr half-up via BigDecimal;
    # DuckDB rounds the binary value — 4702.605 splits them). So the
    # mean is left UNROUNDED: SUM(cents) and COUNT are exact integers,
    # and the two divisions are the same IEEE ops on both engines —
    # bit-identical, hash-stable.
    return (
        cust.withColumn("decile", F.ntile(10).over(w))
        .withColumn(
            "cents", F.round(F.col("c_acctbal") * 100).cast("bigint")
        )
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
            (
                F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0
            ).alias("mean"),
        )
        .orderBy("c_mktsegment", "decile")
    )


Q132_ORACLE = """
WITH d AS (
  SELECT c_mktsegment, c_acctbal,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
         NTILE(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer
)
SELECT c_mktsegment, decile, COUNT(*) AS n,
       ROUND(MIN(c_acctbal), 2) AS lo,
       ROUND(MAX(c_acctbal), 2) AS hi,
       CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS mean
FROM d
GROUP BY c_mktsegment, decile
ORDER BY c_mktsegment, decile
"""


# --- q140: distribution position (percent_rank / cume_dist) ------------------

def q140_distribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist coverage — the two relative-position
    window functions the suite's rank/ntile/row_number family didn't
    yet exercise — summarized as a per-priority decile histogram of
    order totals' percent_rank, with the mean cume_dist per bucket.

    Cross-engine determinism: percent_rank = (rank-1)/(n-1) and
    cume_dist = peers_cume/n are single IEEE divisions of exact
    integers, and the bucket floor(pr*10) applies the same two ops on
    both engines — bit-identical inputs, bit-identical floor. The
    orderBy includes o_orderkey so rank assignment is total. The
    cume_dist mass is re-integerized (round(cd * n) recovers the exact
    cumulative peer count the division started from) so the aggregate
    is an exact BIGINT sum, immune to float summation order.

    Scale shape: one hash exchange on the priority key + per-partition
    sort (shared by all three window expressions — one window spec),
    then a tiny partial-aggregated histogram groupBy."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wp = Window.partitionBy("o_orderpriority")
    pos = o.select(
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.count(F.lit(1)).over(wp).alias("np"),
    )
    return (
        pos.groupBy(
            "o_orderpriority",
            F.least(F.floor(F.col("pr") * 10), F.lit(9)).alias("pr_decile"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("cd") * F.col("np")).cast("bigint")
            ).alias("cume_mass"),
        )
        .orderBy("o_orderpriority", "pr_decile")
    )


Q140_ORACLE = """
WITH pos AS (
  SELECT o_orderpriority,
         PERCENT_RANK() OVER w AS pr,
         CUME_DIST() OVER w AS cd,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS np
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderpriority,
       LEAST(CAST(FLOOR(pr * 10) AS BIGINT), 9) AS pr_decile,
       COUNT(*) AS n,
       CAST(SUM(ROUND(cd * np)) AS BIGINT) AS cume_mass
FROM pos
GROUP BY 1, 2
ORDER BY o_orderpriority, pr_decile
"""


# --- q134: cohort retention --------------------------------------------------

def q134_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: customers grouped by
    first-order month, with the distinct-active count at each month
    offset since the cohort — the analytics surface behind every
    retention curve dashboard.

    Deliberately FP-free: month arithmetic is integral (truncated
    dates), activity counts are exact, and the retention percentage is
    left to the consumer as n_active/cohort_size — two exact integers —
    so no rounding convention can diverge between engines.

    Scale shape: the distinct (customer, month) activity frame and the
    per-customer min are both map-side-combinable aggregates keyed on
    the customer; the cohort join is customer-keyed (no re-shuffle
    after the aggregates under AQE), and the final rollup is
    cohort-month-sized — tiny. No windows, no self-joins."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    )
    act = o.distinct()
    first = act.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    sizes = first.groupBy("cohort_m").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    j = act.join(first, "o_custkey").select(
        "cohort_m",
        F.months_between("m", "cohort_m").cast("int").alias("month_offset"),
        "o_custkey",
    )
    ret = j.groupBy("cohort_m", "month_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return (
        ret.join(sizes, "cohort_m")
        .select(
            F.col("cohort_m").cast("date").alias("cohort_month"),
            "month_offset",
            "n_active",
            "cohort_size",
        )
        .orderBy("cohort_month", "month_offset")
    )


Q134_ORACLE = """
WITH act AS (
  SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS m
  FROM orders
),
first AS (SELECT o_custkey, MIN(m) AS cohort_m FROM act GROUP BY o_custkey),
sizes AS (SELECT cohort_m, COUNT(*) AS cohort_size FROM first GROUP BY cohort_m),
ret AS (
  SELECT f.cohort_m, date_diff('month', f.cohort_m, a.m) AS month_offset,
         COUNT(*) AS n_active
  FROM act a JOIN first f USING (o_custkey)
  GROUP BY 1, 2
)
SELECT CAST(r.cohort_m AS DATE) AS cohort_month, r.month_offset,
       r.n_active, s.cohort_size
FROM ret r JOIN sizes s USING (cohort_m)
ORDER BY cohort_month, month_offset
"""


# --- q135: market-basket co-occurrence ---------------------------------------

BASKET_TOP_K = 20


def q135_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top-20 part pairs most often ordered
    together — the co-occurrence mining step behind "frequently bought
    together" and association-rule pipelines.

    Scale shape: the quadratic step only exists INSIDE one order
    (self-join on l_orderkey), and an order's line count is bounded by
    the schema (TPC-H: <= 7) — the natural analog of q24's per-bucket
    bound, so the pair frame is O(lines x max_lines_per_order), linear
    in practice. Pair counts are one map-side-combinable groupBy; the
    global top-20 is a TakeOrdered, no full sort. Count ties break on
    (part_a, part_b) so both engines pick identical rows."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
        .join(
            li.select("l_orderkey", F.col("l_partkey").alias("part_b")),
            "l_orderkey",
        )
        .filter(F.col("part_a") < F.col("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )


Q135_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


Q117_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice) AS cum,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(MAX(tot), 2) AS total_weight,
       ROUND(MIN(CASE WHEN cum >= tot / 2.0 THEN l_extendedprice END), 2)
         AS weighted_median_price
FROM c
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- q119: LATERAL correlated subquery join ----------------------------------

# Shared body: Spark 4 and DuckDB both accept the comma-LATERAL form.
_Q119_BODY = """
SELECT c_custkey, t.o_orderkey, t.total
FROM {customer}, LATERAL (
  SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
  FROM {orders}
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
ORDER BY c_custkey, total DESC, o_orderkey
"""


def q119_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via a LATERAL correlated subquery —
    the third spelling of grouped top-k beside the window (q9) and
    TakeOrdered (q8) forms, because LATERAL is the surface SQL users
    write when the per-row subquery feels natural. Catalyst must
    decorrelate the correlated ORDER BY ... LIMIT into a partitioned
    window (DecorrelateInnerQuery + RewriteLateralSubquery), NOT a
    per-customer re-scan of orders — same plan family as q9, proven by
    the sweep's no-CartesianProduct/partial-agg gates. Shared SQL body
    with the DuckDB oracle."""
    return spark.sql(
        _Q119_BODY,
        customer=_t(spark, sf_dir, "customer"),
        orders=_t(spark, sf_dir, "orders"),
    )


Q119_ORACLE = _Q119_BODY.format(customer="customer", orders="orders")


# --- q120: fixed-width histogram via width_bucket ----------------------------

HIST_LO, HIST_HI, HIST_BINS = 0.0, 400_000.0, 16


def q120_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals via ``width_bucket`` — the
    equal-WIDTH companion to q113's equal-DEPTH ntile bins, and the
    profiling staple (value-distribution dashboards, outlier shelves:
    bucket 0 = below range, bins+1 = above). Bucket assignment is
    row-local arithmetic on identical doubles, so both engines bin
    identically with no rounding hazard; per-bucket count + sum follow
    from one partial-aggregated groupBy over at most bins+2 keys.

    Scale: one pruned scan, one tiny shuffle (bounded by bin count) —
    the histogram of a 100 TB fact column costs a map-side combine."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                "o_totalprice", F.lit(HIST_LO), F.lit(HIST_HI),
                F.lit(HIST_BINS),
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("bucket")
    )


# DuckDB has no width_bucket; the oracle spells out the same SQL-standard
# arithmetic (identical doubles, identical division => identical bins).
Q120_ORACLE = f"""
SELECT CASE
         WHEN o_totalprice < {HIST_LO} THEN 0
         WHEN o_totalprice >= {HIST_HI} THEN {HIST_BINS} + 1
         ELSE 1 + CAST(FLOOR((o_totalprice - {HIST_LO})
                  / (({HIST_HI} - {HIST_LO}) / {HIST_BINS})) AS BIGINT)
       END AS bucket,
       COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY bucket
ORDER BY bucket
"""


# --- q121: multiset set operations (EXCEPT ALL / INTERSECT ALL) --------------

def q121_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — the BAG-semantics set operations
    q10's distinct-semantics INTERSECT/EXCEPT leave uncovered:
    duplicates count, so "orders per (custkey, priority) placed in 1995
    minus those placed in 1996" keeps multiplicity (a customer with 3
    urgent 1995 orders and 1 urgent 1996 order survives twice). Both
    engines implement the same SQL-standard multiset algebra; the
    output aggregates each side's surviving multiset to stay small.

    Scale: Spark plans except_all/intersect_all as a single
    aggregate-style shuffle on the row value (count-difference
    semantics) — no pairwise matching, same cost class as a groupBy."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", F.year("o_orderdate").alias("y")
    )
    a = o.filter(F.col("y") == 1995).select("o_custkey", "o_orderpriority")
    b = o.filter(F.col("y") == 1996).select("o_custkey", "o_orderpriority")
    surv = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    both = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    return (
        surv.unionByName(both)
        .groupBy("op", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("op", "o_orderpriority")
    )


Q121_ORACLE = """
WITH a AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE year(o_orderdate) = 1995
),
b AS (
  SELECT o_custkey, o_orderpriority FROM orders
  WHERE year(o_orderdate) = 1996
),
surv AS (
  SELECT *, 'except_all' AS op FROM (SELECT * FROM a EXCEPT ALL
                                     SELECT * FROM b)
),
isect AS (
  SELECT *, 'intersect_all' AS op FROM (SELECT * FROM a INTERSECT ALL
                                        SELECT * FROM b)
)
SELECT op, o_orderpriority, COUNT(*) AS n
FROM (SELECT * FROM surv UNION ALL SELECT * FROM isect)
GROUP BY op, o_orderpriority
ORDER BY op, o_orderpriority
"""


# --- q122: listagg / ordered string aggregation ------------------------------

def q122_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via Spark 4's first-class
    ``listagg(DISTINCT ...) WITHIN GROUP (ORDER BY ...)`` — the ANSI
    spelling of what q2's inverted index hand-builds with
    concat_ws(sort_array(collect_set())). Per order status: the sorted
    distinct priority list plus supporting counts.

    Scale: same engine shape as collect_set — a partial-aggregated
    ObjectHashAggregate whose state is the distinct value set; safe
    whenever the per-group distinct value domain is bounded (here: 5
    priorities). For unbounded domains the sketch/heavy-hitter family
    is the stated alternative."""
    # The value set is pre-DISTINCTed in a CTE rather than via
    # listagg(DISTINCT ...): in this Spark build the distinct-aggregate
    # rewrite mis-handles ListAgg's WITHIN GROUP sort child
    # (ClassCastException AttributeReference -> SortOrder), and the
    # pre-aggregate is the same plan the rewrite would produce anyway.
    return spark.sql("""
        WITH d AS (
          SELECT DISTINCT o_orderstatus, o_orderpriority FROM {orders}
        ),
        c AS (
          SELECT o_orderstatus, COUNT(*) AS n_orders
          FROM {orders} GROUP BY o_orderstatus
        )
        SELECT d.o_orderstatus,
               listagg(d.o_orderpriority, '|')
                 WITHIN GROUP (ORDER BY d.o_orderpriority) AS priorities,
               COUNT(*) AS n_priorities,
               c.n_orders
        FROM d JOIN c USING (o_orderstatus)
        GROUP BY d.o_orderstatus, c.n_orders
        ORDER BY d.o_orderstatus
    """, orders=_t(spark, sf_dir, "orders"))


Q122_ORACLE = """
WITH d AS (
  SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
),
c AS (
  SELECT o_orderstatus, COUNT(*) AS n_orders
  FROM orders GROUP BY o_orderstatus
)
SELECT d.o_orderstatus,
       string_agg(d.o_orderpriority, '|' ORDER BY d.o_orderpriority)
         AS priorities,
       COUNT(*) AS n_priorities,
       c.n_orders
FROM d JOIN c USING (o_orderstatus)
GROUP BY d.o_orderstatus, c.n_orders
ORDER BY d.o_orderstatus
"""


# --- q112: correlated EXISTS / NOT EXISTS (TPC-H Q21 shape) ------------------

_Q112_BODY = """
SELECT s_name, COUNT(*) AS numwait
FROM (
  SELECT DISTINCT l1.l_suppkey AS suppkey, l1.l_orderkey AS orderkey
  FROM {li} l1
  JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND EXISTS (
      SELECT 1 FROM {li} l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM {li} l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > l1.l_shipdate
    )
) waited
JOIN {supplier} ON s_suppkey = suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


def q112_exists_decorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape on this schema: suppliers who were the LAST to
    ship in a finished multi-supplier order — a correlated EXISTS plus a
    correlated inequality NOT EXISTS, the canonical subquery-
    decorrelation stress test. Expressed as SQL text on purpose: this is
    the surface a SQL user of the engine hits, and Catalyst must rewrite
    both subqueries into joins (EXISTS -> left semi, NOT EXISTS -> left
    anti with the non-equi shipdate predicate attached to the equi
    orderkey key) — the plan sweep proves no CartesianProduct survives.

    Scale shape: all three lineitem references join on l_orderkey, so
    at 100 TB this is one shuffle keyed by orderkey reused across the
    semi/anti sides (natural-order co-partitioning); the supplier dim
    broadcasts; DISTINCT before the count bounds the aggregate by
    (supplier x order). Top-10 with a total tie-break order keeps the
    result deterministic for the hash gate."""
    return spark.sql(
        _Q112_BODY,
        li=_t(spark, sf_dir, "lineitem"),
        orders=_t(spark, sf_dir, "orders"),
        supplier=_t(spark, sf_dir, "supplier"),
    )


Q112_ORACLE = _Q112_BODY.format(
    li="lineitem", orders="orders", supplier="supplier"
)


# --- q145: Bloom-filter semi-join prefilter ----------------------------------

# Sized for the tested SFs (build side <= a few thousand keys => FPP
# well under 1e-3). At production the bits scale with the build-side
# count estimate (m ~ 14.4 * n for 1% FPP, k = 10) — the constants are
# fixed here so the plan is deterministic and the filter is a ~8 KiB
# broadcast either way.
BLOOM_BITS = 1 << 16
BLOOM_K = 5


def _bloom_positions(key):
    """k bit positions for a key: xxhash64 seeded by hashing the seed
    ordinal in as an extra column — pure codegen, no Python."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(BLOOM_BITS))
        for i in range(BLOOM_K)
    ]


def q145_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of orders placed by high-balance BUILDING-segment
    customers, computed through a hand-built Bloom-filter semi-join:
    the build side's custkeys are folded into a 64 Ki-bit filter (a
    1-row map<word, bits> assembled with xxhash64 + bit_or — all
    codegen), broadcast to the probe side, and non-members are dropped
    BEFORE the exact LEFT SEMI join confirms the survivors.

    This is the runtime-filter pattern for selective semi-joins at
    100 TB: the probe side sheds ~95% of its rows against an ~8 KiB
    broadcast bitmap before anything shuffles, so the exact semi-join
    only pays for candidates (false positives included, which is why
    the confirming join must stay). Spark's own InjectRuntimeFilter
    does this transparently for shuffle joins; building it from
    public expressions pins the technique as an operator the engine
    owns — and because bloom-pass ∘ exact-confirm ≡ exact semi-join,
    the oracle is the plain EXISTS query with no hash replication.

    Plan check: the bitmap is one broadcast row (BroadcastNestedLoop
    over a 1-row frame, the q68 scalar idiom); the probe scan carries
    the membership predicate; the confirming semi join sees only
    bloom survivors."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    build = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7500)
    ).select(F.col("c_custkey").alias("key"))
    # Build: key -> k positions -> (word, bit) -> bit_or per word -> 1-row map.
    pos = build.select(
        F.explode(F.array(*_bloom_positions(F.col("key")))).alias("pos")
    )
    words = pos.select(
        F.floor(F.col("pos") / 64).cast("long").alias("w"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("b"),
    )
    bf = (
        words.groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .agg(F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bf"))
    )
    # Probe: membership = all k bits set; then exact semi-join confirm.
    probe = orders.select("o_custkey", "o_orderpriority", "o_totalprice")
    probe = probe.crossJoin(F.broadcast(bf))
    for i in range(BLOOM_K):
        probe = probe.withColumn(
            f"pos_{i}",
            F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(i)), F.lit(BLOOM_BITS)),
        )
    cond = F.lit(True)
    for i in range(BLOOM_K):
        cond = cond & F.expr(
            f"(coalesce(element_at(bf, CAST(floor(pos_{i} / 64) AS BIGINT)),"
            f" 0L) & shiftleft(1L, CAST(pmod(pos_{i}, 64) AS INT))) != 0"
        )
    candidates = probe.filter(cond).drop(
        "bf", *[f"pos_{i}" for i in range(BLOOM_K)]
    )
    confirmed = candidates.join(
        build.withColumnRenamed("key", "o_custkey"), "o_custkey", "left_semi"
    )
    return (
        confirmed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("rev_cents"),
        )
        .orderBy("o_orderpriority")
    )


Q145_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey
    AND c.c_mktsegment = 'BUILDING'
    AND c.c_acctbal > 7500
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q146: exponentially weighted moving average -----------------------------

# alpha = 1/2 with a 14-day horizon: every weight 0.5^k is an exact
# dyadic, so cents * weight has <= 44 significant bits and every
# partial sum stays exactly representable — the weighted sum is
# order-free and bit-identical across engines with NO rounding step
# (the q143 lesson: never ROUND a computed double at the boundary).
EWMA_HORIZON_DAYS = 14


def q146_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily order revenue per
    priority — q88's flat 7-day mean upgraded to the recency-weighted
    smoother dashboards actually plot (alpha=1/2, 14-day horizon, so
    the truncated tail weight is 2^-14 ~ 6e-5 of the window).

    A RANGE window frame cannot weight by distance, so the EWMA is a
    self-join of the daily frame against itself on (priority, day-k):
    the daily pre-aggregate is the only full-data pass (one shuffle,
    map-side partials); the join runs over the calendar-bounded
    (priority x day) frame — thousands of rows at ANY corpus size, so
    the quadratic-looking join is O(days * horizon) on a frame that
    never grows with data volume. Weights 0.5^k are exact powers of
    two: the weighted sum is exact integer-scaled arithmetic and the
    single final division is one IEEE op on identical operands."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    daily = (
        orders.groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents).alias("cents"))
        .withColumn("day_num", F.unix_date("day"))
        .localCheckpoint(eager=False)  # two consumers; scan the daily frame once
    )
    a = daily.select(
        F.col("o_orderpriority").alias("p"),
        F.col("day").alias("day"),
        F.col("day_num").alias("anchor"),
    )
    b = daily.select(
        F.col("o_orderpriority").alias("p2"),
        F.col("day_num").alias("d2"),
        F.col("cents").alias("c2"),
    )
    k = F.col("anchor") - F.col("d2")
    joined = a.join(
        b,
        (F.col("p") == F.col("p2"))
        & (F.col("d2") <= F.col("anchor"))
        & (F.col("d2") > F.col("anchor") - EWMA_HORIZON_DAYS),
    )
    return (
        joined.groupBy(F.col("p").alias("o_orderpriority"), "day")
        .agg(
            (
                F.sum(F.col("c2") * F.pow(F.lit(0.5), k))
                / F.sum(F.pow(F.lit(0.5), k))
            ).alias("ewma_cents"),
            F.count(F.lit(1)).alias("n_in_frame"),
        )
        .orderBy("o_orderpriority", "day")
    )


Q146_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY o_orderpriority, day
),
keyed AS (
  SELECT o_orderpriority, day,
         datediff('day', DATE '1970-01-01', day) AS day_num, cents
  FROM daily
)
SELECT a.o_orderpriority, a.day,
       SUM(b.cents * POWER(0.5, a.day_num - b.day_num))
         / SUM(POWER(0.5, a.day_num - b.day_num)) AS ewma_cents,
       COUNT(*) AS n_in_frame
FROM keyed a
JOIN keyed b
  ON a.o_orderpriority = b.o_orderpriority
 AND b.day_num <= a.day_num
 AND b.day_num > a.day_num - {EWMA_HORIZON_DAYS}
GROUP BY a.o_orderpriority, a.day
ORDER BY a.o_orderpriority, a.day
"""


# --- q150: referential-integrity audit ---------------------------------------

def q150_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit — the dbt-test /
    data-contract pass every warehouse runs before publishing a
    snapshot: orphaned lineitems (no parent order), childless orders
    (no lineitem), orders pointing at missing customers, and customers
    pointing at missing nations, each as one (check, n_bad, n_total)
    row. A healthy snapshot is all-zeros in n_bad; a broken ingest
    shows WHERE the contract failed without scanning results by hand.

    Every check is a LEFT ANTI join on the foreign key — the exact
    shape Catalyst already optimizes best (broadcast when the parent
    side is small, shuffled hash otherwise, AQE decides), and each
    audits its tables independently so the four checks parallelize as
    separate stages of one job. Keys project to single columns before
    joining, so at 100 TB each anti join moves key columns only —
    never payload."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey")

    def check(name, child, parent, ckey, pkey):
        bad = child.join(
            parent.withColumnRenamed(pkey, ckey), ckey, "left_anti"
        )
        return bad.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_bad"),
        ).crossJoin(
            F.broadcast(child.agg(F.count(F.lit(1)).alias("n_total")))
        )

    out = (
        check("lineitem_orphan_order", li, orders.select("o_orderkey"),
              "l_orderkey", "o_orderkey")
        .unionByName(check("order_childless", orders.select("o_orderkey"),
                           li, "o_orderkey", "l_orderkey"))
        .unionByName(check("order_missing_customer",
                           orders.select("o_custkey"),
                           cust.select("c_custkey"), "o_custkey", "c_custkey"))
        .unionByName(check("customer_missing_nation",
                           cust.select("c_nationkey"),
                           nation, "c_nationkey", "n_nationkey"))
    )
    return out.select("check_name", "n_bad", "n_total").orderBy("check_name")


Q150_ORACLE = """
SELECT * FROM (
  SELECT 'lineitem_orphan_order' AS check_name,
         COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_bad,
         COUNT(*) AS n_total
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'order_childless',
         COUNT(CASE WHEN l.l_orderkey IS NULL THEN 1 END), COUNT(*)
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
    ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT 'order_missing_customer',
         COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END), COUNT(*)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'customer_missing_nation',
         COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END), COUNT(*)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
)
ORDER BY check_name
"""


# --- q152: Benford first-digit audit -----------------------------------------

def q152_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation — the forensic-accounting screen for
    fabricated or re-binned monetary data (organic multi-scale amounts
    follow P(d) = log10(1 + 1/d); synthetic uniform fills and clipped
    feeds don't). One row per digit with observed share and the
    Benford share, both in integer basis points, plus the absolute
    gap — the reviewer reads the worst gap straight off the sort.

    Determinism: the digit comes from the DECIMAL STRING of integer
    cents (bigint-to-string is exact in both engines — never
    floor(log10(double)), whose boundary cells flip at powers of ten),
    and every share is floor-divided into basis points. Benford's
    irrational log10 shares are pre-rounded CONSTANTS (3010 bp for
    digit 1, ...), not computed in-plan. Shape: one projected scan,
    one 9-group aggregate, a 1-row total that stays in-plan."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    digits = orders.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    ).filter(F.col("digit") >= 1)
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("n_total"))
    # floor(10000 * log10(1 + 1/d)) for d = 1..9: fixed public constants.
    bexp = F.expr(
        "element_at(array(3010, 1760, 1249, 969, 791, 669, 579, 511, 457),"
        " digit)"
    ).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.floor(F.lit(10000) * F.col("n") / F.col("n_total"))
            .cast("bigint").alias("share_bp"),
            bexp.alias("benford_bp"),
        )
        .withColumn(
            "gap_bp", F.abs(F.col("share_bp") - F.col("benford_bp"))
        )
        .orderBy("digit")
    )


Q152_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
),
counts AS (
  SELECT digit, COUNT(*) AS n FROM digits WHERE digit >= 1 GROUP BY digit
),
total AS (SELECT SUM(n) AS n_total FROM counts)
SELECT digit, n,
       CAST(floor(10000 * n / n_total) AS BIGINT) AS share_bp,
       CAST([3010, 1760, 1249, 969, 791, 669, 579, 511, 457][digit]
            AS BIGINT) AS benford_bp,
       ABS(CAST(floor(10000 * n / n_total) AS BIGINT)
           - [3010, 1760, 1249, 969, 791, 669, 579, 511, 457][digit])
         AS gap_bp
FROM counts CROSS JOIN total
ORDER BY digit
"""


# --- q155: inter-order gap statistics -----------------------------------------

def q155_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap statistics per market segment: day gaps
    between a customer's consecutive orders (lag window), rolled up to
    segment-level count / mean / min / max — the repeat-purchase-cadence
    profile behind churn and LTV models.

    Determinism: gaps are exact integer day differences (date ordering
    ties contribute gap 0 under any tie order, but o_orderkey tie-break
    pins the frame anyway); mean = integer sum / integer count through
    one division.

    Scale shape: one shuffle on o_custkey + per-customer sort (the lag
    window), then a map-side-combinable segment rollup over the tiny
    customer dimension join (broadcast)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od"), "o_orderkey"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (
        o.withColumn("prev", F.lag("od").over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn("gap", F.datediff("od", "prev").cast("bigint"))
    )
    return (
        gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_gap"),
            F.min("gap").alias("min_gap"),
            F.max("gap").alias("max_gap"),
        )
        .orderBy("c_mktsegment")
    )


Q155_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  LAG(CAST(o_orderdate AS DATE)) OVER w,
                  CAST(o_orderdate AS DATE)) AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
)
SELECT c_mktsegment,
       COUNT(*) AS n_gaps,
       ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 4) AS avg_gap,
       MIN(gap) AS min_gap,
       MAX(gap) AS max_gap
FROM gaps JOIN customer ON o_custkey = c_custkey
WHERE gap IS NOT NULL
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- q156: global percentile bands --------------------------------------------

def q156_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile banding of lineitem prices: exact global quartile
    cutoffs from ONE partial-aggregating percentile pass (a 3-number
    frame, broadcast back), then every row CASEs into its band and a
    map-side-combinable rollup counts and sums each band in exact
    cents — the two-pass global-distribution pattern that replaces a
    full sort (NTILE) at scale.

    Determinism: both engines interpolate percentiles with the same
    rank = p*(n-1) formula over the same doubles; band comparisons see
    bit-identical cutoffs; band sums are exact integer cents.

    100 TB posture (VERDICT r9 watch item): this is the EXACT-cutoff
    path — `percentile` is a holistic aggregate whose per-partition
    state grows with distinct values, and it carries the suite's worst
    (still sub-linear, 0.93) scaling exponent. At production scale the
    default is q187_percentile_bands_histo, the fixed-width-histogram
    twin with O(bins) state and one-pass mergeable partials; q156 is
    the audit path that bounds the histogram approximation."""
    # (r16 optimization round: a repartition before this scan was
    # measured SLOWER — percentile is holistic, so its merge is serial
    # regardless and the exchange is pure overhead. Left single-task.)
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    cuts = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25, 0.5, 0.75))"
        ).alias("qs")
    ).select(
        F.col("qs").getItem(0).alias("q1"),
        F.col("qs").getItem(1).alias("q2"),
        F.col("qs").getItem(2).alias("q3"),
    )
    banded = li.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("l_extendedprice") <= F.col("q1"), "Q1")
        .when(F.col("l_extendedprice") <= F.col("q2"), "Q2")
        .when(F.col("l_extendedprice") <= F.col("q3"), "Q3")
        .otherwise("Q4")
        .alias("band"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("band_cents"),
            F.round(
                F.sum("cents").cast("double")
                / F.count(F.lit(1)) / 100.0,
                4,
            ).alias("avg_price"),
        )
        .orderBy("band")
    )


Q156_ORACLE = """
WITH cuts AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.5) AS q2,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem
),
banded AS (
  SELECT CASE WHEN l_extendedprice <= q1 THEN 'Q1'
              WHEN l_extendedprice <= q2 THEN 'Q2'
              WHEN l_extendedprice <= q3 THEN 'Q3'
              ELSE 'Q4' END AS band,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem CROSS JOIN cuts
)
SELECT band, COUNT(*) AS n_items, CAST(SUM(cents) AS BIGINT) AS band_cents,
       ROUND(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_price
FROM banded
GROUP BY band
ORDER BY band
"""


# --- q160: month-of-year seasonal index ---------------------------------------

def q160_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal revenue index: each calendar month's
    average monthly revenue (in exact cents, averaged across the years
    it appears) divided by the all-months average — the classical
    seasonality decomposition step for demand forecasting.

    Determinism: monthly totals are exact integer cents; the two
    averages each perform one exact-int division; the index is one
    double division of those, identical expression tree both engines.
    The reported per-month average is floored to whole cents (a
    round(x, 2) here sits on decimal half-way points that Spark's
    BigDecimal HALF_UP and DuckDB's multiply-round-divide resolve
    differently — measured one-cent split at sf0.001).

    Scale shape: two nested map-side-combinable groupBys (rows shrink
    to years x 12 after the first) and a broadcast 1-row denominator."""
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    monthly = o.groupBy("y", "m").agg(F.sum("cents").alias("mc"))
    per_month = monthly.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_years"),
        (F.sum("mc").cast("double") / F.count(F.lit(1))).alias("m_avg"),
    )
    overall = monthly.agg(
        (F.sum("mc").cast("double") / F.count(F.lit(1))).alias("g_avg")
    )
    return (
        per_month.crossJoin(F.broadcast(overall))
        .select(
            "m",
            "n_years",
            F.floor("m_avg").cast("bigint").alias("avg_month_cents"),
            F.round(F.col("m_avg") / F.col("g_avg"), 4).alias(
                "seasonal_idx"
            ),
        )
        .orderBy("m")
    )


Q160_ORACLE = """
WITH monthly AS (
  SELECT EXTRACT(year FROM o_orderdate) AS y,
         EXTRACT(month FROM o_orderdate) AS m,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS mc
  FROM orders GROUP BY y, m
),
per_month AS (
  SELECT m, COUNT(*) AS n_years,
         CAST(SUM(mc) AS DOUBLE) / COUNT(*) AS m_avg
  FROM monthly GROUP BY m
),
overall AS (
  SELECT CAST(SUM(mc) AS DOUBLE) / COUNT(*) AS g_avg FROM monthly
)
SELECT m, n_years,
       CAST(floor(m_avg) AS BIGINT) AS avg_month_cents,
       ROUND(m_avg / g_avg, 4) AS seasonal_idx
FROM per_month CROSS JOIN overall
ORDER BY m
"""


# --- q162: log-log price elasticity per brand ---------------------------------

ELASTICITY_SCALE = 10000  # ln values quantized to 1e-4 before the sums


def q162_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: the OLS slope of
    ln(quantity) on ln(unit price) over lineitem x part — the
    log-log regression whose slope IS the elasticity estimate. The
    codegen-only sibling of q108's Pandas-UDF OLS: five aggregate sums
    and a closed-form slope, no Python anywhere.

    Determinism: ln values are quantized to exact 1e-4 integer units
    per ROW (one log+round per row — portable), so the five sums the
    slope needs are exact integers; the closed form then runs in
    doubles over identical integers. Built-in regr_slope would
    accumulate doubles in partition order — not portable to the 4th
    decimal; this is, by construction. Integer headroom: |x_i| <~ 1e5,
    sum x_i^2 <~ 1e15 at sf1 — far inside int64.

    Scale shape: broadcast part join, then one map-side-combinable
    groupBy(brand) carrying five integer sums. Linear, one shuffle of
    25 rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = F.lit(ELASTICITY_SCALE)
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.round(F.log(F.col("l_extendedprice") / F.col("l_quantity")) * s, 0)
        .cast("bigint")
        .alias("x"),
        F.round(F.log("l_quantity") * s, 0).cast("bigint").alias("y"),
    )
    agg = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    num = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    return (
        agg.filter(den > 0)
        .select(
            "p_brand",
            "n",
            F.round(num / den, 4).alias("elasticity"),
        )
        .orderBy("p_brand")
    )


Q162_ORACLE = f"""
WITH pts AS (
  SELECT p_brand,
         CAST(ROUND(ln(l_extendedprice / l_quantity) * {ELASTICITY_SCALE})
              AS BIGINT) AS x,
         CAST(ROUND(ln(l_quantity) * {ELASTICITY_SCALE}) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0
),
agg AS (
  SELECT p_brand, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts GROUP BY p_brand
)
SELECT p_brand, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
         AS elasticity
FROM agg
WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
ORDER BY p_brand
"""


# --- q164: ABC / Pareto revenue classification --------------------------------

def q164_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: rank parts by
    exact-cents revenue, classify the cumulative-share prefix into
    A (first 80% of revenue), B (next 15%), C (tail), and report each
    class's part count, revenue and share — the 80/20 catalog analysis.

    Determinism: class boundaries compare integers (cum*100 <= total*80)
    — no fp anywhere until the final reported share.

    Scale note: the cumulative window runs over the PART-level rollup
    (catalog-sized, thousands-per-million-fold smaller than lineitem),
    not raw rows. For a catalog too large for one partition the
    two-pass variant seeds per-range offsets from a range-partitioned
    prefix (same trick as SCALE.md's global-sort note); the declared
    query keeps the single-frame form exact and hash-checkable."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("cents").alias("pc"))
    w = Window.orderBy(F.desc("pc"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = per_part.agg(F.sum("pc").alias("tot"))
    classed = (
        per_part.withColumn("cum", F.sum("pc").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "pc",
            F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
            .otherwise("C")
            .alias("abc"),
            "tot",
        )
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("pc").alias("class_cents"),
            F.round(
                F.sum("pc").cast("double") / F.max("tot").cast("double"), 4
            ).alias("rev_share"),
        )
        .orderBy("abc")
    )


Q164_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS pc
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT pc,
         SUM(pc) OVER (ORDER BY pc DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(pc) OVER () AS tot
  FROM per_part
),
classed AS (
  SELECT pc, tot,
         CASE WHEN cum * 100 <= tot * 80 THEN 'A'
              WHEN cum * 100 <= tot * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc, COUNT(*) AS n_parts, CAST(SUM(pc) AS BIGINT) AS class_cents,
       ROUND(CAST(SUM(pc) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 4)
         AS rev_share
FROM classed
GROUP BY abc
ORDER BY abc
"""


# --- q166: ABC / Pareto, two-pass range-partitioned cumulative sum ------------

def q166_abc_pareto_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q164's scale-path twin: identical ABC/Pareto output, but the
    global cumulative revenue sum is computed WITHOUT an
    `Exchange SinglePartition` feeding the Window — the classic
    two-pass distributed prefix-sum:

      pass 1: range-partition the part rollup on the global sort key
              (revenue desc, partkey) so partition i holds a contiguous
              slice of the global order, then take per-partition
              within-slice cumulative sums (Window partitioned by slice
              id — parallel, no global serialization);
      pass 2: the per-slice totals (one row per partition — hundreds,
              not millions) get their own tiny cumulative sum, and each
              slice's preceding-total offset is broadcast back and
              added.

    Equal rows to q164 by construction: range partitioning preserves
    the total order across slices and l_partkey makes the sort key
    unique, so offset + within-slice cum == the single-frame cum for
    every part. Oracle: same SQL as q164.

    Scale note: this is the shape that survives a catalog too large
    for one partition (SCALE.md global-sort note); the per-slice
    offset frame is bounded by the partition count, never the data.
    tests/test_plans.py pins the no-SinglePartition-window property.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("cents").alias("pc"))

    # localCheckpoint pins ONE materialization of the range shuffle:
    # both consumers below (within-slice cumsums and slice totals) must
    # see identical slice boundaries, and RangePartitioner's sampled
    # boundaries are only guaranteed identical across consumers via
    # exchange reuse — an optimization, not a contract.
    sliced = (
        per_part.repartitionByRange(
            16, F.col("pc").desc(), F.col("l_partkey").asc()
        )
        .withColumn("slice", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )

    within = Window.partitionBy("slice").orderBy(
        F.desc("pc"), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_within = sliced.withColumn("cum_w", F.sum("pc").over(within))

    # pass 2: per-slice totals -> preceding-slice offsets. A triangular
    # broadcast self-join over the slice-totals frame (one row per
    # partition) rather than an ordered window, so NO node anywhere in
    # the plan needs an Exchange SinglePartition — windows over "just a
    # few rows" still plan one, and the gate is cleaner as "zero".
    totals = sliced.groupBy("slice").agg(F.sum("pc").alias("slice_total"))
    offsets = (
        totals.alias("a")
        .join(
            F.broadcast(totals.alias("b")),
            F.col("b.slice") < F.col("a.slice"),
            "left",
        )
        .groupBy(F.col("a.slice").alias("slice"))
        .agg(F.coalesce(F.sum("b.slice_total"), F.lit(0)).alias("offset"))
    )
    total = per_part.agg(F.sum("pc").alias("tot"))
    classed = (
        cum_within.join(F.broadcast(offsets), "slice")
        .crossJoin(F.broadcast(total))
        .select(
            "pc",
            F.when(
                (F.col("cum_w") + F.col("offset")) * 100 <= F.col("tot") * 80,
                "A",
            )
            .when(
                (F.col("cum_w") + F.col("offset")) * 100 <= F.col("tot") * 95,
                "B",
            )
            .otherwise("C")
            .alias("abc"),
            "tot",
        )
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("pc").alias("class_cents"),
            F.round(
                F.sum("pc").cast("double") / F.max("tot").cast("double"), 4
            ).alias("rev_share"),
        )
        .orderBy("abc")
    )


# --- q165: order-total reconciliation audit -----------------------------------

def q165_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation audit: per order, the ratio of the sum
    of its lineitem extended prices to the order header's total, bucketed
    into 10%-wide deciles — the "do the components add up to the
    invoice" check every warehouse runs after ingest (the value-level
    sibling of q150's key-level FK audit).

    Determinism: both sides of the ratio are exact integer cents; the
    bucket is floor(ratio*10) on the one double division — identical
    expression both engines.

    Scale shape: one map-side-combinable groupBy(orderkey) over
    lineitem, one key join to orders (co-partitioned on the join key),
    one tiny bucket rollup. Orders with no lineitems land in bucket 0
    via COALESCE — absence is an audit finding, not a dropped row."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum("cents").alias("lc"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("oc"),
    )
    j = o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left").select(
        (
            F.coalesce(F.col("lc"), F.lit(0)).cast("double")
            / F.col("oc").cast("double")
        ).alias("ratio")
    )
    b = j.select(
        F.floor(F.col("ratio") * 10).cast("bigint").alias("bucket"),
        "ratio",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
        )
        .orderBy("bucket")
    )


Q165_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS lc
  FROM lineitem GROUP BY l_orderkey
),
ratios AS (
  SELECT CAST(COALESCE(lc, 0) AS DOUBLE)
         / CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DOUBLE)
           AS ratio
  FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
)
SELECT CAST(floor(ratio * 10) AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       ROUND(MIN(ratio), 4) AS min_ratio,
       ROUND(MAX(ratio), 4) AS max_ratio
FROM ratios
GROUP BY bucket
ORDER BY bucket
"""




# --- q173: sole-late-supplier audit (TPC-H Q21 shape) -------------------------

LATE_DAYS = 90  # shipment lateness threshold vs the order date


def q173_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper on multi-supplier
    orders — the TPC-H Q21 "suppliers who kept orders waiting" audit
    reshaped to this schema (late = shipped > {LATE_DAYS} days after
    the order date; TPC-H uses receipt-vs-commit, cf. reference-free
    spec Q21). Classic blame attribution: a supplier only counts when
    the delay is unambiguously theirs.

    Q21 is usually written as EXISTS + NOT-EXISTS correlated
    subqueries; Catalyst decorrelates those into two extra self-joins
    of lineitem (the q112 pattern). This implementation uses the
    aggregation reformulation instead — per-(order, supplier) lateness,
    then one per-order rollup; a supplier qualifies iff it was late,
    the order had >= 2 suppliers, and exactly 1 late supplier — so
    lineitem is scanned ONCE and both aggregates are
    map-side-combinable. At 100 TB that is the difference between one
    shuffle of the order-supplier rollup and three full lineitem
    self-join shuffles.

    Determinism: counts only; top-10 ordered by (n_orders DESC, s_name
    ASC, suppkey ASC) — a total order.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        )
        .cast("int")
        .alias("late"),
    )
    # per_os feeds two consumers (the per-order rollup and the late
    # filter); lazy-checkpoint so lineitem⨝orders is scanned once, not
    # re-derived per consumer (the q92 bi_all lesson).
    per_os = (
        j.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("supp_late"))
        .localCheckpoint(eager=False)
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late"),
    )
    qual = (
        per_os.filter(F.col("supp_late") == 1)
        .join(
            per_o.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(F.broadcast(sup), qual.l_suppkey == sup.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"), "s_name", "n_orders"
        )
        .orderBy(F.desc("n_orders"), F.asc("s_name"), F.asc("suppkey"))
        .limit(10)
    )


Q173_ORACLE = f"""
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS supp_late
  FROM j GROUP BY l_orderkey, l_suppkey
),
per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(supp_late) AS n_late
  FROM per_os GROUP BY l_orderkey
),
qual AS (
  SELECT p.l_suppkey, COUNT(*) AS n_orders
  FROM per_os p JOIN per_o USING (l_orderkey)
  WHERE p.supp_late = 1 AND n_supp >= 2 AND n_late = 1
  GROUP BY p.l_suppkey
)
SELECT s_suppkey AS suppkey, s_name, n_orders
FROM qual JOIN supplier ON l_suppkey = s_suppkey
ORDER BY n_orders DESC, s_name ASC, suppkey ASC
LIMIT 10
"""





# --- q174: time-weighted average price (TWAP) ---------------------------------

TWAP_MIN_EVENTS = 5  # parts with fewer ship events are skipped


def q174_twap_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average unit price per part over its shipment
    history: each observed price holds from its ship date until the
    part's next shipment, and the average weights each price by how
    long it held — the standard TWAP/metrics-rollup aggregation
    (billing meters, market data) that a plain AVG gets wrong whenever
    observations are unevenly spaced. Only parts with >=
    {TWAP_MIN_EVENTS} shipment events are reported (shorter histories
    make the last-interval convention dominate).

    Determinism: prices are exact integer cents, weights exact integer
    days (datediff to the lead event; the final event weighs 1 day by
    convention), so sum(price*days) and sum(days) are exact BIGINT and
    the TWAP is one double division rounded to 2dp. Ties inside a day
    are ordered by linenumber's natural (orderkey, linenumber) key.

    Scale shape: one window PARTITIONED by part (never global) over
    the part's own shipment list, then a map-side-combinable
    per-part rollup. Skew bound = max shipments per part."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("d"),
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5
        )
        .cast("bigint")
        .alias("unit_cents"),
    ).filter(F.col("l_quantity") > 0)
    w = Window.partitionBy("l_partkey").orderBy(
        "d", "l_orderkey", "l_linenumber"
    )
    weighted = li.select(
        "l_partkey",
        "unit_cents",
        F.coalesce(
            F.datediff(F.lead("d", 1).over(w), F.col("d")) + 1, F.lit(1)
        )
        .cast("bigint")
        .alias("days"),
    )
    return (
        weighted.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("days").alias("span_days"),
            F.sum(F.col("unit_cents") * F.col("days")).alias("pd"),
        )
        .filter(F.col("n_events") >= TWAP_MIN_EVENTS)
        .select(
            "l_partkey",
            "n_events",
            "span_days",
            F.round(
                F.col("pd").cast("double")
                / F.col("span_days").cast("double")
                / 100.0,
                2,
            ).alias("twap"),
        )
        .orderBy("l_partkey")
    )


Q174_ORACLE = f"""
WITH li AS (
  SELECT l_partkey, l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS d,
         CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)
           AS unit_cents
  FROM lineitem WHERE l_quantity > 0
),
weighted AS (
  SELECT l_partkey, unit_cents,
         CAST(COALESCE(
           date_diff('day', d,
                     LEAD(d, 1) OVER (PARTITION BY l_partkey
                                      ORDER BY d, l_orderkey, l_linenumber))
           + 1, 1) AS BIGINT) AS days
  FROM li
)
SELECT l_partkey,
       COUNT(*) AS n_events,
       CAST(SUM(days) AS BIGINT) AS span_days,
       ROUND(CAST(SUM(unit_cents * days) AS DOUBLE)
             / CAST(SUM(days) AS DOUBLE) / 100.0, 2) AS twap
FROM weighted
GROUP BY l_partkey
HAVING COUNT(*) >= {TWAP_MIN_EVENTS}
ORDER BY l_partkey
"""



# --- q177: RFM customer segmentation ------------------------------------------

def q177_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: each
    customer scored 1-4 on days-since-last-order, order count, and
    lifetime spend via equi-depth quartiles, concatenated into the
    classic "444 = champion" segment code, reported as segment sizes
    with total spend — the standard CRM cohort cut.

    Determinism: recency is exact integer days against the corpus max
    order date (data-derived, so the query is self-contained); spend is
    exact cents; each NTILE orders by (metric, o_custkey) — the unique
    key makes quartile boundaries identical on both engines.

    Scale shape: one map-side-combinable groupBy(custkey) over orders,
    then three GLOBAL quartile windows over the customer-level rollup —
    at catalog scale (customers, not orders) that is the documented
    single-partition window tradeoff q164 makes; the q166 two-pass
    shape applies verbatim if the customer dimension ever outgrows a
    partition. Final rollup is segment-count-sized (<= 64 rows)."""
    from pyspark.sql.window import Window as W

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    maxd = o.agg(F.max("d").alias("maxd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("cents").alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("maxd", "last_d").cast("bigint").alias("recency"),
            "freq",
            "monetary",
        )
    )
    scored = cust.select(
        "o_custkey",
        "monetary",
        # low recency (recent) should score HIGH: order desc
        F.ntile(4)
        .over(W.orderBy(F.desc("recency"), F.asc("o_custkey")))
        .alias("r"),
        F.ntile(4).over(W.orderBy(F.asc("freq"), F.asc("o_custkey"))).alias("f"),
        F.ntile(4)
        .over(W.orderBy(F.asc("monetary"), F.asc("o_custkey")))
        .alias("m"),
    )
    return (
        scored.groupBy(
            F.concat_ws("", F.col("r"), F.col("f"), F.col("m")).alias("rfm")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").alias("segment_cents"),
        )
        .orderBy("rfm")
    )


Q177_ORACLE = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
maxd AS (SELECT MAX(d) AS maxd FROM o),
cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(d), (SELECT maxd FROM maxd)) AS BIGINT)
           AS recency,
         COUNT(*) AS freq,
         SUM(cents) AS monetary
  FROM o GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, monetary,
         NTILE(4) OVER (ORDER BY recency DESC, o_custkey ASC) AS r,
         NTILE(4) OVER (ORDER BY freq ASC, o_custkey ASC) AS f,
         NTILE(4) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m
  FROM cust
)
SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS rfm,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS BIGINT) AS segment_cents
FROM scored
GROUP BY 1
ORDER BY rfm
"""



# --- q179: minimum-cost supplier per part (TPC-H Q2 shape) --------------------

def q179_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's correlated-minimum shape adapted to this schema (no
    partsupp table): for every small part (p_size <= 5), the supplier
    that has shipped it at the lowest observed unit price, with the
    supplier's nation. Q2's `WHERE cost = (SELECT MIN(cost) ... WHERE
    same part)` correlation is expressed decorrelated, the way Catalyst
    should run it: a per-(part, supplier) MIN aggregate, then a
    row_number window partitioned by part — parallel on the part key,
    no per-row subquery execution.

    Scale shape: the part filter is applied FIRST so the lineitem scan
    is joined down before any aggregate (at 100 TB the p_size
    predicate prunes the probe side to a fraction); that join carries
    no broadcast hint — the filtered subset outgrows the 8 GB
    broadcast cap at scale, and AQE picks broadcast vs hash at
    runtime. The window is partitioned by l_partkey so no global sort
    exists anywhere. Supplier/nation are true broadcast dims.

    Determinism: unit price = cents div quantity (exact integer
    division — quantities are integral by construction); ties on
    min unit cents break to the smallest suppkey.
    Ref parity anchor: reference test queries exercise per-key min
    selection (/root/reference/src/mrapps/indexer.go:24-38 keyed
    reduce); this is the relational min-per-key form.
    """
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    # no broadcast hint: the filtered part subset is ~10% of the part
    # dim — beyond the 8 GB broadcast cap long before 100 TB. AQE
    # broadcasts it while it fits and falls back to a hash join keyed
    # on partkey when it doesn't.
    unit = li.join(
        small, li.l_partkey == small.p_partkey
    ).select(
        "l_partkey",
        "l_suppkey",
        "p_name",
        F.expr("cents div qty").alias("uc"),
    )
    per_ps = unit.groupBy("l_partkey", "l_suppkey", "p_name").agg(
        F.min("uc").alias("unit_cents")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("unit_cents"), F.asc("l_suppkey")
    )
    best = per_ps.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            "n_name",
            "unit_cents",
        )
        .orderBy("p_partkey")
    )


Q179_ORACLE = """
WITH small AS (SELECT p_partkey, p_name FROM part WHERE p_size <= 5),
unit AS (
  SELECT l_partkey, l_suppkey, p_name,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           // CAST(l_quantity AS BIGINT) AS uc
  FROM lineitem JOIN small ON p_partkey = l_partkey
),
per_ps AS (
  SELECT l_partkey, l_suppkey, p_name, MIN(uc) AS unit_cents
  FROM unit GROUP BY 1, 2, 3
),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                               ORDER BY unit_cents, l_suppkey) AS rn
  FROM per_ps
)
SELECT b.l_partkey AS p_partkey, b.p_name, s.s_name, n.n_name, b.unit_cents
FROM best b
JOIN supplier s ON s.s_suppkey = b.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE b.rn = 1
ORDER BY p_partkey
"""


# --- q180: idle high-balance customers (TPC-H Q22 shape) ----------------------

def q180_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's "global sales opportunity" shape: customers whose
    account balance is above the average positive balance but who
    placed NO order in the trailing 90 days of the data window,
    rolled up per market segment. Every customer here has SOME order
    (unlike stock Q22's never-ordered predicate, which is empty on
    this corpus), so idleness is recency-based.

    Scale shape: both scalar aggregates (positive-balance average,
    max order date) are 1-row broadcasts that stay in-plan; the
    recent-actives set is DISTINCT custkeys over a date-pruned orders
    scan, anti-joined hash-partitioned on the customer key. No window,
    no global sort.

    Determinism: the above-average test is the integer cross-multiply
    `bal_cents * n_pos > sum_pos_cents` — no float division anywhere.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5)
        .cast("bigint")
        .alias("bal_cents"),
    )
    pos = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    maxd = orders.agg(F.max("d").alias("m"))
    recent = (
        orders.crossJoin(F.broadcast(maxd))
        .filter(F.col("d") >= F.date_sub(F.col("m"), 90))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_cents").alias("seg_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


Q180_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
),
pos AS (SELECT SUM(bal_cents) AS s, COUNT(*) AS n FROM c WHERE bal_cents > 0),
maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
recent AS (
  SELECT DISTINCT o_custkey FROM orders, maxd
  WHERE CAST(o_orderdate AS DATE) >= m - INTERVAL 90 DAY
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(bal_cents) AS BIGINT) AS seg_bal_cents
FROM c, pos
WHERE bal_cents * n > s
  AND NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- q181: important parts by revenue share (TPC-H Q11 shape) -----------------

def q181_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's HAVING-versus-global-scalar shape: parts whose
    lineitem revenue exceeds 1/2000 of ALL revenue, with each part's
    share in basis points. The canonical "filter a grouped aggregate
    against an aggregate of itself" pattern.

    Scale shape: ONE revenue rollup per part (map-side combinable);
    the global total re-aggregates that rollup (partkey-cardinality
    input, not the fact table) and broadcasts back as a 1-row frame.
    The fact table is scanned exactly once.

    Determinism: threshold and share are integer arithmetic
    (cross-multiply compare; share_bp = cents*10000 div total).
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    pr = li.groupBy("l_partkey").agg(F.sum("cents").alias("part_cents"))
    tot = pr.agg(F.sum("part_cents").alias("total"))
    return (
        pr.crossJoin(F.broadcast(tot))
        .filter(F.col("part_cents") * 2000 > F.col("total"))
        .select(
            "l_partkey",
            "part_cents",
            F.expr("part_cents * 10000 div total").alias("share_bp"),
        )
        .orderBy(F.desc("part_cents"), "l_partkey")
    )


Q181_ORACLE = """
WITH pr AS (
  SELECT l_partkey,
         SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS part_cents
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(part_cents) AS total FROM pr)
SELECT l_partkey, CAST(part_cents AS BIGINT) AS part_cents,
       CAST(part_cents * 10000 // total AS BIGINT) AS share_bp
FROM pr, tot
WHERE part_cents * 2000 > total
ORDER BY part_cents DESC, l_partkey
"""


# --- q187: percentile bands via fixed-resolution histogram (q156 scale twin) --

PBH_BINS = 1024  # fixed histogram resolution (q129's approx pattern)


def q187_percentile_bands_histo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q156's scale-path twin: identical quartile-band rollup, but the
    quartile cutoffs come from a fixed-resolution HISTOGRAM instead of
    the exact `percentile` holistic aggregate (which buffers per-group
    values — the one shape in q156 that does not survive 100 TB). Three
    passes, all map-side combinable: (1) global min/max/count, (2) a
    <=1024-bin histogram, (3) the band rollup. The cumulative crossing
    runs on the BIN frame via the triangular broadcast self-join (q166
    pattern), so no Exchange SinglePartition window and no holistic
    aggregate exist anywhere in the plan.

    Cutoff rule: band p's cutoff is the lowest observed value in the
    first bin whose cumulative count crosses p*n — checked by integer
    cross-multiply (cum*4 >= n etc.), so the only doubles are the
    bit-identical bin arithmetic both engines replay (q129's
    determinism argument).

    Approximation note: cutoffs differ from q156's interpolated exact
    quartiles by at most one bin width; band POPULATIONS therefore
    differ near the cut — this is the documented accuracy trade, and
    the oracle replays the same histogram, so the check is exact."""
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    s = li.agg(
        F.min("l_extendedprice").alias("vmin"),
        F.max("l_extendedprice").alias("vmax"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "vmin",
        "n",
        ((F.col("vmax") - F.col("vmin")) / PBH_BINS).alias("width"),
    )
    b = (
        li.crossJoin(F.broadcast(s))
        .select(
            F.when(
                F.col("width") > 0,
                F.least(
                    F.floor(
                        (F.col("l_extendedprice") - F.col("vmin"))
                        / F.col("width")
                    ).cast("bigint"),
                    F.lit(PBH_BINS - 1),
                ),
            )
            .otherwise(0)
            .alias("bin"),
            "l_extendedprice",
            "n",
        )
        .groupBy("bin", "n")
        .agg(
            F.count(F.lit(1)).alias("w"),
            F.min("l_extendedprice").alias("vlo"),
        )
        # Both sides of the triangular self-join below consume this frame —
        # pin it so the lineitem scan + histogram pipeline is derived once
        # (the q166/q182 shared-frame rule; ADVICE r8).
        .localCheckpoint(eager=False)
    )
    cum = (
        b.alias("a")
        .join(F.broadcast(b.alias("c")), F.col("c.bin") <= F.col("a.bin"))
        .groupBy(
            F.col("a.bin").alias("bin"),
            F.col("a.vlo").alias("vlo"),
            F.col("a.n").alias("n"),
        )
        .agg(F.sum("c.w").alias("cum"))
    )
    cuts = cum.agg(
        F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("vlo"))).alias(
            "q1"
        ),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("vlo"))).alias(
            "q2"
        ),
        F.min(
            F.when(F.col("cum") * 4 >= F.col("n") * 3, F.col("vlo"))
        ).alias("q3"),
    )
    banded = li.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("l_extendedprice") <= F.col("q1"), "Q1")
        .when(F.col("l_extendedprice") <= F.col("q2"), "Q2")
        .when(F.col("l_extendedprice") <= F.col("q3"), "Q3")
        .otherwise("Q4")
        .alias("band"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("band_cents"),
            F.round(
                F.sum("cents").cast("double")
                / F.count(F.lit(1)) / 100.0,
                4,
            ).alias("avg_price"),
        )
        .orderBy("band")
    )


Q187_ORACLE = f"""
WITH s AS (
  SELECT MIN(l_extendedprice) AS vmin, COUNT(*) AS n,
         (MAX(l_extendedprice) - MIN(l_extendedprice)) / {float(PBH_BINS)}
           AS width
  FROM lineitem
),
b AS (
  SELECT CASE WHEN s.width > 0
              THEN LEAST(CAST(FLOOR((l.l_extendedprice - s.vmin) / s.width)
                              AS BIGINT), {PBH_BINS - 1})
              ELSE 0 END AS bin,
         MAX(s.n) AS n, COUNT(*) AS w, MIN(l.l_extendedprice) AS vlo
  FROM lineitem l, s
  GROUP BY 1
),
cum AS (
  SELECT bin, vlo, n, SUM(w) OVER (ORDER BY bin) AS cum FROM b
),
cuts AS (
  SELECT MIN(CASE WHEN cum * 4 >= n THEN vlo END) AS q1,
         MIN(CASE WHEN cum * 2 >= n THEN vlo END) AS q2,
         MIN(CASE WHEN cum * 4 >= n * 3 THEN vlo END) AS q3
  FROM cum
)
SELECT CASE WHEN l_extendedprice <= q1 THEN 'Q1'
            WHEN l_extendedprice <= q2 THEN 'Q2'
            WHEN l_extendedprice <= q3 THEN 'Q3'
            ELSE 'Q4' END AS band,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS band_cents,
       ROUND(CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_price
FROM lineitem, cuts
GROUP BY 1
ORDER BY band
"""


# --- q190: supplier market concentration (Herfindahl) --------------------------

def q190_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each part type: HHI = sum over suppliers of (share)^2,
    reported on the standard 0-10000 points scale — the "is this
    category single-sourced?" supply-chain risk audit.

    Scale shape: one (type, supplier) revenue rollup off a fact scan
    joined to the broadcast part dim, then one per-type aggregate of
    sum(cents^2) and sum(cents) — both map-side combinable; no window,
    no self-join.

    Determinism: revenue is exact integer cents; the concentration
    moments use whole DOLLARS (cents div 100) so the squared sums fit
    BIGINT far past this corpus (dollar^2 sums overflow only past ~$3B
    per supplier-type cell; shares are unit-invariant, and the oracle
    replays the same truncation); HHI is one IEEE expression over the
    exact sums, rounded to 4 dp."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    ps = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("cents").alias("sc"))
    )
    psd = ps.withColumn("sd", F.expr("sc div 100"))
    return (
        psd.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("sc").alias("type_cents"),
            F.sum("sd").alias("td"),
            F.sum(F.col("sd") * F.col("sd")).alias("sq"),
        )
        .select(
            "p_type",
            "n_suppliers",
            "type_cents",
            F.round(
                10000.0
                * F.col("sq").cast("double")
                / (F.col("td").cast("double") * F.col("td").cast("double")),
                4,
            ).alias("hhi"),
        )
        .orderBy("p_type")
    )


Q190_ORACLE = """
WITH ps AS (
  SELECT p.p_type, l.l_suppkey,
         SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS sc
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_type, l.l_suppkey
)
SELECT p_type, COUNT(*) AS n_suppliers,
       CAST(SUM(sc) AS BIGINT) AS type_cents,
       ROUND(10000.0 * CAST(SUM((sc // 100) * (sc // 100)) AS DOUBLE)
             / (CAST(SUM(sc // 100) AS DOUBLE)
                * CAST(SUM(sc // 100) AS DOUBLE)), 4)
         AS hhi
FROM ps
GROUP BY p_type
ORDER BY p_type
"""


# --- q192: late-shipment rate by order priority (TPC-H Q4 shape) ---------------

def q192_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's EXISTS shape: per order priority, how many orders
    have at least one lineitem that shipped more than 30 days after
    the order date — the SLA-breach audit. The correlated EXISTS is
    expressed as a LEFT SEMI join (what Catalyst decorrelates Q4 to),
    keyed on the order key.

    Scale shape: the breach probe projects only (l_orderkey,
    l_shipdate) off the fact scan; the semi join and the final rollup
    are both hash-partitioned on bounded keys; breach rate is exact
    integer basis points.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    late = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.datediff(F.col("sd"), F.col("od")) > 30)
        .select("o_orderkey")
        .distinct()
    )
    flagged = o.join(
        late.withColumnRenamed("o_orderkey", "lk"),
        o.o_orderkey == F.col("lk"),
        "left",
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("lk").isNotNull(), 1).otherwise(0)
            ).alias("n_late"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "n_late",
            F.expr("n_late * 10000 div n_orders").alias("late_bp"),
        )
        .orderBy("o_orderpriority")
    )


Q192_ORACLE = """
WITH late AS (
  SELECT DISTINCT o.o_orderkey
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) > 30
)
SELECT o.o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN late.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST(SUM(CASE WHEN late.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
            * 10000 // COUNT(*) AS BIGINT) AS late_bp
FROM orders o LEFT JOIN late ON late.o_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


# --- q193: supplier variety per brand/size (TPC-H Q16 shape) -------------------

def q193_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's distinct-count-with-exclusion shape: per (brand,
    size band), how many DISTINCT suppliers have shipped that
    combination — excluding suppliers with a negative account balance
    (Q16's complaint-supplier NOT IN, re-keyed to this schema).

    Scale shape: the exclusion list is a tiny broadcast anti join
    BEFORE the distinct aggregation (prune early); the distinct count
    hash-partitions on the (brand, band) group key. The part dim
    joins broadcast.
    """
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        (F.floor((F.col("p_size") - 1) / 10) * 10 + 1).alias("size_band"),
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bad_k"))
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("bad_k"),
                "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "size_band")
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
        .orderBy("p_brand", "size_band")
    )


Q193_ORACLE = """
SELECT p.p_brand,
       CAST(FLOOR((p.p_size - 1) / 10) * 10 + 1 AS BIGINT) AS size_band,
       COUNT(DISTINCT l.l_suppkey) AS n_suppliers
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY p.p_brand, size_band
ORDER BY p.p_brand, size_band
"""


# --- q194: orders-per-customer distribution (TPC-H Q13 shape) ------------------

def q194_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13's double-aggregation shape: the distribution of
    orders-per-customer — LEFT join customers to orders (zero-order
    customers land in bucket 0), count per customer, then histogram
    the counts. The classic "how concentrated is demand?" rollup.

    Scale shape: the outer join hash-partitions on the customer key;
    both aggregates are map-side combinable; the histogram frame is
    bounded by the max order count."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q194_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- q196: month-over-month population stability (PSI) -------------------------

PSI_BANDS = 10
PSI_BAND_WIDTH = 50_000.0  # fixed $50k order-value bands (no stats pass)
PSI_SCALE = 10**9


def q196_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month Population Stability Index of the order-value
    distribution — the standard ML-monitoring drift statistic
    (PSI = sum over bands of (p - q) ln(p / q)), add-1 smoothed so a
    band emptying out stays finite. PSI > 0.1 = investigate,
    > 0.25 = distribution shifted; here it audits demand-mix drift,
    the relational sibling of q184's token-distribution KL.

    Every month in the observed [min, max] range gets a row — the
    computation runs on a complete MONTH x BAND grid (a calendar spine
    crossed with the 10 fixed bands, zero-filled from the histogram),
    so a month with zero orders produces an EXTREME PSI against its
    neighbours instead of silently missing rows, and empty-empty bands
    contribute their exact smoothed terms.

    Scale shape: bands are FIXED $50k widths (no percentile/stats
    pass), so the (month, band) histogram is one map-side-combinable
    aggregate off the orders scan; the spine/grid/pairing all run on
    calendar-bounded frames — consecutive months pair by an add-month
    equijoin, never a window.

    Determinism: counts are exact integers; each smoothed PSI term is
    one IEEE expression over them, quantized to integer 1e-9 units
    before the per-pair sum (the q68/q184 fixed-point recipe)."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("m"),
        F.least(
            F.floor(F.col("o_totalprice") / PSI_BAND_WIDTH).cast("bigint"),
            F.lit(PSI_BANDS - 1),
        ).alias("band"),
    )
    hist = o.groupBy("m", "band").agg(F.count(F.lit(1)).alias("c"))
    spine = (
        o.agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
        .select(
            F.explode(
                F.expr("sequence(lo, hi, interval 1 month)")
            ).alias("m")
        )
    )
    grid = (
        spine.crossJoin(
            spark.range(PSI_BANDS).select(F.col("id").alias("band"))
        )
        .join(hist, ["m", "band"], "left")
        .select("m", "band", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("m").agg(F.sum("c").alias("n"))
    gw = grid.join(tot, "m").localCheckpoint(eager=False)  # feeds both sides
    cur = gw.select(
        "m", "band", F.col("c").alias("cp"), F.col("n").alias("np")
    )
    nxt = gw.select(
        F.add_months(F.col("m"), -1).alias("m"),
        "band",
        F.col("c").alias("cq"),
        F.col("n").alias("nq"),
    )
    j = cur.join(nxt, ["m", "band"])
    p = (F.col("cp") + 1).cast("double") / (
        F.col("np") + PSI_BANDS
    ).cast("double")
    q = (F.col("cq") + 1).cast("double") / (
        F.col("nq") + PSI_BANDS
    ).cast("double")
    term = F.round((p - q) * F.log(p / q) * PSI_SCALE).cast("bigint")
    return (
        j.groupBy("m")
        .agg(
            F.max("np").alias("n_from"),
            F.max("nq").alias("n_to"),
            F.sum(term).alias("psi_u"),
        )
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            "n_from",
            "n_to",
            F.round(F.col("psi_u").cast("double") / PSI_SCALE, 4).alias(
                "psi"
            ),
        )
        .orderBy("month")
    )


Q196_ORACLE = f"""
WITH o AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         LEAST(CAST(FLOOR(o_totalprice / {PSI_BAND_WIDTH}) AS BIGINT),
               {PSI_BANDS - 1}) AS band
  FROM orders
),
hist AS (SELECT m, band, COUNT(*) AS c FROM o GROUP BY m, band),
spine AS (
  SELECT CAST(unnest(generate_series(MIN(m), MAX(m),
                                     INTERVAL 1 MONTH)) AS DATE) AS m
  FROM o
),
grid AS (
  SELECT s.m, b.band, COALESCE(h.c, 0) AS c
  FROM spine s
  CROSS JOIN (SELECT unnest(range({PSI_BANDS})) AS band) b
  LEFT JOIN hist h ON h.m = s.m AND h.band = b.band
),
tot AS (SELECT m, SUM(c) AS n FROM grid GROUP BY m),
gw AS (SELECT g.m, g.band, g.c, t.n FROM grid g JOIN tot t ON t.m = g.m),
j AS (
  SELECT a.m, a.band, a.c AS cp, a.n AS np, b.c AS cq, b.n AS nq
  FROM gw a JOIN gw b
    ON b.m = a.m + INTERVAL 1 MONTH AND b.band = a.band
)
SELECT strftime(m, '%Y-%m') AS month,
       CAST(MAX(np) AS BIGINT) AS n_from, CAST(MAX(nq) AS BIGINT) AS n_to,
       ROUND(CAST(SUM(CAST(ROUND(
           (CAST(cp + 1 AS DOUBLE) / CAST(np + {PSI_BANDS} AS DOUBLE)
            - CAST(cq + 1 AS DOUBLE) / CAST(nq + {PSI_BANDS} AS DOUBLE))
           * LN((CAST(cp + 1 AS DOUBLE) / CAST(np + {PSI_BANDS} AS DOUBLE))
                / (CAST(cq + 1 AS DOUBLE)
                   / CAST(nq + {PSI_BANDS} AS DOUBLE)))
           * {PSI_SCALE}) AS BIGINT)) AS DOUBLE) / {PSI_SCALE}, 4) AS psi
FROM j
GROUP BY m
ORDER BY month
"""


# --- q199: Gini coefficient of customer spend (two-pass global ranks) ----------

GINI_SLICES = 16


def q199_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality number next
    to q190's HHI concentration: G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n
    over spend sorted ascending. The global rank i is computed WITHOUT
    a single-partition window via the q166 two-pass pattern:
    range-partition customers on the (spend, custkey) sort key, take
    within-slice row_numbers (parallel), add each slice's broadcast
    row-count offset. sum(i*x_i) is then one map-side-combinable
    aggregate.

    Determinism: ranks are unique (custkey tiebreak); all moments are
    exact BIGINTs (rank x cents stays under 2^63 past 10^7 customers;
    beyond that switch cents to dollars — G is unit-invariant); the
    final G is one IEEE expression, rounded to 6 dp."""
    spend = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("x"))
    )
    sliced = (
        spend.repartitionByRange(
            GINI_SLICES, F.col("x").asc(), F.col("o_custkey").asc()
        )
        .withColumn("slice", F.spark_partition_id())
        .localCheckpoint(eager=False)  # both consumers see one slicing
    )
    win = Window.partitionBy("slice").orderBy(
        F.asc("x"), F.asc("o_custkey")
    )
    ranked = sliced.withColumn("rn", F.row_number().over(win))
    counts = sliced.groupBy("slice").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b.slice") < F.col("a.slice"),
            "left",
        )
        .groupBy(F.col("a.slice").alias("slice"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("off"))
    )
    g = (
        ranked.join(F.broadcast(offsets), "slice")
        .select((F.col("rn") + F.col("off")).alias("i"), "x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("i") * F.col("x")).alias("six"),
        )
    )
    return g.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        F.round(
            2.0
            * F.col("six").cast("double")
            / (F.col("n").cast("double") * F.col("sx").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )


Q199_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM spend
),
m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(i * x) AS six FROM ranked)
SELECT CAST(n AS BIGINT) AS n_customers, CAST(sx AS BIGINT) AS total_cents,
       ROUND(2.0 * CAST(six AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
FROM m
"""


# --- q200: Welch's t-test between customer segments -----------------------------

def q200_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-statistic comparing order values
    between the BUILDING and MACHINERY segments — the A/B-test
    statistic every experimentation pipeline computes, expressed as
    pure integer moments: t = (m1-m2)/sqrt(s1^2/n1 + s2^2/n2) with
    mean and variance derived from per-segment (n, sum, sum-of-
    squares) in ONE map-side-combinable aggregate over the joined
    fact scan. Degrees of freedom via Welch-Satterthwaite, same
    moments.

    Determinism: moments use whole DOLLARS so the squared sums stay
    exact BIGINTs far past this corpus (the q190 trade); the t and df
    are single IEEE expressions over them, rounded to 4 dp."""
    seg = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice")).cast("bigint").alias("d"),
    )
    j = o.join(F.broadcast(seg), o.o_custkey == seg.c_custkey).filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    m = j.groupBy().agg(
        *[
            agg
            for s, tag in (("BUILDING", "1"), ("MACHINERY", "2"))
            for agg in (
                F.sum(
                    F.when(F.col("c_mktsegment") == s, 1).otherwise(0)
                ).alias(f"n{tag}"),
                F.sum(
                    F.when(F.col("c_mktsegment") == s, F.col("d")).otherwise(
                        0
                    )
                ).alias(f"s{tag}"),
                F.sum(
                    F.when(
                        F.col("c_mktsegment") == s, F.col("d") * F.col("d")
                    ).otherwise(0)
                ).alias(f"q{tag}"),
            )
        ]
    )
    n1, s1, q1 = F.col("n1"), F.col("s1"), F.col("q1")
    n2, s2, q2 = F.col("n2"), F.col("s2"), F.col("q2")
    v1 = (q1.cast("double") - s1.cast("double") * s1 / n1) / (n1 - 1)
    v2 = (q2.cast("double") - s2.cast("double") * s2 / n2) / (n2 - 1)
    a = v1 / n1.cast("double")
    b = v2 / n2.cast("double")
    t = (s1.cast("double") / n1 - s2.cast("double") / n2) / F.sqrt(a + b)
    df = (a + b) * (a + b) / (
        a * a / (n1 - 1).cast("double") + b * b / (n2 - 1).cast("double")
    )
    return m.select(
        "n1",
        "n2",
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("df"),
    )


Q200_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CAST(floor(o.o_totalprice) AS BIGINT) AS d
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
m AS (
  SELECT SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN seg = 'BUILDING' THEN d ELSE 0 END) AS s1,
         SUM(CASE WHEN seg = 'BUILDING' THEN d * d ELSE 0 END) AS q1,
         SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN seg = 'MACHINERY' THEN d ELSE 0 END) AS s2,
         SUM(CASE WHEN seg = 'MACHINERY' THEN d * d ELSE 0 END) AS q2
  FROM j
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      / (n1 - 1) / n1
                    + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                      / (n2 - 1) / n2), 4) AS t_stat,
       ROUND(
         ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
            / (n1 - 1) / n1
          + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
            / (n2 - 1) / n2)
         * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
              / (n1 - 1) / n1
            + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
              / (n2 - 1) / n2)
         / (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
               / (n1 - 1) / n1)
            * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                 / (n1 - 1) / n1) / (n1 - 1)
            + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                 / (n2 - 1) / n2)
              * ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                   / (n2 - 1) / n2) / (n2 - 1)), 2) AS df
FROM m
"""


# --- q208: SQL pipe syntax (|> operator chaining) ----------------------------


def q208_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL *pipe syntax* (Spark 4's ``|>`` operator chaining, SIGMOD'24
    "SQL Has Problems..."): the query reads top-to-bottom as a
    dataflow — FROM, then WHERE, then a computed column via EXTEND,
    then AGGREGATE ... GROUP BY, then ORDER BY — instead of the
    inside-out ANSI nesting. Each ``|>`` stage is sugar the parser
    lowers to the SAME logical operators as the ANSI form, so
    Catalyst's plan (pushdown, pruning, partial aggregation,
    whole-stage codegen) is identical to hand-written SQL: the surface
    costs nothing at 100 TB, which is exactly the point — it is a
    parse-time feature, pinned by the plan test.

    Semantics are TPC-H Q1-flavored (the q4 family): revenue per
    returnflag x linestatus over recent shipments, with the discount
    expression introduced once in EXTEND and consumed by the
    aggregate.

    Determinism: double sum ROUND(...,2), the q4 recipe.

    Reference lineage: none — the reference has no query language at
    all (SURVEY §2.3); declarative surface parity item like q204."""
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |> EXTEND l_extendedprice * (1.0 - l_discount) AS disc_price
        |> AGGREGATE COUNT(*) AS n_items,
                     ROUND(SUM(disc_price), 2) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


Q208_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q211: parameterized SQL (named + positional binding, IDENTIFIER) --------


_Q211_SQL = """
SELECT :seg AS seg, o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(MAX(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM IDENTIFIER(:orders_tbl) o
JOIN IDENTIFIER(:customer_tbl) c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = :seg
  AND o.o_orderdate >= CAST(:cutoff AS TIMESTAMP)
GROUP BY o.o_orderpriority
"""


def _q211_positional_sql() -> str:
    """q211's positional-binding text, derived from the one statement:
    view names become plain literals (positional ``?`` markers do not
    compose with ``IDENTIFIER()`` in this build) and only the value
    markers become ``?``. The round-11 property tests import THIS
    derivation, so the pinned parity covers the shipped statement, not
    a private copy."""
    return (
        _Q211_SQL.replace("IDENTIFIER(:orders_tbl)", "__q211_orders")
        .replace("IDENTIFIER(:customer_tbl)", "__q211_customer")
        .replace(":cutoff", "?")
        .replace(":seg", "?")
    )


def q211_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized ``spark.sql(sql, args=...)`` — the injection-safe
    composition surface: user-supplied values bind as TYPED literal
    parameters (``:name`` markers, never string-spliced), and
    user-supplied object names pass through the ``IDENTIFIER(:param)``
    clause, which resolves them as identifiers — a value can never
    smuggle SQL syntax into either position. One SQL text, compiled
    per argument set; the bound literals are real Catalyst literals,
    so constant folding, filter pushdown, and partition pruning work
    exactly as if the values were inlined by hand (a 100 TB scan
    still prunes on the bound ``:cutoff``).

    ONE statement text is compiled twice with different named argument
    sets and the union proves each set parameterizes the plan
    independently (the q205 two-invocation discipline). The second
    invocation exercises positional (``?``) binding — but ONLY for
    value markers: in this Spark build positional parameters do NOT
    compose with ``IDENTIFIER()`` (``spark.sql`` raises
    ``ParseException`` when a ``?`` marker appears inside
    ``IDENTIFIER()``), so the positional text keeps the view names as
    plain literals and binds just ``seg``/``cutoff``. The
    incompatibility itself is pinned as a raises-probe in
    tests/properties/test_round11_properties.py (same watch-list
    posture as q205's correlated-LATERAL probe: if a future Spark
    build starts accepting it, the probe fails and we upgrade the
    query).

    Determinism: integer-cents money with SUM CAST to BIGINT (the
    DuckDB HUGEINT recipe); COUNT/MAX are exact.

    Reference lineage: the reference parameterizes jobs by argv
    (mrworker.go:30-38 loads the app .so named on the command line);
    a declarative engine's analog — safely templating the QUERY
    itself — has no counterpart there (SURVEY §2.3), engine-surface
    item like q204/q205/q208."""
    # IDENTIFIER() takes a name, so the tables are named views; both
    # frames are analyzed (the views inlined) before the finally drops them.
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__q211_{t}")
    try:
        named = spark.sql(
            _Q211_SQL,
            args={
                "seg": "AUTOMOBILE",
                "cutoff": "1996-01-01 00:00:00",
                "orders_tbl": "__q211_orders",
                "customer_tbl": "__q211_customer",
            },
        )
        # lexical order of the ? value markers: seg (projection),
        # seg (filter), cutoff — positional parameters bind one marker
        # each, so seg is passed twice.
        positional = spark.sql(
            _q211_positional_sql(),
            args=["HOUSEHOLD", "HOUSEHOLD", "1994-06-01 00:00:00"],
        )
        return named.unionAll(positional).orderBy("seg", "o_orderpriority")
    finally:
        for t in ("orders", "customer"):
            spark.catalog.dropTempView(f"__q211_{t}")


Q211_ORACLE = """
WITH inv AS (
  SELECT * FROM (VALUES ('AUTOMOBILE', TIMESTAMP '1996-01-01 00:00:00'),
                        ('HOUSEHOLD',  TIMESTAMP '1994-06-01 00:00:00'))
         AS v(seg, cutoff)
)
SELECT inv.seg, o.o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(MAX(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM inv
JOIN customer c ON c.c_mktsegment = inv.seg
JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderdate >= inv.cutoff
GROUP BY inv.seg, o.o_orderpriority
ORDER BY inv.seg, o.o_orderpriority
"""


# --- q215: listagg WITHIN GROUP (ordered string aggregation) -----------------


def q215_listagg_topk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``listagg(...) WITHIN GROUP (ORDER BY ...)`` — ANSI ordered
    string aggregation (Spark 4), the declarative form of the ordered
    reduce q2/q122 spell manually with sort_array/array_join. Only the
    WITHIN GROUP form is deterministic: bare listagg concatenates in
    partition-arrival order (pinned in
    tests/properties/test_r13_candidate_probes.py), so the bare form
    can never carry an oracle hash.

    Scale posture: listagg state is the CONCATENATED STRING, so the
    operator is only scale-safe over bounded groups — an unbounded
    listagg at 100 TB is a driver-sized string per key. This query pins
    the safe composition: a rank window LIMITS each group to its top-5
    rows first (WindowGroupLimit pushes the cap before the full sort),
    and the ordered aggregation runs over ≤5 rows per group. Rank and
    listagg order both use exact integer cents, never raw doubles.

    Reference lineage: the sorted-by-key reduce fold of
    /root/reference/src/mr/worker.go:197-212 (values of one key
    processed in one ordered pass); crash.go:45-55 concatenates values
    within a key the same way.
    """
    return spark.sql(
        """
        WITH ranked AS (
          SELECT o_orderpriority, o_orderkey,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                            DESC, o_orderkey
                 ) AS rk
          FROM {orders}
        )
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY cents DESC, o_orderkey) AS top_keys,
               COUNT(*) AS n_top,
               CAST(SUM(cents) AS BIGINT) AS top_cents
        FROM ranked
        WHERE rk <= 5
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


Q215_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                    o_orderkey
         ) AS rk
  FROM orders
)
SELECT o_orderpriority,
       string_agg(CAST(o_orderkey AS VARCHAR), ','
                  ORDER BY cents DESC, o_orderkey) AS top_keys,
       COUNT(*) AS n_top,
       CAST(SUM(cents) AS BIGINT) AS top_cents
FROM ranked
WHERE rk <= 5
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q216: SQL scripting + session variables ---------------------------------


_Q216_SCRIPT = """
BEGIN
  DECLARE n_total BIGINT DEFAULT 0;
  DECLARE cents_total BIGINT DEFAULT 0;
  DECLARE n_groups BIGINT DEFAULT 0;
  FOR g AS SELECT o.o_orderpriority AS pri, COUNT(*) AS n,
                  CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS cents
           FROM IDENTIFIER(q216_tbl) o
           JOIN __q216_customer c ON c.c_custkey = o.o_custkey
           WHERE c.c_mktsegment = q216_seg
             AND o.o_orderdate >= q216_cutoff
           GROUP BY o.o_orderpriority
           ORDER BY o.o_orderpriority DO
    SET n_total = n_total + g.n;
    SET cents_total = cents_total + g.cents;
    SET n_groups = n_groups + 1;
  END FOR;
  SELECT q216_seg AS seg, n_groups, n_total, cents_total;
END
"""


def q216_sql_script_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (``BEGIN ... END``, Spark 4) composed with session
    variables — the parameterized-maintenance shape: ``DECLARE
    VARIABLE`` + positional ``SET VAR x = ?`` set the job's parameters
    once, then a script's FOR loop folds per-group aggregates into
    script-local variables and the FINAL statement (a script returns
    only its last statement's result — pinned in
    tests/properties/test_r13_candidate_probes.py) emits the summary
    row. The loop's fold is replayed as a closed-form aggregate by the
    oracle, so control flow is hash-checked, not just smoke-run.

    The three variable pins from the probe suite are all load-bearing
    here: ``q216_seg``/``q216_cutoff`` CONSTANT-FOLD into the
    optimized plan (the filter prunes like a hand-inlined literal — at
    100 TB the segment/date scan cut happens at planning time), the
    cutoff is submitted positionally (``SET VAR ... = ?``), and the
    orders table name resolves through ``IDENTIFIER(q216_tbl)`` — the
    working counterpart of q211's pinned positional-?-in-IDENTIFIER
    ParseException.

    Two invocations with different ``SET VAR`` bindings are unioned
    (the q205/q211 two-invocation discipline): same script text, two
    parameterizations, proving the variables — not the text — carry
    the parameters.

    Reference lineage: the reference parameterizes a run by argv
    (mrworker.go:30-38, mrcoordinator.go:20-23); an engine-side
    scripted control plane has no counterpart there (SURVEY §2.3) —
    engine-surface item like q204/q205/q211."""
    # The script names its tables (IDENTIFIER(q216_tbl) takes a name);
    # both scripts have run by the time the finally drops the views.
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"__q216_{t}")
    try:
        spark.sql(
            "DECLARE OR REPLACE VARIABLE q216_seg STRING DEFAULT 'BUILDING'"
        )
        spark.sql(
            "DECLARE OR REPLACE VARIABLE q216_cutoff TIMESTAMP "
            "DEFAULT TIMESTAMP '1990-01-01 00:00:00'"
        )
        spark.sql(
            "DECLARE OR REPLACE VARIABLE q216_tbl STRING"
            " DEFAULT '__q216_orders'"
        )
        spark.sql("SET VAR q216_seg = ?", args=["MACHINERY"])
        spark.sql("SET VAR q216_cutoff = ?", args=["1995-07-01 00:00:00"])
        first = spark.sql(_Q216_SCRIPT)
        spark.sql("SET VAR q216_seg = ?", args=["FURNITURE"])
        spark.sql("SET VAR q216_cutoff = ?", args=["1993-01-01 00:00:00"])
        second = spark.sql(_Q216_SCRIPT)
        return first.unionAll(second).orderBy("seg")
    finally:
        for t in ("orders", "customer"):
            spark.catalog.dropTempView(f"__q216_{t}")


Q216_ORACLE = """
WITH inv AS (
  SELECT * FROM (VALUES ('MACHINERY', TIMESTAMP '1995-07-01 00:00:00'),
                        ('FURNITURE', TIMESTAMP '1993-01-01 00:00:00'))
         AS v(seg, cutoff)
), per_group AS (
  SELECT inv.seg, o.o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM inv
  JOIN customer c ON c.c_mktsegment = inv.seg
  JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderdate >= inv.cutoff
  GROUP BY inv.seg, o.o_orderpriority
)
-- LEFT JOIN from inv: the script emits its summary row even when a
-- parameterization matches ZERO orders (n_groups = 0, totals 0), so
-- the oracle must too — an inner-join shape would drop that row on a
-- regenerated corpus where a segment/cutoff combination is empty
SELECT inv.seg, COUNT(pg.o_orderpriority) AS n_groups,
       CAST(COALESCE(SUM(pg.n), 0) AS BIGINT) AS n_total,
       CAST(COALESCE(SUM(pg.cents), 0) AS BIGINT) AS cents_total
FROM inv
LEFT JOIN per_group pg ON pg.seg = inv.seg
GROUP BY inv.seg
ORDER BY inv.seg
"""


# --- q218: EXECUTE IMMEDIATE ... USING ---------------------------------------


_Q218_STMT = """
SELECT ? AS region, n.n_name,
       COUNT(*) AS n_cust,
       CAST(SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM __q218_customer c
JOIN __q218_nation n ON n.n_nationkey = c.c_nationkey
JOIN __q218_region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = ? AND c.c_acctbal > ?
GROUP BY n.n_name
"""


def q218_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE ... USING`` — dynamic SQL whose statement
    TEXT lives in a session variable and whose values bind through the
    positional USING clause: the composition a metadata-driven job
    runner uses (statement fetched from a config table, parameters
    supplied at dispatch). Positional USING binds work in this build
    (pinned in tests/properties/test_r13_candidate_probes.py), while
    ``?`` inside ``IDENTIFIER()`` still does not (q211's watch-listed
    quirk) — so object names here are fixed view literals and USING
    carries values only.

    One statement text, two USING argument sets, unioned (the
    q205/q211/q216 two-invocation discipline). The region filter binds
    to a broadcast-dim predicate and the balance bound is a typed
    literal after binding — pushdown and pruning behave exactly as the
    hand-inlined q7-family plans.

    Determinism: COUNT plus integer-cents SUM; the region label is
    projected from the same bound literal that filters.

    Reference lineage: mrworker.go:30-38 dispatches by argv-supplied
    app name — dynamic dispatch of the QUERY text is the declarative
    analog (SURVEY §2.3 engine-surface gap)."""
    # The statement text lives in a variable, so its tables are named
    # views; both statements are analyzed before the finally drops them.
    for t in ("customer", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"__q218_{t}")
    try:
        spark.sql("DECLARE OR REPLACE VARIABLE q218_stmt STRING DEFAULT ''")
        spark.sql("SET VAR q218_stmt = ?", args=[_Q218_STMT])
        first = spark.sql(
            "EXECUTE IMMEDIATE q218_stmt USING 'EUROPE', 'EUROPE', 1000.0"
        )
        second = spark.sql(
            "EXECUTE IMMEDIATE q218_stmt USING 'ASIA', 'ASIA', 5000.0"
        )
        return first.unionAll(second).orderBy("region", "n_name")
    finally:
        for t in ("customer", "nation", "region"):
            spark.catalog.dropTempView(f"__q218_{t}")


Q218_ORACLE = """
WITH inv AS (
  SELECT * FROM (VALUES ('EUROPE', 1000.0), ('ASIA', 5000.0))
         AS v(region, bal_min)
)
SELECT inv.region, n.n_name,
       COUNT(*) AS n_cust,
       CAST(SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS bal_cents
FROM inv
JOIN region r ON r.r_name = inv.region
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
                AND c.c_acctbal > inv.bal_min
GROUP BY inv.region, n.n_name
ORDER BY inv.region, n.n_name
"""


def q224_report_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyst-shorthand reporting surface in one query: ``GROUP BY
    ALL`` (group on the full non-aggregate projection), a lateral
    column alias (``avg_cents`` reads the ``total_cents`` and ``n``
    aliases defined earlier in the SAME select list — no nested
    subquery), ``SELECT * EXCEPT (...)`` (projection-level column
    exclusion), and ``ORDER BY ALL`` (sort by the full remaining select
    list). All four resolve identically in DuckDB, which originated the
    ALL/EXCEPT shorthand (EXCLUDE there) — pinned in
    tests/properties/test_r14_candidate_probes.py.

    The inner aggregate keeps the integer-cents discipline (per-row
    FLOOR(x*100+0.5) before SUM); the lateral chain uses integer DIV so
    both engines truncate identically. Build trap (this is why the
    lateral layer sits ABOVE the aggregate): a lateral alias inside a
    GROUP BY ALL block raises UNSUPPORTED_FEATURE.
    LATERAL_COLUMN_ALIAS_IN_GROUP_BY in this build.

    Scale shape: the shorthands are pure resolver sugar — the optimized
    plan is the same single hash aggregate over (priority, status) as
    the longhand spelling, then a 15-row projection; nothing about ALL/
    EXCEPT survives into the physical plan.
    """
    return spark.sql(
        """
SELECT * EXCEPT (total_cents) FROM (
  SELECT *,
         total_cents DIV n AS avg_cents,
         avg_cents DIV 100 AS avg_dollars
  FROM (
    SELECT o_orderpriority,
           o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents
    FROM {orders}
    GROUP BY ALL
  )
)
ORDER BY ALL
""",
        orders=_t(spark, sf_dir, "orders"),
    )


Q224_ORACLE = """
SELECT * EXCLUDE (total_cents) FROM (
  SELECT *,
         total_cents // n AS avg_cents,
         avg_cents // 100 AS avg_dollars
  FROM (
    SELECT o_orderpriority,
           o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents
    FROM orders
    GROUP BY ALL
  )
)
ORDER BY ALL
"""


def q227_conditional_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation report in one pass: ``count_if`` (count
    under a predicate), ``bool_and``/``bool_or`` (universal/existential
    tests as aggregates), and the ANSI ``FILTER (WHERE ...)`` aggregate
    clause composed with COUNT and an integer-cents SUM — the idiom
    that replaces N self-joins ("orders, of which open, of which
    high-value, and did every one clear?") with one aggregate over one
    scan. All five surfaces are value-identical in DuckDB (pinned in
    tests/properties/test_r15_candidate_probes.py), so Spark and oracle
    run the same statement text. The one dtype wrinkle: DuckDB's
    count_if returns DOUBLE where Spark returns BIGINT, so the shared
    text CASTs it (values identical either way).

    Determinism: counts, bools, and integer cents only; the
    FILTER-gated SUM is NULL for a group with no qualifying row in both
    engines.

    Scale shape: ONE hash aggregate keyed on o_orderpriority (5
    groups), every conditional folded into the same partial-aggregate
    state map-side — no second scan, no join, shuffle carries 5 rows
    per map task. The FILTER clause compiles to the same
    codegen-conditional accumulation a CASE WHEN inside the aggregate
    would, with the predicate visible to the optimizer.

    Reference lineage: the multi-counter shape of
    src/mrapps/jobcount.go:22-46 (several counters advanced in one
    pass) expressed declaratively."""
    return spark.sql(_Q227_STMT, t=_t(spark, sf_dir, "orders"))


_Q227_STMT = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
       bool_and(o_totalprice > 0) AS all_pos,
       bool_or(o_orderstatus = 'F') AS any_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_cents
FROM {t}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q227_ORACLE = _Q227_STMT.format(t="orders")


def q233_percentile_disc_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact DISCRETE percentiles via ``percentile_disc(p) WITHIN GROUP``
    — the discrete sibling of q45's interpolated report: every returned
    value is an ACTUAL order price (the smallest element whose
    cumulative share reaches p), never an interpolation, which is the
    right statistic when the value must be exhibitable (an order you
    can point at) rather than synthetic. DuckDB's twin is
    ``quantile_disc``; the element-selection rule agrees across group
    sizes (pinned by a 1..40 sweep at registration) and the one dtype
    wrinkle is TYPE not value: Spark widens the result to DOUBLE where
    DuckDB keeps the element type, so the oracle casts (pinned in
    tests/properties/test_r16_candidate_probes.py).

    Determinism: each output is one element of the group — bit-identical
    in both engines with no arithmetic; the ROUND is rendering-safety
    only, applied to already-identical doubles.

    Scale shape: like q45 — a holistic per-group sort, safe at 5 groups;
    the documented big-data path for unbounded group counts is the
    approximate sketch twin (sketch_price_quantiles). This is the
    correctness anchor of the discrete-quantile rung."""
    return spark.sql(
        """
SELECT o_orderpriority,
       COUNT(*) AS n,
       ROUND(percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice), 2)
         AS p25,
       ROUND(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
         AS p50,
       ROUND(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2)
         AS p90
FROM {orders}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        orders=_t(spark, sf_dir, "orders"),
    )


Q233_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       ROUND(CAST(quantile_disc(o_totalprice, 0.25) AS DOUBLE), 2) AS p25,
       ROUND(CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE), 2) AS p50,
       ROUND(CAST(quantile_disc(o_totalprice, 0.9) AS DOUBLE), 2) AS p90
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q234_array_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-surgery sweep over document token-length
    arrays — extends q116 (which covered filter/aggregate/transform
    over embeddings) with the boolean quantifiers and list-editing
    surfaces staged in the r16 probe file: ``forall`` (universal test),
    ``exists`` (existential test), ``filter``-size, ``array_compact``
    (NULL removal — 1-char token lengths are nulled with nullif to
    exercise it), ``array_insert`` (prepend the token count to the
    sorted 3-smallest lengths), and the sorted ``array_distinct``
    vocabulary.

    DuckDB replays (all pinned in
    tests/properties/test_r16_candidate_probes.py): forall/exists via
    ``list_filter`` lengths, array_compact via a not-NULL filter,
    array_insert-at-1 via ``list_prepend``. ORDER TRAP honored: Spark's
    array_distinct preserves first-seen order while DuckDB's
    list_distinct does not, so the vocabulary is array_sort'ed on BOTH
    sides before serialization. Output contract: scalars only (the
    q116 rule — the driver cannot hash list cells), arrays serialized
    as comma-joined strings of integers. Tokenization is the shared
    SPARK_TOKS_EXPR/DUCK_TOKS_EXPR pair, so both engines see identical
    arrays by construction.

    Scale shape: entirely row-local whole-stage codegen over one
    documents scan — no explode, no shuffle before the final
    sort of |docs| rows; the per-row arrays are token counts (~100
    elements), so every higher-order function is a bounded in-register
    loop."""
    from ..functions.text import SPARK_TOKS_EXPR

    return spark.sql(
        f"""
WITH lens AS (
  SELECT doc_id,
         transform({SPARK_TOKS_EXPR}, x -> length(x)) AS ls
  FROM {{documents}}
)
SELECT doc_id,
       forall(ls, x -> x < 40) AS all_short,
       exists(ls, x -> x >= 12) AS has_long,
       CAST(size(filter(ls, x -> x >= 6)) AS BIGINT) AS n_big,
       CAST(size(array_compact(transform(ls, x -> nullif(x, 1))))
            AS BIGINT) AS n_multi,
       concat_ws(',', transform(
         array_insert(slice(array_sort(ls), 1, 3), 1,
                      CAST(size(ls) AS INT)),
         x -> CAST(x AS STRING))) AS head3,
       concat_ws(',', transform(array_sort(array_distinct(ls)),
                                x -> CAST(x AS STRING))) AS vocab
FROM lens ORDER BY doc_id
""",
        documents=_t(spark, sf_dir, "documents"),
    )


def _q234_oracle() -> str:
    from ..functions.text import DUCK_TOKS_EXPR

    return f"""
WITH lens AS (
  SELECT doc_id,
         list_transform({DUCK_TOKS_EXPR}, x -> length(x)) AS ls
  FROM documents
)
SELECT doc_id,
       len(list_filter(ls, x -> x < 40)) = len(ls) AS all_short,
       len(list_filter(ls, x -> x >= 12)) > 0 AS has_long,
       CAST(len(list_filter(ls, x -> x >= 6)) AS BIGINT) AS n_big,
       CAST(len(list_filter(ls, x -> x != 1)) AS BIGINT) AS n_multi,
       array_to_string(list_prepend(len(ls), list_sort(ls)[1:3]), ',')
         AS head3,
       array_to_string(list_sort(list_distinct(ls)), ',') AS vocab
FROM lens ORDER BY doc_id
"""


# --- q237: try_* arithmetic overflow census ------------------------------------

# Shared between the Spark statement, the DuckDB oracle, and the rim
# property test (tests/properties/test_round16_wave2_properties.py) —
# one source so a recalibration cannot desynchronize them.
# 6 * Q237_RIM_WORD = 9223372036854775806 is the largest in-range
# multiple; l_linenumber == 7 is therefore the exact overflow stratum.
Q237_RIM_WORD = 1537228672809129301
Q237_A_COEF = 1600000000000000000  # |a| <= 3 * this, in-range alone
Q237_B_COEF = 2400000000000000000  # |b| <= 2 * this, in-range alone


def q237_try_arithmetic_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BIGINT overflow census via ``try_add`` / ``try_subtract`` /
    ``try_multiply`` — the q223/q232/q238 error-safe family's
    ARITHMETIC members (r17 probe pin 1): revenue-scaled words built
    from lineitem's integer keys are pushed deliberately against the
    int64 range, and the NULL-on-overflow strata are audited per
    returnflag together with the surviving min/max words. A plain +/-/*
    under ANSI mode would kill the job on the first overflowing row;
    the try_ forms quarantine record-level faults as NULLs — the datum
    dies, not the pipeline (the record-level analog of
    /root/reference/src/mrapps/crash.go:20-33's process-level story,
    same posture as q232).

    The operand design makes every stratum deterministic and integer-
    exact: a = (l_orderkey%7-3)*1.6e18 and b = (l_partkey%5-2)*2.4e18
    stay in-range individually, their sum/difference overflows exactly
    when both sit at the rim; c = try_multiply(l_linenumber, 1.537e18)
    overflows precisely at l_linenumber == 7 (6*1537228672809129301 =
    9223372036854775806 is the largest in-range multiple). The DuckDB
    oracle replays the range check in HUGEINT (128-bit) arithmetic —
    compute wide, NULL outside [-2^63, 2^63), cast back.

    Scale shape: all three try_ ops are row-local codegen on the scan;
    ONE 3-group hash aggregate with COUNT/MIN/MAX partials map-side.
    Zero extra shuffle vs a plain census — fault tolerance priced at
    one CASE per word."""
    # Widen before the try-arithmetic projection: lineitem is one
    # row group (one scan task), and the deliberately-overflowing try_*
    # words are the most expensive row-local math in the suite (each
    # overflow is an internal JVM exception) — serial there otherwise
    # (guide §2.5; measured 3.8 s -> 1.9 s at sf0.1; r17: width-gated
    # so a many-split cluster scan skips the exchange).
    from ..functions.partitioning import widen_for_rowlocal

    return spark.sql(
        f"""
WITH big AS (
  SELECT l_returnflag,
         (l_orderkey % 7 - 3) * {Q237_A_COEF} AS a,
         (l_partkey % 5 - 2) * {Q237_B_COEF} AS b,
         try_multiply(CAST(l_linenumber AS BIGINT), {Q237_RIM_WORD})
           AS c
  FROM {{lineitem}}
), t AS (
  SELECT l_returnflag, c,
         try_add(a, b) AS s, try_subtract(a, b) AS d
  FROM big
)
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE s IS NULL) AS n_add_over,
       COUNT(*) FILTER (WHERE d IS NULL) AS n_sub_over,
       COUNT(*) FILTER (WHERE c IS NULL) AS n_mul_over,
       MIN(s) AS min_sum, MAX(s) AS max_sum, MAX(c) AS max_prod
FROM t GROUP BY l_returnflag ORDER BY l_returnflag
""",
        lineitem=widen_for_rowlocal(
            _t(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_orderkey", "l_partkey", "l_linenumber"
            )
        ),
    )


Q237_ORACLE = f"""
WITH big AS (
  SELECT l_returnflag,
         CAST(l_orderkey % 7 - 3 AS HUGEINT) * {Q237_A_COEF} AS a,
         CAST(l_partkey % 5 - 2 AS HUGEINT) * {Q237_B_COEF} AS b,
         CAST(l_linenumber AS HUGEINT) * {Q237_RIM_WORD} AS ch
  FROM lineitem
), t AS (
  SELECT l_returnflag,
         CASE WHEN a + b BETWEEN -9223372036854775808 AND 9223372036854775807
              THEN CAST(a + b AS BIGINT) END AS s,
         CASE WHEN a - b BETWEEN -9223372036854775808 AND 9223372036854775807
              THEN CAST(a - b AS BIGINT) END AS d,
         CASE WHEN ch BETWEEN -9223372036854775808 AND 9223372036854775807
              THEN CAST(ch AS BIGINT) END AS c
  FROM big
)
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(*) FILTER (WHERE s IS NULL) AS n_add_over,
       COUNT(*) FILTER (WHERE d IS NULL) AS n_sub_over,
       COUNT(*) FILTER (WHERE c IS NULL) AS n_mul_over,
       MIN(s) AS min_sum, MAX(s) AS max_sum, MAX(c) AS max_prod
FROM t GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- q243: string-surgery rendering report -------------------------------------


def q243_string_surgery_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured-identifier surgery over customer names with the
    string surfaces staged in the r17 probe file: ``substring_index``
    splits the 'Customer#000000001' convention at its '#' spine from
    both ends (positive count = prefix, negative count = take from the
    end — no DuckDB twin by name, replayed as string_split + list
    slices), ``format_string`` re-renders a fixed-width audit line
    (== DuckDB ``printf`` — the hashable rendering surface; to_char/
    format_number are ruled out as locale-dependent), and ``left`` /
    ``right`` / ``space`` assemble a tail tag (space replays as
    repeat(' ', n)).

    FP-safety: the rendered line is %s/%09d only — the probe pinned
    that %f needs a DOUBLE cast and Java HALF_UP vs C half-even diverge
    on exact ties, so no floating-point ever reaches a formatter here.

    Scale shape: all surgery is row-local codegen; ONE 5-group hash
    aggregate (segment) with COUNT/COUNT DISTINCT/MIN/MAX partials.
    The distinct-prefix count shuffles (segment, prefix) pairs — 5
    values total. This is the id-normalization pass a 100 TB entity
    table runs during ingest.

    Reference lineage: /root/reference/src/mr/worker.go:209 — the
    reference renders every output record with fmt.Fprintf("%v %v");
    format_string is that surface made deterministic and auditable."""
    return spark.sql(
        """
WITH s AS (
  SELECT c_mktsegment,
         substring_index(c_name, '#', 1) AS prefix,
         substring_index(c_name, '#', -1) AS id_part,
         format_string('%s|%09d|%s', c_mktsegment, c_custkey,
                       left(c_name, 8)) AS rendered,
         concat(right(c_name, 3), space(2), left(c_mktsegment, 2)) AS tail
  FROM {customer}
)
SELECT c_mktsegment,
       COUNT(*) AS n,
       COUNT(DISTINCT prefix) AS n_prefix,
       CAST(SUM(length(id_part)) AS BIGINT) AS id_len_mass,
       MAX(rendered) AS max_render,
       MIN(tail) AS min_tail
FROM s GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
        customer=_t(spark, sf_dir, "customer"),
    )


Q243_ORACLE = """
WITH s AS (
  SELECT c_mktsegment,
         array_to_string(string_split(c_name, '#')[1:1], '#') AS prefix,
         array_to_string(string_split(c_name, '#')[-1:], '#') AS id_part,
         printf('%s|%09d|%s', c_mktsegment, c_custkey,
                left(c_name, 8)) AS rendered,
         right(c_name, 3) || repeat(' ', 2) || left(c_mktsegment, 2) AS tail
  FROM customer
)
SELECT c_mktsegment,
       COUNT(*) AS n,
       COUNT(DISTINCT prefix) AS n_prefix,
       CAST(SUM(length(id_part)) AS BIGINT) AS id_len_mass,
       MAX(rendered) AS max_render,
       MIN(tail) AS min_tail
FROM s GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- q247: integer sequence expansion ------------------------------------------


def q247_sequence_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row generation via ``sequence`` + ``posexplode`` — the r15-
    staged pair as one expansion census: each order fans out into a
    deterministic 1..(1 + key % 5) integer sequence (the retry-
    schedule / installment-plan shape), and the generator's ordinal
    and value masses are folded back per order status.

    Cross-engine pins from the r15 probe file: integer ``sequence`` ==
    DuckDB ``generate_series`` (both ends inclusive); ``posexplode``
    ordinals are 0-BASED while DuckDB's range-UNNEST subscripts are
    1-based — the oracle replays pos as ``u.i - 1``. DATE sequences
    stay out (element-type divergence pinned there too).

    Scale shape: the expansion is a generator inside whole-stage
    codegen — Spark's Generate node streams the fan-out without
    materializing arrays; average fan-out is 3x, bounded by 5, so the
    exploded row count is O(|orders|) with a known constant. ONE hash
    aggregate per status downstream. The 100 TB posture for bounded
    fan-outs: generate-then-fold in one stage, never a join against a
    numbers table.

    Reference lineage: the reference's map phase fans one input record
    into many intermediate records (/root/reference/src/mr/worker.go:
    226-238, flatMap's contract); sequence+posexplode is that fan-out
    as a declarative generator."""
    return spark.sql(
        """
WITH s AS (
  SELECT o_orderstatus AS st, o_orderkey,
         sequence(1, CAST(1 + o_orderkey % 5 AS INT)) AS sq
  FROM {orders}
)
SELECT st, COUNT(*) AS n_rows,
       CAST(SUM(pos) AS BIGINT) AS pos_mass,
       CAST(SUM(val) AS BIGINT) AS val_mass,
       CAST(SUM(size(sq)) AS BIGINT) AS size_mass
FROM s LATERAL VIEW posexplode(sq) AS pos, val
GROUP BY st ORDER BY st
""",
        orders=_t(spark, sf_dir, "orders"),
    )


Q247_ORACLE = """
WITH s AS (
  SELECT o_orderstatus AS st, o_orderkey,
         generate_series(1, CAST(1 + o_orderkey % 5 AS INT)) AS sq
  FROM orders
)
SELECT st, COUNT(*) AS n_rows,
       CAST(SUM(u.i - 1) AS BIGINT) AS pos_mass,
       CAST(SUM(sq[u.i]) AS BIGINT) AS val_mass,
       CAST(SUM(len(sq)) AS BIGINT) AS size_mass
FROM s, UNNEST(range(1, len(sq) + 1)) u(i)
GROUP BY st ORDER BY st
"""


# --- q248: ranked-extreme report (nth_value / max_by / min_by) ------------------


def q248_ranked_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked extremes per priority class via ``nth_value`` (the r16-
    staged full-frame window member) and the ``max_by``/``min_by``
    argmax aggregates (r17 pin 5): the runner-up value and the top/
    bottom order keys by a STRICTLY UNIQUE ordering value.

    Determinism contract honored: argmax ties are nondeterministic BY
    CONTRACT in both engines (the any_value posture), so the ordering
    value is cents * 1e7 + orderkey — injective by construction (cents
    < 1e9, orderkey < 1e7 at gated scales, both fit BIGINT), making
    every argmax and the runner-up unique. ``nth_value`` needs the
    explicit ``ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
    FOLLOWING`` frame in BOTH engines to see past the current row
    (r16 pin 3).

    Scale shape: one shuffle on priority for the window sort + the
    same partitioning reused by the final aggregate (Exchange reuse —
    the window and groupBy share keys); max_by/min_by carry fixed-size
    (value, key) state with map-side partial merge. At 100 TB the
    window rung would swap for q8's TakeOrdered shape; the argmax
    aggregates already scale — they are the leaderboard primitive.

    Reference lineage: the reference's sort-group-fold emits per-group
    reductions (/root/reference/src/mr/worker.go:197-212); max_by is
    that fold specialized to argmax with explicit tie discipline."""
    return spark.sql(_Q248_STMT, t=_t(spark, sf_dir, "orders"))


# The injective ordering expression — shared by the statement template
# below and the injectivity property test
# (tests/properties/test_round16_wave3_properties.py), so a rescale
# edits one place or fails a test, never a driver hash.
Q248_UNIQ_EXPR = (
    "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000"
    " + o_orderkey"
)

# One statement text for BOTH engines (the q231 shared-text pattern).
_Q248_STMT = f"""
WITH cents AS (
  SELECT o_orderpriority AS pri, o_orderkey,
         {Q248_UNIQ_EXPR} AS uniq_v
  FROM {{t}}
), w AS (
  SELECT pri, o_orderkey, uniq_v,
         nth_value(uniq_v, 2) OVER
           (PARTITION BY pri ORDER BY uniq_v
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_v
  FROM cents
)
SELECT pri, COUNT(*) AS n,
       MAX(second_v) AS second_v,
       max_by(o_orderkey, uniq_v) AS top_key,
       min_by(o_orderkey, uniq_v) AS bottom_key
FROM w GROUP BY pri ORDER BY pri
"""

Q248_ORACLE = _Q248_STMT.format(t="orders")


# --- q249: JSON shape census ----------------------------------------------------


def q249_json_shape_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON shape introspection over engine-RENDERED documents — the
    r16-staged shape functions exercised on JSON both engines build
    themselves: ``to_json(named_struct(...))`` (field order is
    INSERTION order in both engines — r16 pin 22, so the rendering is
    hashable for integer/string payloads), ``json_array_length`` over
    a deterministically ragged array literal, and ``json_object_keys``
    (== DuckDB ``json_keys``, both preserving document key order —
    serialized through concat_ws for the driver hash).

    The events.props column is a single-key object ({"k": N}) — shape
    functions over it would be vacuous, which is why the census
    constructs its documents from orders columns instead (the same
    to_json surface a 100 TB export pipeline runs).

    Scale shape: rendering and introspection are row-local codegen;
    ONE 5-group hash aggregate. The distinct-rendering count shuffles
    (priority, json) pairs — bounded by |orders|, same class as q16.
    No Python JSON parsing anywhere.

    Reference lineage: the reference serializes every intermediate
    record as JSON (/root/reference/src/mr/worker.go:240-252,
    json.NewEncoder per partition file); to_json/json_* are that
    surface with schema introspection added."""
    # Widen: the JSON rendering + introspection is row-local work
    # serialized in the one-row-group scan task otherwise (guide §2.5;
    # r17: width-gated).
    from ..functions.partitioning import widen_for_rowlocal

    return spark.sql(
        """
WITH j AS (
  SELECT o_orderpriority AS pri,
         to_json(named_struct('id', o_orderkey, 'st', o_orderstatus))
           AS obj,
         concat('[', repeat('7,', CAST(o_orderkey % 4 AS INT)), '9]')
           AS arr
  FROM {orders}
)
SELECT pri, COUNT(*) AS n,
       COUNT(DISTINCT obj) AS n_obj,
       CAST(SUM(json_array_length(arr)) AS BIGINT) AS arr_mass,
       MAX(concat_ws('|', json_object_keys(obj))) AS keys_sig
FROM j GROUP BY pri ORDER BY pri
""",
        orders=widen_for_rowlocal(
            _t(spark, sf_dir, "orders").select(
                "o_orderpriority", "o_orderkey", "o_orderstatus"
            )
        ),
    )


Q249_ORACLE = """
WITH j AS (
  SELECT o_orderpriority AS pri,
         CAST(to_json({'id': o_orderkey, 'st': o_orderstatus})
              AS VARCHAR) AS obj,
         '[' || repeat('7,', CAST(o_orderkey % 4 AS INT)) || '9]' AS arr
  FROM orders
)
SELECT pri, COUNT(*) AS n,
       COUNT(DISTINCT obj) AS n_obj,
       CAST(SUM(json_array_length(arr)) AS BIGINT) AS arr_mass,
       MAX(array_to_string(json_keys(obj), '|')) AS keys_sig
FROM j GROUP BY pri ORDER BY pri
"""


# --- q250: Luhn checksum audit --------------------------------------------------

# The synthetic-account derivation — shared by the Spark statement, the
# DuckDB replay oracle, and the Python third-way check
# (tests/properties/test_round16_wave3_properties.py). Injective for
# every c_custkey below ~1.26e12 (mult * key stays under the modulus).
Q250_PAN_MULT = 7919
Q250_PAN_ADD = 11
Q250_PAN_MOD = 10_000_000_000_000_000
Q250_PAN_WIDTH = 16


def q250_pan_expr(str_type: str) -> str:
    """The 16-digit account rendering in SQL; ``str_type`` is STRING
    on the Spark side, VARCHAR on the DuckDB side."""
    return (
        f"lpad(CAST((c_custkey * {Q250_PAN_MULT} + {Q250_PAN_ADD})"
        f" % {Q250_PAN_MOD} AS {str_type}), {Q250_PAN_WIDTH}, '0')"
    )


def q250_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validity audit with ``luhn_check`` over synthetic
    16-digit account numbers derived deterministically from customer
    keys (affine map mod 1e16, zero-padded — injective for every key
    the gated scales hold). DuckDB has NO luhn builtin, but the check
    is pure digit arithmetic, so the oracle REPLAYS it exactly (r16
    probe pin 16): reverse the string, double every second digit with
    the 9-subtraction carry, sum mod 10 — the rare fully-replayable
    member of the no-twin family (vs crc32/xxhash64, which stay
    Spark-internal).

    ~10% of synthetic accounts pass by construction (a uniform last
    digit hits the checksum 1 time in 10), so the audit exercises both
    strata without planting them.

    Scale shape: luhn_check is row-local codegen; ONE 5-group hash
    aggregate. The oracle's UNNEST fan-out (16 rows per account) is
    oracle-side only — the Spark plan never explodes. Ingest-time
    plausibility filters (account/card/IMEI checksums) run at exactly
    this shape on 100 TB.

    Reference lineage: the reference validates nothing about its
    records (any line is a word); checksum admission control is part
    of the ingest surface the engine adds — closest analog is the
    crash app's pseudo-random admission (/root/reference/src/mrapps/
    crash.go:20-33), here made deterministic and content-derived."""
    return spark.sql(
        f"""
WITH acct AS (
  SELECT c_mktsegment AS seg, {q250_pan_expr('STRING')} AS pan
  FROM {{customer}}
)
SELECT seg, COUNT(*) AS n,
       COUNT(*) FILTER (WHERE luhn_check(pan)) AS n_valid,
       MAX(pan) AS max_pan
FROM acct GROUP BY seg ORDER BY seg
""",
        customer=_t(spark, sf_dir, "customer"),
    )


Q250_ORACLE = f"""
WITH acct AS (
  SELECT c_mktsegment AS seg, {q250_pan_expr('VARCHAR')} AS pan
  FROM customer
), digits AS (
  SELECT seg, pan, u.i, CAST(substr(reverse(pan), u.i, 1) AS INT) AS dgt
  FROM acct, UNNEST(range(1, 17)) u(i)
), scored AS (
  SELECT seg, pan,
         CASE WHEN i % 2 = 0
              THEN CASE WHEN dgt * 2 > 9 THEN dgt * 2 - 9 ELSE dgt * 2 END
              ELSE dgt END AS v
  FROM digits
), ok AS (
  SELECT seg, pan, SUM(v) % 10 = 0 AS valid
  FROM scored GROUP BY seg, pan
)
SELECT seg, COUNT(*) AS n,
       COUNT(*) FILTER (WHERE valid) AS n_valid,
       MAX(pan) AS max_pan
FROM ok GROUP BY seg ORDER BY seg
"""


# --- q251: stack() metric unpivot -----------------------------------------------


def q251_stack_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long metric unpivot with the ``stack`` generator (r16
    probe pin 18): three per-returnflag aggregates (quantity mass,
    line count, distinct parts) pivot into (metric, value) rows — the
    tidy-format export shape metric stores ingest. The DuckDB oracle
    replays stack as the UNION ALL longhand, which is also exactly
    what Spark's Generate node computes — same rows, no engine-order
    dependence after the ORDER BY.

    Type discipline: every branch CASTs to BIGINT so the stacked
    value column has one type (stack is positional — mixed branch
    types would widen silently); l_quantity's integral doubles go
    through CAST(l_quantity AS BIGINT), exact for the domain.

    Scale shape: the expensive part is the upstream 3-aggregate pass
    (one shuffle on returnflag, COUNT DISTINCT shuffles (flag, part)
    pairs — q19's class); the unpivot itself is a 3x generator over a
    3-row aggregate frame — free. At 100 TB unpivot-after-aggregate
    is the right order (never unpivot raw rows then aggregate: 3x the
    scan for nothing).

    Reference lineage: the wc/indexer pair already IS a wide-vs-long
    duality (one count per word vs one posting per document —
    /root/reference/src/mrapps/wc.go:24-29, indexer.go:21-25); stack
    makes the reshape a first-class operator."""
    return spark.sql(
        """
WITH m AS (
  SELECT l_returnflag AS flag,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         COUNT(*) AS n_items,
         COUNT(DISTINCT l_partkey) AS n_parts
  FROM {lineitem} GROUP BY l_returnflag
)
SELECT flag, metric, value FROM (
  SELECT flag, stack(3, 'qty', qty, 'n_items', n_items,
                     'n_parts', n_parts) AS (metric, value)
  FROM m
) ORDER BY flag, metric
""",
        lineitem=_t(spark, sf_dir, "lineitem"),
    )


Q251_ORACLE = """
WITH m AS (
  SELECT l_returnflag AS flag,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         COUNT(*) AS n_items,
         COUNT(DISTINCT l_partkey) AS n_parts
  FROM lineitem GROUP BY l_returnflag
), long AS (
  SELECT flag, 'qty' AS metric, qty AS value FROM m
  UNION ALL SELECT flag, 'n_items', n_items FROM m
  UNION ALL SELECT flag, 'n_parts', n_parts FROM m
)
SELECT flag, metric, value FROM long ORDER BY flag, metric
"""


# --- q254: regexp extraction report --------------------------------------------


def q254_regexp_extract_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Regular-expression extraction census over part names with the
    r16-staged pair: ``regexp_count`` (non-overlapping match count)
    and ``regexp_substr`` (first match or NULL), plus the established
    ``regexp_extract`` with a capture-group index. DuckDB replays
    (probe pin 5): ``len(regexp_extract_all)`` for the count and
    ``regexp_extract`` for the first match — with the NO-MATCH
    convention divergence honored: Spark's regexp_substr returns NULL
    on a miss while DuckDB's regexp_extract returns '' (here folded
    through an IS NULL / NOT regexp_matches filter pair, the exact
    miss-class accounting).

    Scale shape: all regex work is row-local codegen (Java regex on
    the JVM — no Python); ONE hash aggregate on p_type. The distinct-
    first-word count shuffles tiny vocabulary pairs. The regex-census
    shape a 100 TB PII/format scanner runs in one scan.

    Reference lineage: /root/reference/src/mrapps/indexer.go:18-20 —
    FieldsFunc(unicode.IsLetter) is a regex-class tokenizer by hand;
    regexp_count/substr generalize it to arbitrary patterns."""
    return spark.sql(
        """
SELECT p_type,
       COUNT(*) AS n,
       CAST(SUM(regexp_count(p_name, '[aeiou]+')) AS BIGINT)
         AS vowel_runs,
       COUNT(DISTINCT regexp_substr(p_name, '[a-z]+')) AS n_first_word,
       COUNT(*) FILTER (WHERE regexp_substr(p_name, '[0-9]+') IS NULL)
         AS n_numberless,
       MAX(regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2)) AS max_second
FROM {part} GROUP BY p_type ORDER BY p_type
""",
        part=_t(spark, sf_dir, "part"),
    )


Q254_ORACLE = """
SELECT p_type,
       COUNT(*) AS n,
       CAST(SUM(len(regexp_extract_all(p_name, '[aeiou]+'))) AS BIGINT)
         AS vowel_runs,
       COUNT(DISTINCT NULLIF(regexp_extract(p_name, '[a-z]+'), ''))
         AS n_first_word,
       COUNT(*) FILTER (WHERE NOT regexp_matches(p_name, '[0-9]+'))
         AS n_numberless,
       MAX(regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2)) AS max_second
FROM part GROUP BY p_type ORDER BY p_type
"""


# --- q255: map-entries projection report ----------------------------------------


def q255_map_entries_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed processing registered THROUGH the sorted-entries
    discipline the r15/r16 probes demand (map iteration order is an
    implementation detail — str_to_map/map_entries preserve insertion
    order in this build, but a registered query must never hash it):
    a key:value line is parsed with ``str_to_map``, probed with
    ``element_at``, filtered with ``map_filter``, rewritten with
    ``transform_values``, and serialized ONLY as
    ``array_sort(map_entries(...))`` projections — every output column
    is order-free by construction.

    The DuckDB oracle replays the map SEMANTICS from the same source
    columns (build, probe, filter, rewrite as plain expressions) —
    like q250's checksum replay, the oracle checks the contract, not
    the engine's map machinery (DuckDB maps exist but share no
    iteration-order guarantee to lean on).

    Scale shape: str_to_map and the map HOFs are row-local codegen
    over 3-entry maps — bounded in-register loops; ONE 5-group hash
    aggregate. The tags/attributes-column pattern (k:v strings) at
    100 TB runs exactly this parse-probe-project pipeline.

    Reference lineage: the reference's KeyValue pair IS its universal
    record (/root/reference/src/mr/rpc.go:38-41); str_to_map lifts a
    serialized pair list back into the engine as a first-class
    value."""
    # Widen: the map build + four map HOFs per row are row-local
    # work serialized in the one-row-group scan task otherwise
    # (guide §2.5; r17: width-gated).
    from ..functions.partitioning import widen_for_rowlocal

    return spark.sql(
        """
WITH m AS (
  SELECT o_orderpriority AS pri,
         str_to_map(concat('st:', o_orderstatus, ',pr:', o_orderpriority,
                           ',k:', CAST(o_orderkey % 10 AS STRING)),
                    ',', ':') AS mp
  FROM {orders}
), proj AS (
  SELECT pri,
         concat_ws('|', array_sort(map_keys(mp))) AS keys_sig,
         element_at(mp, 'k') AS kv,
         CAST(size(map_filter(mp, (k, v) -> length(v) = 1)) AS BIGINT)
           AS n_short,
         concat_ws('|', transform(
           array_sort(map_entries(transform_values(mp,
             (k, v) -> upper(v)))),
           e -> concat(e.key, '=', e.value))) AS entries_sig
  FROM m
)
SELECT pri, COUNT(*) AS n,
       MAX(keys_sig) AS keys_sig,
       CAST(SUM(CAST(kv AS BIGINT)) AS BIGINT) AS k_mass,
       CAST(SUM(n_short) AS BIGINT) AS short_mass,
       COUNT(DISTINCT entries_sig) AS n_sigs
FROM proj GROUP BY pri ORDER BY pri
""",
        orders=widen_for_rowlocal(
            _t(spark, sf_dir, "orders").select(
                "o_orderpriority", "o_orderstatus", "o_orderkey"
            )
        ),
    )


Q255_ORACLE = """
WITH m AS (
  SELECT o_orderpriority AS pri,
         o_orderstatus AS st, o_orderpriority AS pr,
         CAST(o_orderkey % 10 AS VARCHAR) AS k
  FROM orders
), proj AS (
  SELECT pri,
         'k|pr|st' AS keys_sig,
         k AS kv,
         CAST(1 + CASE WHEN length(st) = 1 THEN 1 ELSE 0 END
                + CASE WHEN length(pr) = 1 THEN 1 ELSE 0 END AS BIGINT)
           AS n_short,
         'k=' || upper(k) || '|pr=' || upper(pr) || '|st=' || upper(st)
           AS entries_sig
  FROM m
)
SELECT pri, COUNT(*) AS n,
       MAX(keys_sig) AS keys_sig,
       CAST(SUM(CAST(kv AS BIGINT)) AS BIGINT) AS k_mass,
       CAST(SUM(n_short) AS BIGINT) AS short_mass,
       COUNT(DISTINCT entries_sig) AS n_sigs
FROM proj GROUP BY pri ORDER BY pri
"""


# --- q257: radix-conversion report ----------------------------------------------


def q257_radix_conv_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-radix rendering with ``conv(s, 10, 16|2|36)`` — the
    r16-staged one-direction oracle (probe pin 9): DuckDB's
    ``to_base(n, r)`` matches the 10→r direction exactly (uppercase
    digits both engines); the r→10 direction has NO DuckDB twin and
    stays out. Base-16 extremes, base-2 distinct codes over a modular
    domain, and base-36 (the compact id-shortener radix) length mass,
    per market segment.

    hex()/bin() (q238) are the fixed-radix fast paths; conv is the
    general surface a URL-shortener / shard-label pipeline uses at
    radixes they don't cover.

    Scale shape: row-local codegen; ONE 5-group aggregate; the
    distinct-code count shuffles (seg, short code) pairs over a
    997-value domain — bounded.

    Reference lineage: /root/reference/src/mr/worker.go:240 — the
    mr-X-Y intermediate naming renders task ids in decimal; conv is
    that id-rendering generalized to any radix."""
    return spark.sql(
        """
SELECT c_mktsegment AS seg,
       COUNT(*) AS n,
       MAX(conv(CAST(c_custkey AS STRING), 10, 16)) AS max_hex,
       COUNT(DISTINCT conv(CAST(c_custkey % 997 AS STRING), 10, 2))
         AS n_bin,
       CAST(SUM(length(conv(CAST(c_custkey AS STRING), 10, 36)))
            AS BIGINT) AS b36_mass
FROM {customer} GROUP BY seg ORDER BY seg
""",
        customer=_t(spark, sf_dir, "customer"),
    )


Q257_ORACLE = """
SELECT c_mktsegment AS seg,
       COUNT(*) AS n,
       MAX(to_base(c_custkey, 16)) AS max_hex,
       COUNT(DISTINCT to_base(c_custkey % 997, 2)) AS n_bin,
       CAST(SUM(length(to_base(c_custkey, 36))) AS BIGINT) AS b36_mass
FROM customer GROUP BY seg ORDER BY seg
"""


QUERIES = [
    QuerySpec("q4_pricing_summary", q4_pricing_summary, Q4_ORACLE,
              "TPC-H Q1-shape pricing summary over lineitem", ("relational", "agg")),
    QuerySpec("q5_filtered_revenue", q5_filtered_revenue, Q5_ORACLE,
              "TPC-H Q6-shape filtered revenue (pushdown showcase)", ("relational", "filter")),
    QuerySpec("q6_segment_revenue", q6_segment_revenue, Q6_ORACLE,
              "orders x customer join, revenue by market segment", ("relational", "join")),
    QuerySpec("q7_region_revenue", q7_region_revenue, Q7_ORACLE,
              "4-way join lineitem->orders->customer->nation->region", ("relational", "join")),
    QuerySpec("q8_topk_customers", q8_topk_customers, Q8_ORACLE,
              "top-10 customers by spend (TakeOrdered, no global sort)", ("relational", "topk")),
    QuerySpec("q9_window_rank", q9_window_rank, Q9_ORACLE,
              "row_number window, top-2 orders per customer", ("relational", "window")),
    QuerySpec("q10_intersect", q10_intersect, Q10I_ORACLE,
              "INTERSECT of active customers and ordering customers", ("relational", "setop")),
    QuerySpec("q10_except", q10_except, Q10E_ORACLE,
              "EXCEPT: active customers who never ordered", ("relational", "setop")),
    QuerySpec("q11_rollup", q11_rollup, Q11_ORACLE,
              "ROLLUP(returnflag, linestatus) with ALL totals", ("relational", "rollup")),
    QuerySpec("q12_scalar_sweep", q12_scalar_sweep, Q12_ORACLE,
              "string scalar functions + agg over part", ("relational", "scalar")),
    QuerySpec("q13_monthly_orders", q13_monthly_orders, Q13_ORACLE,
              "date_trunc month bucketing of orders", ("relational", "date")),
    QuerySpec("q19_count_distinct", q19_count_distinct, Q19_ORACLE,
              "exact COUNT(DISTINCT partkey) per returnflag", ("relational", "distinct")),
    QuerySpec("q35_cube", q35_cube, Q35_ORACLE,
              "CUBE(status, priority) grouping sets with ALL totals",
              ("relational", "cube")),
    QuerySpec("q36_pivot", q36_pivot, Q36_ORACLE,
              "pivot order counts per status x priority (explicit values)",
              ("relational", "pivot")),
    QuerySpec("q40_semi_anti", q40_semi_anti, Q40_ORACLE,
              "LEFT SEMI / LEFT ANTI join counts (EXISTS / NOT EXISTS oracle)",
              ("relational", "join")),
    QuerySpec("q41_running_orders", q41_running_orders, Q41_ORACLE,
              "cumulative spend frame + lag gap per customer order timeline",
              ("relational", "window")),
    QuerySpec("q42_array_sweep", q42_array_sweep, Q42_ORACLE,
              "array scalar functions over embeddings (size/min/max/slice-sum)",
              ("relational", "array")),
    QuerySpec("q43_date_parts", q43_date_parts, Q43_ORACLE,
              "year/quarter/day-of-week extraction + aggregation",
              ("relational", "date")),
    QuerySpec("q44_above_avg_orders", q44_above_avg_orders, Q44_ORACLE,
              "orders above their customer's average (windowed analytic filter)",
              ("relational", "window")),
    QuerySpec("q45_percentiles", q45_percentiles, Q45_ORACLE,
              "exact p25/median/p90 of order price per priority",
              ("relational", "percentile")),
    QuerySpec("q46_small_qty_revenue", q46_small_qty_revenue, Q46_ORACLE,
              "correlated scalar subquery (TPC-H Q17 shape), decorrelated",
              ("relational", "subquery", "join")),
    QuerySpec("q47_entity_union_regex", q47_entity_union_regex, Q47_ORACLE,
              "UNION ALL entity conformance + regexp_extract id parsing",
              ("relational", "setop", "scalar")),
    QuerySpec("q48_grouping_sets", q48_grouping_sets, Q48_ORACLE,
              "explicit GROUPING SETS ((rflag),(lstatus),()) irregular shape",
              ("relational", "rollup")),
    QuerySpec("q49_stat_moments", q49_stat_moments, Q49_ORACLE,
              "stddev/variance/corr/covar + sqrt/ln/pow math sweep",
              ("relational", "stats", "scalar")),
    QuerySpec("q50_unpivot", q50_unpivot, Q50_ORACLE,
              "wide-to-long unpivot of per-priority order metrics",
              ("relational", "reshape")),
    QuerySpec("q75_string_sweep", q75_string_sweep, Q75_ORACLE,
              "string scalar-function sweep (upper/trim/lpad/replace/...)",
              ("relational", "functions")),
    QuerySpec("q76_math_sweep", q76_math_sweep, Q76_ORACLE,
              "math scalar-function sweep (ceil/floor/sqrt/ln/pow/mod/sign)",
              ("relational", "functions")),
    QuerySpec("q56_null_semantics", q56_null_semantics, Q56_ORACLE,
              "null semantics: NULLIF/COALESCE, COUNT(col), null-safe compare",
              ("relational", "nulls")),
    QuerySpec("q58_window_nav_sweep", q58_window_nav_sweep, Q58_ORACLE,
              "first/last_value, lead, ntile, percent_rank, cume_dist sweep",
              ("relational", "window")),
    QuerySpec("q60_bool_conditional_agg", q60_bool_conditional_agg, Q60_ORACLE,
              "bool_and/bool_or + count_if (FILTER-clause) aggregates",
              ("relational", "agg")),
    QuerySpec("q88_moving_average", q88_moving_average, Q88_ORACLE,
              "7-day RANGE-frame moving average of daily revenue per priority",
              ("relational", "window", "timeseries")),
    QuerySpec("q115_grouping_sets", q115_grouping_sets, Q115_ORACLE,
              "explicit GROUPING SETS via DataFrame.groupingSets "
              "(one Expand pass, not one scan per set)",
              ("relational", "rollup")),
    QuerySpec("q116_array_sweep", q116_array_sweep, Q116_ORACLE,
              "higher-order array functions (filter/aggregate/"
              "transform/sort/slice/distinct) in one codegen pass",
              ("relational", "scalar", "array")),
    QuerySpec("q117_weighted_median", q117_weighted_median, Q117_ORACLE,
              "quantity-weighted median price via RANGE cumulative-"
              "weight window (holistic weighted aggregate)",
              ("relational", "window", "stats")),
    QuerySpec("q129_weighted_median_approx", q129_weighted_median_approx,
              Q129_ORACLE,
              "q117's weighted median via the hot-group histogram "
              "fallback (bounded window partitions; deterministic bins)",
              ("relational", "stats", "approx", "scale")),
    QuerySpec("q132_ntile_deciles", q132_ntile_deciles, Q132_ORACLE,
              "equi-depth NTILE account-balance deciles per segment "
              "(deterministic total order)",
              ("relational", "window", "stats")),
    QuerySpec("q140_distribution_position", q140_distribution_position,
              Q140_ORACLE,
              "percent_rank decile histogram with exact cume_dist mass "
              "(relative-position window functions)",
              ("relational", "window", "stats")),
    QuerySpec("q134_cohort_retention", q134_cohort_retention, Q134_ORACLE,
              "first-order-month cohort retention triangle (FP-free "
              "integral month arithmetic)",
              ("relational", "events", "stats")),
    QuerySpec("q135_basket_pairs", q135_basket_pairs, Q135_ORACLE,
              "top-20 co-ordered part pairs (order-bounded self-join, "
              "market-basket mining)",
              ("relational", "similarity", "stats")),
    QuerySpec("q119_lateral_topk", q119_lateral_topk, Q119_ORACLE,
              "top-2 orders per customer via LATERAL correlated "
              "subquery (decorrelated, no per-row re-scan)",
              ("relational", "subquery", "topk")),
    QuerySpec("q208_sql_pipe", q208_sql_pipe, Q208_ORACLE,
              "SQL pipe syntax (|> chaining): parse-time sugar lowered "
              "to the identical ANSI plan",
              ("relational", "sql", "pipe")),
    QuerySpec("q211_parameterized_sql", q211_parameterized_sql, Q211_ORACLE,
              "parameterized spark.sql (named + positional binding, "
              "IDENTIFIER clause): injection-safe query composition",
              ("relational", "sql", "parameters")),
    QuerySpec("q120_price_histogram", q120_price_histogram, Q120_ORACLE,
              "fixed-width order-total histogram via width_bucket "
              "(equal-width companion to q113's ntile bins)",
              ("relational", "stats", "histogram")),
    QuerySpec("q121_multiset_ops", q121_multiset_ops, Q121_ORACLE,
              "EXCEPT ALL / INTERSECT ALL bag semantics (multiset "
              "companion to q10's distinct set ops)",
              ("relational", "setop")),
    QuerySpec("q122_listagg", q122_listagg, Q122_ORACLE,
              "listagg(DISTINCT) WITHIN GROUP ordered string "
              "aggregation (ANSI form of q2's collect_set spelling)",
              ("relational", "agg", "string")),
    QuerySpec("q112_exists_decorrelation", q112_exists_decorrelation,
              Q112_ORACLE,
              "TPC-H Q21 shape: correlated EXISTS + inequality NOT "
              "EXISTS decorrelated by Catalyst into semi/anti joins",
              ("relational", "subquery", "join")),
    QuerySpec("q100_snapshot_diff", q100_snapshot_diff, Q100_ORACLE,
              "snapshot reconciliation diff (added/removed/changed) via "
              "FULL OUTER join on md5 fingerprints",
              ("relational", "join", "diff")),
    QuerySpec("q145_bloom_semi_join", q145_bloom_semi_join, Q145_ORACLE,
              "Bloom-filter semi-join prefilter (codegen xxhash64 bitmap "
              "broadcast, exact semi-join confirm; the runtime-filter "
              "pattern for selective joins)",
              ("relational", "join", "bloom")),
    QuerySpec("q146_ewma_revenue", q146_ewma_revenue, Q146_ORACLE,
              "alpha=1/2 EWMA of daily revenue per priority (distance-"
              "weighted self-join over the calendar-bounded daily frame; "
              "exact dyadic weights, FP-order-free)",
              ("relational", "window", "timeseries")),
    QuerySpec("q150_referential_integrity", q150_referential_integrity,
              Q150_ORACLE,
              "four-way FK orphan audit via LEFT ANTI joins (the dbt-test "
              "data-contract pass; key-only projections)",
              ("relational", "join", "audit")),
    QuerySpec("q152_benford_digits", q152_benford_digits, Q152_ORACLE,
              "Benford first-digit audit of order totals in integer basis "
              "points (digit from exact cents string, constant expected "
              "shares; forensic data-quality screen)",
              ("relational", "audit", "stats")),
    QuerySpec("q155_order_gap_stats", q155_order_gap_stats, Q155_ORACLE,
              "inter-order day-gap stats per market segment (lag window "
              "over per-customer order history)",
              ("relational", "window", "stats")),
    QuerySpec("q156_percentile_bands", q156_percentile_bands, Q156_ORACLE,
              "exact global quartile banding of lineitem prices (one "
              "percentile pass broadcast back; no NTILE global sort)",
              ("relational", "stats", "distribution")),
    QuerySpec("q160_seasonal_index", q160_seasonal_index, Q160_ORACLE,
              "month-of-year seasonal revenue index from exact-cents "
              "monthly totals (forecasting decomposition step)",
              ("relational", "temporal", "stats")),
    QuerySpec("q162_price_elasticity", q162_price_elasticity, Q162_ORACLE,
              "per-brand log-log OLS elasticity slope from quantized "
              "integer sums (codegen-only regression, no Python)",
              ("relational", "regression", "stats")),
    QuerySpec("q164_abc_pareto", q164_abc_pareto, Q164_ORACLE,
              "ABC/Pareto revenue classification of parts (integer "
              "cumulative-share boundaries over the catalog rollup)",
              ("relational", "window", "stats")),
    QuerySpec("q166_abc_pareto_twopass", q166_abc_pareto_twopass, Q164_ORACLE,
              "q164's scale-path twin: two-pass range-partitioned "
              "distributed prefix sum, no single-partition window",
              ("relational", "window", "stats", "scale")),
    QuerySpec("q173_sole_late_supplier", q173_sole_late_supplier,
              Q173_ORACLE,
              "TPC-H Q21-shaped sole-late-supplier blame audit via "
              "single-scan aggregation reformulation (no self-joins)",
              ("relational", "join", "audit")),
    QuerySpec("q177_rfm_segments", q177_rfm_segments, Q177_ORACLE,
              "RFM quartile customer segmentation with segment sizes "
              "and exact-cents spend",
              ("relational", "window", "crm")),
    QuerySpec("q179_min_cost_supplier", q179_min_cost_supplier,
              Q179_ORACLE,
              "TPC-H Q2-shaped min-cost supplier per part (decorrelated "
              "per-key window min, part filter pushed before the fact scan)",
              ("relational", "join", "window")),
    QuerySpec("q180_idle_rich_customers", q180_idle_rich_customers,
              Q180_ORACLE,
              "TPC-H Q22-shaped idle high-balance customers per segment "
              "(scalar broadcast + recency anti join, integer compare)",
              ("relational", "join", "antijoin")),
    QuerySpec("q181_important_parts", q181_important_parts, Q181_ORACLE,
              "TPC-H Q11-shaped revenue-share HAVING vs global scalar "
              "(single fact scan, rollup re-aggregated for the total)",
              ("relational", "agg")),
    QuerySpec("q187_percentile_bands_histo", q187_percentile_bands_histo,
              Q187_ORACLE,
              "q156's scale twin: quartile bands from a fixed-resolution "
              "histogram (no holistic percentile, no global window)",
              ("relational", "approx", "scale")),
    QuerySpec("q190_supplier_hhi", q190_supplier_hhi, Q190_ORACLE,
              "Herfindahl supplier-concentration index per part type "
              "(exact integer share moments)",
              ("relational", "agg", "audit")),
    QuerySpec("q192_priority_sla", q192_priority_sla, Q192_ORACLE,
              "TPC-H Q4-shaped late-shipment rate per order priority "
              "(EXISTS as a decorrelated semi probe, integer bp rate)",
              ("relational", "join", "audit")),
    QuerySpec("q193_supplier_variety", q193_supplier_variety,
              Q193_ORACLE,
              "TPC-H Q16-shaped distinct suppliers per brand/size band "
              "with a broadcast anti-join exclusion list",
              ("relational", "join", "distinct")),
    QuerySpec("q194_custdist", q194_custdist, Q194_ORACLE,
              "TPC-H Q13-shaped orders-per-customer distribution "
              "(left join + double aggregation)",
              ("relational", "join", "agg")),
    QuerySpec("q196_psi_value_drift", q196_psi_value_drift, Q196_ORACLE,
              "month-over-month PSI drift of the order-value "
              "distribution (fixed bands, quantized smoothed terms)",
              ("relational", "stats", "monitoring")),
    QuerySpec("q199_spend_gini", q199_spend_gini, Q199_ORACLE,
              "Gini coefficient of customer spend via two-pass "
              "range-partitioned global ranks (no single-partition "
              "window)",
              ("relational", "stats", "scale")),
    QuerySpec("q200_welch_ttest", q200_welch_ttest, Q200_ORACLE,
              "Welch's t between customer segments from exact integer "
              "moments (one aggregate pass)",
              ("relational", "stats", "abtest")),
    QuerySpec("q174_twap_per_part", q174_twap_per_part, Q174_ORACLE,
              "time-weighted average unit price per part (exact "
              "cents x days interval weighting, partitioned window)",
              ("relational", "temporal", "stats")),
    QuerySpec("q165_order_reconciliation", q165_order_reconciliation,
              Q165_ORACLE,
              "lineitem-sum vs order-total reconciliation deciles in "
              "exact cents (value-level audit sibling of the FK pass)",
              ("relational", "audit", "join")),
    QuerySpec("q215_listagg_topk_report", q215_listagg_topk_report,
              Q215_ORACLE,
              "listagg WITHIN GROUP over rank-capped top-5 per "
              "priority (ordered string agg, bounded-group posture)",
              ("relational", "agg", "sql-surface")),
    QuerySpec("q216_sql_script_maintenance", q216_sql_script_maintenance,
              Q216_ORACLE,
              "SQL scripting FOR-loop fold + session variables "
              "(positional SET VAR ?, IDENTIFIER(var), constant-fold "
              "pruning), two parameterizations unioned",
              ("relational", "sql-surface", "scripting")),
    QuerySpec("q218_execute_immediate", q218_execute_immediate,
              Q218_ORACLE,
              "EXECUTE IMMEDIATE with statement text in a session "
              "variable, positional USING binds, two argument sets",
              ("relational", "sql-surface", "dynamic-sql")),
    QuerySpec("q224_report_group_by_all", q224_report_group_by_all,
              Q224_ORACLE,
              "GROUP BY ALL + lateral alias + SELECT * EXCEPT + ORDER BY "
              "ALL reporting shorthand (resolver sugar, longhand plan)",
              ("relational", "agg", "sql-surface")),
    QuerySpec("q227_conditional_report", q227_conditional_report,
              Q227_ORACLE,
              "count_if / bool_and / bool_or / FILTER (WHERE ...) "
              "conditional aggregates in one single-scan report",
              ("relational", "agg", "sql-surface")),
    QuerySpec("q233_percentile_disc_report", q233_percentile_disc_report,
              Q233_ORACLE,
              "percentile_disc WITHIN GROUP discrete-quantile report "
              "(actual elements, q45's discrete sibling)",
              ("relational", "agg", "sql-surface")),
    QuerySpec("q234_array_surgery", q234_array_surgery, _q234_oracle(),
              "forall/exists/filter + array_compact/array_insert + "
              "sorted array_distinct over token-length arrays (q116's "
              "quantifier/list-editing extension)",
              ("relational", "array", "sql-surface")),
    QuerySpec("q237_try_arithmetic_census", q237_try_arithmetic_census,
              Q237_ORACLE,
              "try_add/try_subtract/try_multiply NULL-on-overflow census "
              "per returnflag (HUGEINT range-check oracle)",
              ("relational", "error-safe", "sql-surface")),
    QuerySpec("q243_string_surgery_report", q243_string_surgery_report,
              Q243_ORACLE,
              "substring_index/format_string/left/right/space identifier "
              "surgery per segment (printf-replay rendering)",
              ("relational", "scalar", "sql-surface")),
    QuerySpec("q247_sequence_expansion", q247_sequence_expansion,
              Q247_ORACLE,
              "sequence + posexplode bounded fan-out census per status "
              "(0-based ordinals vs 1-based UNNEST replay)",
              ("relational", "generator", "sql-surface")),
    QuerySpec("q248_ranked_extremes", q248_ranked_extremes, Q248_ORACLE,
              "nth_value runner-up + max_by/min_by argmax per priority "
              "over a strictly unique ordering value",
              ("relational", "window", "sql-surface")),
    QuerySpec("q249_json_shape_report", q249_json_shape_report,
              Q249_ORACLE,
              "to_json field-order rendering + json_array_length/"
              "json_object_keys shape census per priority",
              ("relational", "json", "sql-surface")),
    QuerySpec("q250_luhn_audit", q250_luhn_audit, Q250_ORACLE,
              "luhn_check validity audit over synthetic 16-digit account "
              "numbers (digit-arithmetic replay oracle)",
              ("relational", "checksum", "error-safe")),
    QuerySpec("q251_stack_unpivot", q251_stack_unpivot, Q251_ORACLE,
              "stack() wide-to-long unpivot of per-flag aggregates "
              "(UNION ALL longhand replay)",
              ("relational", "reshape", "sql-surface")),
    QuerySpec("q254_regexp_extract_report", q254_regexp_extract_report,
              Q254_ORACLE,
              "regexp_count/regexp_substr/regexp_extract census with the "
              "NULL-vs-empty no-match convention honored",
              ("relational", "regex", "sql-surface")),
    QuerySpec("q255_map_entries_report", q255_map_entries_report,
              Q255_ORACLE,
              "str_to_map + map HOFs registered through sorted "
              "map_entries projections (order-free outputs only)",
              ("relational", "map", "sql-surface")),
    QuerySpec("q257_radix_conv_report", q257_radix_conv_report,
              Q257_ORACLE,
              "conv(s, 10, 16|2|36) radix rendering == to_base "
              "(one-direction oracle)",
              ("relational", "scalar", "sql-surface")),
]
