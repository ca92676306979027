"""Connected components — the dedup endgame.

Near-dup detection yields PAIRS (q24/q25); curation needs CLUSTERS with
one keeper each (transitively: if A~B and B~C, keep one of {A,B,C}).
That closure is connected components — the one genuinely *iterative*
algorithm in the engine, driven as a Python loop over DataFrame joins
(each iteration distributed; the loop is control flow, not data flow —
the same shape GraphX/Pregel uses).

Two algorithms, same join primitive per round:

- ``connected_components`` — min-label propagation. Rounds = graph
  diameter; 1 shuffle-join per round. Best for near-dup graphs, whose
  components are tiny and dense (duplicate groups converge in 2-3
  rounds).
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14). O(log^2 n) rounds regardless of diameter; the scale path
  for adversarial long-chain or high-diameter graphs at 100 TB, where
  label propagation would need thousands of rounds.

Per-round cost: one shuffle (groupBy node over the symmetric edge
list). ``localCheckpoint`` truncates lineage each round so the plan
doesn't grow with iterations — without it, round k replans rounds
1..k-1 and the job is quadratic in rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources import load_table

CC_MAX_ITER = 20

# Target edge rows per shuffle task inside the iterative loops. The
# per-round frames are fixed-width (two bigint columns), so row count
# alone sizes a task; 200k rows ≈ a few MB per task.
_EDGES_PER_PARTITION = 200_000

# pagerank's in-plan dangling-mass computation is a whole-frame window
# (Window.partitionBy() with no keys): one task holds and windows over
# all |nodes| rank rows for that round. That beats the alternative's
# extra scheduling round-trip while the rank vector is small, but it is
# a single-task funnel at web-graph scale (ADVICE r16) — above this
# node count pagerank() switches to the 1-row aggregate +
# crossJoin(broadcast) dangling computation, which is fully
# distributed. 2M rank rows ≈ 32 MB in one window task: comfortably
# inside one task's memory, already past the point where the per-round
# scheduling overhead the window saves has stopped mattering.
PAGERANK_WINDOW_MAX_NODES = 2_000_000


class _scoped_shuffle_width:
    """Scale the loop's shuffle width to the materialized edge count.

    The iterative CC loops run many tiny jobs; at the session's default
    width (32 here, thousands on a real cluster) every round pays task
    launch + shuffle bookkeeping per partition even when the edge frame
    is a few hundred rows (near-dup graphs: component count ~ dup
    clusters, edges ~ pair count). AQE coalesces reducers but not the
    fixed per-partition cost of each round's map side, so a dup-graph
    round was overhead-dominated (measured ~27% loop time saved at
    sf0.1 with 256 edges). Scoping the conf — same pattern as
    streaming's state_partitions — keeps the width proportional to
    data: a 100 TB pair graph (billions of edges) still gets thousands
    of partitions. Restores the session value on exit; the DataFrame a
    caller gets back re-plans under the restored conf."""

    def __init__(self, spark: SparkSession, n_rows: int):
        self._spark = spark
        self._orig = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            cap = int(self._orig)
        except ValueError:  # e.g. "auto" on some deployments
            cap = 200
        self._width = max(2, min(cap, n_rows // _EDGES_PER_PARTITION + 1))

    def __enter__(self):
        self._spark.conf.set(
            "spark.sql.shuffle.partitions", str(self._width)
        )
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._orig)
        return False


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable. Deterministic (min is order-free)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )

    def _label_sum(lb: DataFrame) -> int:
        # Order-free fingerprint of the label assignment (same pattern
        # as _edge_checksum): labels only ever decrease, so the
        # assignment changed iff this hash-sum changed (up to a ~2^-64
        # collision, excluded by the exact join below before we commit
        # to convergence). One map-side partial aggregate per round — no
        # join of old vs new labels except on the single converging
        # round.
        row = lb.agg(
            F.coalesce(
                F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")),
                F.lit(0),
            ).alias("h")
        ).first()
        return int(row["h"])

    def _exactly_equal(a: DataFrame, b: DataFrame) -> bool:
        return (
            a.join(b.withColumnsRenamed({"label": "old"}), "node")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
            == 0
        )

    with _scoped_shuffle_width(edges.sparkSession, sym.count()):
        prev = _label_sum(labels)
        for _ in range(max_iter):
            old_labels = labels
            # candidate label per node: min of own and neighbors' labels
            neighbor = (
                sym.join(
                    labels.withColumnsRenamed({"node": "b", "label": "nl"}),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nl").alias("nl"))
                .withColumnsRenamed({"a": "node"})
            )
            labels = (
                labels.join(neighbor, "node", "left")
                .select(
                    "node",
                    F.least("label", F.coalesce("nl", "label")).alias("label"),
                )
                .localCheckpoint()
            )
            cur = _label_sum(labels)
            if cur == prev and _exactly_equal(labels, old_labels):
                break
            prev = cur
    return labels.select("node", F.col("label").alias("component"))


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    """Order-free fingerprint of an edge set: (count, sum of row hashes).
    One cheap aggregate per round — no sort, no collect of edges."""
    row = e.agg(
        F.count(F.lit(1)).alias("c"),
        # decimal(38,0) sum: xxhash64 values are +/-2^63, a long sum
        # overflows under ANSI mode
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).first()
    return int(row["c"]), int(row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).
    Input/output: directed edge list (u, v); output edges point large->min."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mn = (
        sym.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select("u", F.least("m", F.col("u")).alias("mn"))
    )
    return (
        sym.join(mn, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large->small, then connect every smaller neighbor of u
    (and u itself) to min(N(u)); collapses shallow trees into stars."""
    o = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mn = o.groupBy("u").agg(F.min("v").alias("mn"))  # mn < u by orientation
    leaves = o.join(mn, "u").select(F.col("v").alias("u"), F.col("mn").alias("v"))
    selfs = mn.select("u", F.col("mn").alias("v"))
    return (
        leaves.unionByName(selfs)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds.

    Same output contract as :func:`connected_components` (component =
    min reachable node id) but converges in O(log^2 n) rounds regardless
    of graph diameter — the 100 TB scale path. Each round is two
    groupBy-min + join passes; ``localCheckpoint`` truncates lineage so
    round k does not replan rounds 1..k-1.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # isolated-in-input nodes don't occur (pair lists); self-loop-only
    # nodes dropped above, matching connected_components' node domain.
    prev = _edge_checksum(e)
    converged = False
    with _scoped_shuffle_width(edges.sparkSession, prev[0]):
        for _ in range(max_iter):
            e = _small_star(_large_star(e)).localCheckpoint()
            cur = _edge_checksum(e)
            if cur == prev:
                converged = True
                break
            prev = cur
    if not converged:
        # The leaves/centers extraction below assumes a star forest;
        # on a non-converged edge set it would silently return wrong
        # components. O(log^2 n) rounds always suffice, so hitting this
        # means max_iter was set far too low for the graph.
        raise RuntimeError(
            f"connected_components_star: edge set not a fixpoint after "
            f"{max_iter} large-star/small-star rounds; raise max_iter"
        )
    # converged edge set is a star forest: (leaf, center) rows only.
    centers = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    leaves = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return leaves.unionByName(centers)


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    damping: float = 0.85,
    iters: int = 10,
    inplane_dangling: bool | None = None,
) -> DataFrame:
    """(node, rank) after a fixed number of power iterations — the
    second iterative algorithm next to connected components, same
    driver-loop-over-DataFrame-joins shape (each round distributed; the
    loop is control flow).

    Handles dangling nodes (no out-edges) by redistributing their mass
    uniformly, keeping total rank = 1 — the scalar dangling mass stays
    in-plan as a whole-frame window aggregate over the per-node
    contributions, no driver round-trip per iteration.

    r16 optimization-round shape (guide §1.2 step 1): each power
    iteration is ONE chained execution — edge join -> groupBy(dest) ->
    left join nodes -> whole-frame window (the dangling mass) ->
    project -> lazy localCheckpoint. The previous shape ran TWO
    checkpoints plus a broadcast 1-row aggregate per round; under AQE a
    ``localCheckpoint(eager=False)`` still materializes its shuffle
    stages at build time, so every extra checkpoint/broadcast was a
    full scheduling round-trip on a ~20k-row frame (measured: the loop
    cost ~0.9 s/round of pure per-round machinery at sf0.1, vs ~0.35
    s/round fused). The dangling window sums the SAME addends the old
    1-row aggregate summed (the left join is 1:1 per node, sum ignores
    the nulls), so the mass-conservation property is unchanged. The
    whole-frame window moves the ~|nodes| rows through one task per
    round — gated by :data:`PAGERANK_WINDOW_MAX_NODES` (r17, ADVICE
    r16): above it the round falls back to the fully distributed
    aggregate + crossJoin(broadcast) shape. ``inplane_dangling``
    overrides the gate (tests exercise both branches on one graph).
    """
    # _scoped_shuffle_width around the WHOLE body, sized by the raw
    # (pre-distinct) edge count — an upper bound on |e| that costs one
    # cheap count instead of running the distinct itself outside the
    # scope. Under AQE even the lazy in-loop checkpoints materialize
    # their stages at build time — i.e. inside this scope — so the
    # width cap genuinely applies to every exchange here (the CC loop's
    # rationale; ~15 tiny executions, each otherwise paying
    # session-width task launch).
    with _scoped_shuffle_width(edges.sparkSession, edges.count()):
        e = (
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .distinct()
            .localCheckpoint()
        )
        nodes = (
            e.select(F.col("s").alias("node"))
            .unionByName(e.select(F.col("d").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        n = nodes.count()
        # Loop-invariant: the degree-annotated edge list never changes —
        # annotate ONCE via a window over the same exchange the
        # per-round join needs anyway (one execution, vs groupBy + join
        # = two) and checkpoint.
        e_deg = e.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("s"))
        ).localCheckpoint()
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        # Dangling-mass shape gate (ADVICE r16): the fused whole-frame
        # window funnels all |nodes| rank rows through ONE task per
        # round — the right trade while the rank vector is small (it
        # removes a full per-round scheduling round-trip, measured
        # ~0.9 -> ~0.35 s/round at sf0.1), a single-task wall at
        # web-graph scale. Above PAGERANK_WINDOW_MAX_NODES the round
        # computes the same sum as a 1-row aggregate re-attached by
        # crossJoin(broadcast) — fully distributed, one extra tiny
        # execution per round. Both branches sum the SAME addends
        # (recv is 1:1 per node), so mass conservation and the fixed
        # point are unchanged; only IEEE accumulation order may differ
        # (property-pinned in tests/test_graph.py).
        if inplane_dangling is None:
            inplane_dangling = n <= PAGERANK_WINDOW_MAX_NODES
        wall = Window.partitionBy()
        for _ in range(iters):
            recv = (
                e_deg
                .join(ranks.withColumnsRenamed({"node": "s"}), "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("recv"))
            )
            if inplane_dangling:
                # mass conservation: what non-dangling nodes sent is
                # sum(recv), so dangling mass = 1 - sum(recv) —
                # computed in-plan by a whole-frame window over the
                # joined rank rows (recv is 1:1 per node; sum skips the
                # nulls of contribution-less nodes).
                dm = F.lit(1.0) - F.coalesce(
                    F.sum("recv").over(wall), F.lit(0.0)
                )
                joined = nodes.join(recv, "node", "left")
            else:
                # distributed dangling mass: one 1-row aggregate over
                # recv, re-attached as a broadcast scalar — no
                # single-task window over the rank vector.
                sent = recv.agg(
                    F.coalesce(F.sum("recv"), F.lit(0.0)).alias("sent")
                )
                dm = F.lit(1.0) - F.col("sent")
                joined = nodes.join(recv, "node", "left").crossJoin(
                    F.broadcast(sent)
                )
            ranks = (
                joined
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + damping
                        * (F.coalesce("recv", F.lit(0.0)) + dm / n)
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
    return ranks


def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part->supplier sourcing graph from lineitem
    (keyspaces string-prefixed so part 5 and supplier 5 stay distinct
    nodes): top-20 nodes by rank. Iterative float accumulation —
    rows-only check; the algorithmic contracts (mass conservation,
    cycle uniformity, dangling handling) are property-tested."""
    from ..sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # Widen BEFORE the per-row work: the lineitem parquet is one
    # row group, so the scan is one task and the distinct's map-side
    # partial aggregation would run serially there (measured 2.5 s of
    # the 5.4 s total; guide §2.5 input skew; r17: width-gated). The
    # exchange ships two int columns and unlocks full-width map work. Node ids ride the
    # whole loop as LONGS (even = part, odd = supplier — guide §2.3
    # narrower types: 16-byte join/shuffle keys instead of ~24-byte
    # strings and long hashing throughout); the "p"/"s" rendering is
    # applied to the final 20 rows only.
    from ..functions.partitioning import widen_for_rowlocal

    edges = widen_for_rowlocal(li.select("l_partkey", "l_suppkey")).select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # 4 iterations: enough to rank the top-20 stably on this graph (the
    # top set is degree-dominated and already fixed by round 3); the
    # convergence-sensitive properties are covered by the pagerank unit
    # tests, so the demo query buys bench stability, not precision.
    pr = pagerank(edges, "src", "dst", iters=4)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("p"), F.expr("node DIV 2")),
    ).otherwise(F.concat(F.lit("s"), F.expr("node DIV 2")))
    return (
        pr.select(node_str.alias("node"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


def q38_dedup_clusters(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs (q24) closed into clusters: every clustered doc
    with its component id (= keeper, the min doc_id) and cluster size.
    The complete dedup pipeline: detect pairs -> cluster -> keep one.
    ``pairs=`` accepts the persisted bucketed store (dedup.write_pair_store)."""
    from .dedup import resolve_pairs

    pairs = resolve_pairs(spark, sf_dir, pairs)
    cc = connected_components(pairs, "ad", "bd")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("keeper"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def q89_dedup_clusters_star(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """q38's dedup-cluster pipeline on the O(log^2 n) large-star/
    small-star variant — the 100 TB connected-components answer
    (diameter-independent round count), hash-checked against the SAME
    recursive-CTE oracle as q38: both algorithms must produce identical
    clusters. ``pairs=`` accepts the persisted bucketed store."""
    from .dedup import resolve_pairs

    pairs = resolve_pairs(spark, sf_dir, pairs)
    cc = connected_components_star(pairs, "ad", "bd")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("keeper"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


# The oracle closes the same pair list transitively with a recursive CTE
# (min reachable node = component). Reuses q24's oracle as the edge set.
# ONE copy of the closure: q38 (membership), q169 (size histogram), and
# q170 (yield report) must all check against the SAME cluster definition,
# so they share this CTE prefix rather than hand-synced copies.
def _cc_closure_ctes() -> str:
    from .dedup import Q24_ORACLE_BODY

    return f"""pairs AS ({Q24_ORACLE_BODY}),
sym AS (
  SELECT ad AS a, bd AS b FROM pairs
  UNION
  SELECT bd, ad FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
),
cc AS (SELECT n AS doc_id, MIN(m) AS keeper FROM reach GROUP BY n)"""


def _q38_oracle() -> str:
    return f"""
WITH RECURSIVE {_cc_closure_ctes()}
SELECT doc_id, keeper, COUNT(*) OVER (PARTITION BY keeper) AS cluster_size
FROM cc
ORDER BY doc_id
"""


def q107_triangle_count(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Triangle census of the near-dup pair graph: edge count, wedge
    (2-path) count, triangle count, and the global clustering
    coefficient 3T/W — the structural audit that says whether near-dup
    pairs form tight cliques (template families: safe to collapse to
    one keeper) or long chains (transitive drift: collapsing loses
    distinct documents). The canonical multi-way self-join shape the
    suite otherwise lacks.

    Scale shape: edges are id-ordered (a<b) so each triangle is counted
    once by the ordered 3-way join — two hash joins on single node
    keys, no symmetric blow-up; wedges come from one degree aggregate
    (deg*(deg-1)/2 summed). Everything downstream of the pair detector
    is proportional to edges + wedge count, and the detector is
    swappable (q25/q104) exactly as in q38; ``pairs=`` accepts the
    persisted bucketed store."""
    from .dedup import resolve_pairs

    e = (
        resolve_pairs(spark, sf_dir, pairs)
        .select(F.col("ad").alias("a"), F.col("bd").alias("b"))
        .localCheckpoint(eager=False)
    )
    tri = (
        e.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        )
        .join(
            e.select(F.col("a").alias("a"), F.col("b").alias("c")),
            ["a", "c"],
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias(
            "n_wedges"
        )
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3 * F.col("n_triangles") / F.col("n_wedges"), 4),
            ).alias("global_clustering"),
        )
    )


def _q107_oracle() -> str:
    from .dedup import Q24_ORACLE_BODY

    return f"""
WITH pairs AS ({Q24_ORACLE_BODY}),
e AS (SELECT ad AS a, bd AS b FROM pairs),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
    ON e3.a = e1.a AND e3.b = e2.b
),
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
  GROUP BY n
),
w AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
ec AS (SELECT COUNT(*) AS n_edges FROM e)
SELECT ec.n_edges, w.n_wedges, tri.n_triangles,
       CASE WHEN w.n_wedges > 0
            THEN ROUND(3.0 * tri.n_triangles / w.n_wedges, 4)
            END AS global_clustering
FROM ec, w, tri
"""


# --- q118: k-hop reachability via a native recursive CTE ---------------------

KHOP_DEPTH = 3  # hop bound; recursion terminates on cycles because of it

# Shared recursive body: runs UNCHANGED on Spark 4 (WITH RECURSIVE,
# UNION ALL iteration) and DuckDB — only the pair-source CTE differs.
# Spark's recursive CTEs are UNION ALL-only (fixpoint UNION raises
# UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so paths duplicate and the
# outer COUNT(DISTINCT) does the dedup; the hop bound caps the blow-up.
_KHOP_BODY = """
sym AS (
  SELECT ad AS a, bd AS b FROM {pairs}
  UNION ALL
  SELECT bd, ad FROM {pairs}
),
reach(n, m, depth) AS (
  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM sym) seeds
  UNION ALL
  SELECT r.n, s.b, r.depth + 1
  FROM reach r JOIN sym s ON s.a = r.m
  WHERE r.depth < {depth}
)
SELECT n AS doc_id,
       COUNT(DISTINCT m) AS n_reach,
       MIN(m) AS min_reach
FROM reach
GROUP BY n
ORDER BY doc_id
"""


def q118_khop_reachability(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """3-hop reachability over the near-dup pair graph via Spark 4's
    NATIVE recursive CTE — per doc, how many documents its duplicate
    relation reaches within 3 hops (the "transitive drift" audit q107
    summarizes globally, resolved per node), plus the minimum reached
    id (= the q38 keeper whenever the component's diameter is <= 3).

    Scale shape: each recursion step is one hash join of the frontier
    against the (reusable) symmetric edge frame — the same join q38's
    hand-rolled loop issues, but driven by the engine's UnionLoop
    operator with the SQL surface a user actually writes. The explicit
    hop bound is the termination contract (Spark recursion is UNION
    ALL-only, so a cyclic closure without it would not terminate);
    unbounded-diameter closure remains the job of the iterative
    DataFrame operators (q38 label propagation, q89 star-contraction),
    which this query complements, not replaces. ``pairs=`` accepts the
    persisted bucketed store (already materialized — the checkpoint
    below is then a cheap no-op barrier over the stored rows)."""
    from .dedup import resolve_pairs

    # Materialize the pair detection ONCE: the frame is referenced twice
    # in sym and sym is re-joined every recursion step — without the
    # checkpoint barrier each UnionLoop step would replay the whole
    # shingle self-join (measured minutes instead of seconds at sf0.1).
    pairs = resolve_pairs(spark, sf_dir, pairs).localCheckpoint()
    return spark.sql(
        "WITH RECURSIVE " + _KHOP_BODY, pairs=pairs, depth=KHOP_DEPTH
    )


def _q118_oracle() -> str:
    from .dedup import Q24_ORACLE_BODY

    return (
        f"WITH RECURSIVE pairs AS ({Q24_ORACLE_BODY}),\n"
        + _KHOP_BODY.format(pairs="pairs", depth=KHOP_DEPTH)
    )


# --- q169: cluster-size histogram ---------------------------------------------

def q169_cluster_size_histogram(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Distribution of near-dup cluster sizes: for each size, how many
    clusters and how many documents sit in them — the one-page answer
    to "is duplication a few giant template families or many small
    pairs?", which decides whether exact-keeper dedup or per-cluster
    sampling is the right removal policy. Runs on the star-CC clusters
    (the 100 TB algorithm); the oracle closes the same pairs with a
    recursive CTE, so the histogram double-checks cluster STRUCTURE,
    not just membership. ``pairs=`` accepts the persisted store."""
    from .dedup import resolve_pairs

    pairs = resolve_pairs(spark, sf_dir, pairs)
    cc = connected_components_star(pairs, "ad", "bd")
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def _q169_oracle() -> str:
    return f"""
WITH RECURSIVE {_cc_closure_ctes()},
sizes AS (SELECT keeper, COUNT(*) AS cluster_size FROM cc GROUP BY keeper)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


# --- q170: canonical (post-dedup) corpus --------------------------------------

def q170_canonical_corpus(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """The corpus AFTER near-dup dedup, reported per source: total
    docs, docs removed (clustered non-keepers), docs kept, and the
    surviving character mass — the yield report every dedup run ends
    with, and the number that actually matters to a training-data
    budget ("how many tokens survive?"). Keeper policy = min doc_id
    per cluster (q38's contract).

    Scale shape: the removed set is the clustered non-keepers — a tiny
    fraction of any real corpus — so it joins in as a BROADCAST against
    the full documents scan; the rollup is one map-side-combinable
    per-source aggregate. ``pairs=`` accepts the persisted store."""
    from .dedup import resolve_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    pairs = resolve_pairs(spark, sf_dir, pairs)
    cc = connected_components_star(pairs, "ad", "bd")
    removed = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("rm")
    )
    flagged = docs.join(F.broadcast(removed), "doc_id", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("rm"), F.lit(0))).alias("n_removed"),
            F.sum(F.when(F.col("rm").isNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.sum(
                F.when(F.col("rm").isNull(), F.col("n_chars")).otherwise(0)
            ).alias("kept_chars"),
        )
        .orderBy("source")
    )


def _q170_oracle() -> str:
    return f"""
WITH RECURSIVE {_cc_closure_ctes()},
removed AS (SELECT doc_id FROM cc WHERE doc_id <> keeper)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN r.doc_id IS NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
GROUP BY d.source
ORDER BY d.source
"""


# --- q182: degree assortativity of the near-dup graph ------------------------

def q182_degree_assortativity(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Degree assortativity (Newman's r) of the near-dup pair graph:
    the Pearson correlation of endpoint degrees over the symmetrized
    edge list. Positive r = hub-connects-to-hub (template families
    chaining into each other — transitive-collapse risk), negative r =
    hubs surrounded by leaves (star-shaped families — safe keeper
    collapse). The one-number structural complement to q107's
    clustering coefficient and q169's size histogram.

    Scale shape: degree = one count per node; edges pick up endpoint
    degrees via two hash joins keyed on the node id; the correlation
    reduces to FIVE integer moments (n, Sx, Sy, Sxy, Sxx, Syy) in one
    map-side-combinable aggregate. Nothing is ever collected; the
    output is one row.

    Determinism: all moments are exact BIGINTs; the final r is one
    IEEE-double expression over identical integers in both engines
    (sqrt is correctly rounded per IEEE-754), rounded to 6 dp.
    Degenerate graphs (zero degree variance) yield NULL identically.
    ``pairs=`` accepts the persisted store."""
    from .dedup import resolve_pairs

    pairs = resolve_pairs(spark, sf_dir, pairs).select("ad", "bd")
    # sym feeds three consumers (deg and both endpoint joins) and deg
    # feeds two — pin ONE materialization of each so the pair pipeline
    # is not re-derived per consumer when no persisted store resolves
    # (the q166/q163 shared-frame pattern).
    sym = pairs.union(
        pairs.select(F.col("bd").alias("ad"), F.col("ad").alias("bd"))
    ).localCheckpoint(eager=False)
    deg = (
        sym.groupBy("ad")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    e = (
        sym.join(deg.select(F.col("ad").alias("src_n"),
                            F.col("deg").alias("x")),
                 F.col("ad") == F.col("src_n"))
        .join(deg.select(F.col("ad").alias("dst_n"),
                         F.col("deg").alias("y")),
              F.col("bd") == F.col("dst_n"))
    )
    m = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.col("sxy").alias("sum_xy"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            ),
        ).alias("r_assort"),
    )


def _q182_oracle() -> str:
    from .dedup import Q24_ORACLE_BODY

    return f"""
WITH pairs AS ({Q24_ORACLE_BODY}),
sym AS (
  SELECT ad AS a, bd AS b FROM pairs
  UNION ALL
  SELECT bd, ad FROM pairs
),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
e AS (
  SELECT dx.deg AS x, dy.deg AS y
  FROM sym JOIN deg dx ON dx.node = sym.a JOIN deg dy ON dy.node = sym.b
),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM e
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges, CAST(sxy AS BIGINT) AS sum_xy,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
            END AS r_assort
FROM m
"""


QUERIES = [
    QuerySpec("q38_dedup_clusters", q38_dedup_clusters, _q38_oracle(),
              "connected components over near-dup pairs: cluster + keeper per doc",
              ("dedup", "graph", "iterative")),
    QuerySpec("q89_dedup_clusters_star", q89_dedup_clusters_star, _q38_oracle(),
              "same clusters via O(log^2 n) large-star/small-star rounds",
              ("dedup", "graph", "iterative", "scale")),
    QuerySpec("pagerank_suppliers", pagerank_suppliers, None,
              "PageRank over the part->supplier graph (iterative, property-tested)",
              ("graph", "iterative", "approx")),
    QuerySpec("q118_khop_reachability", q118_khop_reachability,
              _q118_oracle(),
              "3-hop dup-graph reachability via native recursive CTE "
              "(UnionLoop), per-doc reach count + min id",
              ("graph", "dedup", "recursive")),
    QuerySpec("q107_triangle_count", q107_triangle_count, _q107_oracle(),
              "triangle/wedge census + clustering coefficient of the "
              "near-dup graph (ordered 3-way self-join)",
              ("graph", "dedup", "audit")),
    QuerySpec("q169_cluster_size_histogram", q169_cluster_size_histogram,
              _q169_oracle(),
              "near-dup cluster-size distribution (clusters + docs per "
              "size) off the star-CC clusters",
              ("graph", "dedup", "audit")),
    QuerySpec("q170_canonical_corpus", q170_canonical_corpus,
              _q170_oracle(),
              "post-dedup per-source yield: kept/removed docs and "
              "surviving char mass (broadcast removed-set join)",
              ("graph", "dedup", "curation")),
    QuerySpec("q182_degree_assortativity", q182_degree_assortativity,
              _q182_oracle(),
              "Newman degree assortativity of the near-dup graph from "
              "five exact integer moments (hub-chaining risk signal)",
              ("graph", "dedup", "stats")),
]
