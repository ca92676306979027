"""Pin the scale-critical physical-plan properties (SURVEY §6, the 100 TB
story): pushdown, pruning, broadcast, map-side combine. These are the
regressions that stay invisible at sf0.001 and dominate at SF1000."""

from distributed_map_reduce_spark.plans.inspect import (
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregation,
    pushed_filters,
    read_schemas,
    whole_stage_codegen_subtrees,
)
from distributed_map_reduce_spark.registry import all_queries


def _q(name, spark, sf_dir):
    return all_queries()[name].build(spark, sf_dir)


def test_q5_filters_reach_parquet_scan(spark, sf_dir):
    """TPC-H Q6 shape: shipdate/discount/quantity predicates must land in
    the scan, not a post-scan Filter alone."""
    pf = pushed_filters(_q("q5_filtered_revenue", spark, sf_dir))
    cols = " ".join(pf)
    assert "l_shipdate" in cols and "l_discount" in cols and "l_quantity" in cols


def test_q5_scan_prunes_columns(spark, sf_dir):
    """lineitem has 11 columns; Q5 needs 4 — the scan must not read more."""
    (schema,) = read_schemas(_q("q5_filtered_revenue", spark, sf_dir))
    assert schema.count(":") == 4
    for c in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert c in schema


def test_q7_broadcasts_small_dimensions(spark, sf_dir):
    """The 4-way join must not shuffle lineitem against region/nation —
    small dims broadcast (statically or via AQE)."""
    assert has_broadcast_join(_q("q7_region_revenue", spark, sf_dir))


def test_q6_join_is_broadcast_at_gate_scale(spark, sf_dir):
    assert has_broadcast_join(_q("q6_segment_revenue", spark, sf_dir))


def test_q1_wordcount_partial_aggregates(spark, sf_dir):
    """The combiner the reference lacks: token counts partial-aggregate
    map-side, so the shuffle carries (token, partial n), not every
    occurrence."""
    assert has_partial_aggregation(_q("q1_wordcount", spark, sf_dir))


def test_q4_pricing_partial_aggregates(spark, sf_dir):
    assert has_partial_aggregation(_q("q4_pricing_summary", spark, sf_dir))


def test_q4_runs_in_whole_stage_codegen(spark, sf_dir):
    """The hot aggregate path must be generated JVM code."""
    assert whole_stage_codegen_subtrees(_q("q4_pricing_summary", spark, sf_dir)) >= 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q46_decorrelation_scans_fact_once(spark, sf_dir):
    """The correlated-subquery rewrite must stay the one-scan window
    form: a regression to pre-aggregate-and-rejoin would read lineitem
    twice — invisible at sf0.01, double the IO at 100 TB."""
    import re

    plan = _executed_plan(_q("q46_small_qty_revenue", spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_q50_unpivot_is_expand_not_union(spark, sf_dir):
    """Unpivot must plan as one Expand over the aggregate (one agg
    shuffle + the final sort), not a scan-per-metric union."""
    import re

    plan = _executed_plan(_q("q50_unpivot", spark, sf_dir))
    assert "Expand" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_q53_winnowing_reuses_doc_partitioning(spark, sf_dir):
    """Window min, grouped aggregate, and distinct-count all key on
    doc_id — they must share ONE hash exchange, not shuffle per step."""
    import re

    plan = _executed_plan(_q("q53_winnowing_fingerprints", spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_no_cartesian_products_in_relational_suite(spark, sf_dir):
    for name in (
        "q4_pricing_summary",
        "q5_filtered_revenue",
        "q6_segment_revenue",
        "q7_region_revenue",
        "q8_topk_customers",
        "q9_window_rank",
        "q24_ngram_jaccard_dedup",
        "q25_minhash_lsh_dedup",
    ):
        plan = formatted_plan(_q(name, spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q40_computes_both_counts_in_one_plan(spark, sf_dir):
    """Round-1 verdict: q40 ran two driver-side .count() jobs and
    re-embedded the scalars as literals. Both the semi and the anti join
    must now appear in ONE DataFrame plan."""
    plan = formatted_plan(_q("q40_semi_anti", spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q57_blocked_has_no_nested_loop_join(spark, sf_dir):
    """The blocking-key variant exists precisely to avoid the quadratic
    pairing plan; its plan must contain no nested-loop/cartesian join."""
    plan = formatted_plan(_q("q57_fuzzy_blocked", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q65_probe_set_is_broadcast(spark, sf_dir):
    """Decontamination must join the corpus against a BROADCAST probe
    set (eval suites are small by definition) — a shuffled probe join
    would repartition the full corpus gram stream at 100 TB."""
    assert has_broadcast_join(_q("q65_decontamination", spark, sf_dir))


def test_q61_packing_packs_per_source_not_globally(spark, sf_dir):
    """Sequence packing must window per source shard; a global window
    (empty partitionBy) would serialize the corpus into one partition."""
    plan = formatted_plan(_q("q61_sequence_packing", spark, sf_dir))
    assert "SinglePartition" not in plan


def test_q69_aggregates_are_pushed_to_parquet_footers(spark, sf_dir):
    """The stats fast path must answer from row-group metadata: the v2
    scan node advertises PushedAggregation for all five aggregates."""
    plan = formatted_plan(_q("q69_footer_stats", spark, sf_dir))
    assert "PushedAggregation" in plan
    assert "COUNT(*)" in plan
    assert "MIN(l_extendedprice)" in plan
    assert "MAX(l_quantity)" in plan


def test_q9_window_group_limit_pushdown(spark, sf_dir):
    """rn <= 2 on a ROW_NUMBER window must trigger WindowGroupLimit:
    each partition keeps only its top-2 rows through the sort instead
    of sorting everything and filtering after — the top-k-per-group
    pattern that decides whether q9 scales to 100 TB of orders."""
    plan = formatted_plan(_q("q9_window_rank", spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


# --- global sweep: every registered query (VERDICT r4 item 5) ----------------
# The per-query pins above guard specific shapes; this sweep turns the
# plan audit into a regression gate for the WHOLE suite: no query may
# plan a Cartesian product, fall off the Arrow path into a row-at-a-time
# Python UDF, or run a keyed aggregate without a map-side partial phase.

import re as _re

import pytest

from distributed_map_reduce_spark.registry import all_queries as _all_queries

_SWEEP_NAMES = list(_all_queries())


@pytest.mark.parametrize("name", _SWEEP_NAMES)
def test_plan_sweep_scale_invariants(spark, sf_dir, name):
    plan = formatted_plan(_q(name, spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    # any aggregate computing functions must have a partial (map-side
    # combine) phase; distinct-only aggregates (Functions [0]) and
    # Pandas group-map nodes are exempt by construction
    if _re.search(r"Functions \[[1-9]\d*\]", plan):
        assert _re.search(r"Functions \[\d+\]: \[partial_", plan), (
            f"{name}: keyed aggregate with no partial phase"
        )


def test_q58_window_nav_partition_bounded(spark, sf_dir):
    """Companion pin for the window-nav sweep: the window must be
    partitioned (no global Window.orderBy => no single-partition
    serialization)."""
    plan = formatted_plan(_q("q58_window_nav_sweep", spark, sf_dir))
    assert "Window" in plan
    # a global (unpartitioned) window plans as 'Exchange SinglePartition'
    # feeding the Window node
    window_input = plan.split("Window")[0]
    assert "SinglePartition" not in window_input, plan


def test_q166_twopass_pareto_has_no_single_partition_window(spark, sf_dir):
    """q164's declared form computes the global cumulative revenue sum
    with one unpartitioned window (fine on a catalog-sized rollup, the
    flagged shape at a too-large catalog). Its scale twin q166 must not
    plan the global-window shape Exchange SinglePartition -> Sort (->
    Window) anywhere — the within-slice windows are partitioned by
    slice id and the cross-slice offsets come from a broadcast
    triangular self-join, not an ordered window. The one
    SinglePartition exchange that IS allowed is the scalar grand-total
    aggregate (one partial-agg row per input partition — scale-safe,
    and present in q164's declared form too)."""
    plan = formatted_plan(_q("q166_abc_pareto_twopass", spark, sf_dir))
    assert "Window" in plan
    single = [
        int(m.group(1))
        for m in _re.finditer(
            r"\((\d+)\) Exchange\b(?:(?!\(\d+\) ).)*?SinglePartition",
            plan,
            _re.S,
        )
    ]
    sorts = {int(m.group(1)) for m in _re.finditer(r"\((\d+)\) Sort\b", plan)}
    fed_sorts = [n for n in single if n + 1 in sorts]
    assert not fed_sorts, (fed_sorts, plan)


def test_q166_equals_q164(spark, sf_dir):
    """The two-pass prefix sum must reproduce the single-frame ABC
    classification exactly (range partitioning preserves the global
    order; l_partkey makes the sort key unique)."""
    a = _q("q164_abc_pareto", spark, sf_dir).collect()
    b = _q("q166_abc_pareto_twopass", spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_q112_subqueries_decorrelate_to_semi_anti_joins(spark, sf_dir):
    """The correlated EXISTS / NOT EXISTS pair must be rewritten by
    Catalyst into semi/anti hash-family joins on the orderkey equi-key —
    a surviving correlated subquery would re-scan lineitem per row."""
    plan = formatted_plan(_q("q112_exists_decorrelation", spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


# Static exchange counts of the exact-Jaccard dedup family at the gate
# scale, as measured with tools/plan_audit.py before the family moved
# onto one pair-overlap kernel; the kernel must not add an exchange.
_DEDUP_KERNEL_SHUFFLES = {
    "q24_ngram_jaccard_dedup": 14,
    "q163_containment_dedup": 14,
    "q157_idf_weighted_jaccard": 14,
    "q144_incremental_exact_dedup": 16,
    "q25_minhash_lsh_dedup": 26,
    "q90_incremental_dedup": 34,
    "q103_minhash_calibration": 22,
    "q104_jaccard_prefix_join": 26,
}


@pytest.mark.parametrize("name", sorted(_DEDUP_KERNEL_SHUFFLES))
def test_dedup_kernel_exchange_counts(spark, name):
    from distributed_map_reduce_spark.plans.inspect import count_shuffles

    df = _q(name, spark, "/root/testdata/sf0.01")
    assert count_shuffles(df) == _DEDUP_KERNEL_SHUFFLES[name]
