"""Session invariants of query builds: a build leaves the session as it
found it — no temp view in the catalog, no changed conf, no rebound
``RDD.toDF`` — and two threads building on one session get the same
results as one thread does.

SQL-text builders pass their frames as ``spark.sql(text, name=df)``
arguments, which pyspark registers under a unique name and drops once
the query is analyzed. The four builders whose SQL feature takes a
table *name* (a SQL table function body, ``IDENTIFIER()``, a script and
``EXECUTE IMMEDIATE``) register fixed names and drop them in a
``finally``; the static guard below holds every other module to the
first form."""

import ast
import pathlib
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import RDD

from distributed_map_reduce_spark.oracle import canonical_hash
from distributed_map_reduce_spark.registry import all_queries

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "distributed_map_reduce_spark"

# Builders that register a view under a fixed name, by module. Only
# these may call createOrReplaceTempView, and each of the name-bound
# builders drops what it registers in a finally.
NAME_BOUND = {
    "operators/udaf.py": {"q205_sql_table_function"},
    "operators/relational.py": {
        "q211_parameterized_sql",
        "q216_sql_script_maintenance",
        "q218_execute_immediate",
    },
}
ORACLE_NAME_HELPERS = {"sources/tables.py": {"register_views"}}

# The SQL-text builders (each once registered a fixed-name view) plus
# q69, whose footer scan runs on a derived session.
BUILDS = [
    "q71_udtf_tokenize", "q112_exists_decorrelation", "q118_khop_reachability",
    "q119_lateral_topk", "q122_listagg", "q204_sql_udf",
    "q205_sql_table_function", "q208_sql_pipe", "q211_parameterized_sql",
    "q213_udtf_analyze", "q215_listagg_topk_report",
    "q216_sql_script_maintenance", "q218_execute_immediate",
    "q221_theta_audience_overlap", "q222_time_of_day_profile",
    "q224_report_group_by_all", "q226_micro_sessions",
    "q227_conditional_report", "q231_bitmask_rollup",
    "q232_try_timestamp_census", "q233_percentile_disc_report",
    "q234_array_surgery", "q237_try_arithmetic_census",
    "q238_hex_codec_fingerprint", "q239_calendar_eom_report",
    "q240_token_set_algebra", "q241_locf_gapfill", "q242_local_time_report",
    "q243_string_surgery_report", "q244_session_policy_dynamic",
    "q245_content_address_report", "q246_field_splice_report",
    "q247_sequence_expansion", "q248_ranked_extremes",
    "q249_json_shape_report", "q250_luhn_audit", "q251_stack_unpivot",
    "q252_utf8_budget_census", "q253_null_safe_census",
    "q254_regexp_extract_report", "q255_map_entries_report",
    "q256_error_safe_parse_report", "q257_radix_conv_report",
    "q69_footer_stats",
]
CROSS_FAMILY = [
    "q215_listagg_topk_report",
    "q226_micro_sessions",
    "q118_khop_reachability",
    "q221_theta_audience_overlap",
    "q240_token_set_algebra",
]
CONFS = ("spark.sql.shuffle.partitions", "spark.sql.timeType.enabled")


def _views(spark):
    return {t.name for t in spark.catalog.listTables()}


def test_builds_leave_catalog_conf_and_to_df_unchanged(fresh, sf_dir):
    specs = all_queries()
    views, confs, to_df = (
        _views(fresh), [fresh.conf.get(k) for k in CONFS], RDD.toDF
    )
    frames = {name: specs[name].build(fresh, sf_dir) for name in BUILDS}
    assert _views(fresh) - views == set()
    assert [fresh.conf.get(k) for k in CONFS] == confs
    assert RDD.toDF is to_df
    # every frame was analyzed while its views existed and still runs
    for df in frames.values():
        df.collect()


def test_concurrent_builds_match_serial_hashes(spark, sf_dir):
    specs = all_queries()

    def run(name):
        return canonical_hash(specs[name].build(spark, sf_dir))

    def run_all(order):
        return {name: run(name) for name in order}

    serial = run_all(CROSS_FAMILY)
    # the two threads walk the sample in opposite orders, so each build
    # overlaps builds of other families as well as its own
    with ThreadPoolExecutor(max_workers=2) as pool:
        threaded = list(
            pool.map(run_all, [CROSS_FAMILY, CROSS_FAMILY[::-1]])
        )
    assert threaded == [serial, serial]


def test_q69_builds_share_one_derived_session(spark, sf_dir):
    """Each derived session rebinds ``RDD.toDF`` to itself and lives as
    long as that binding; q69 derives one per session and restores the
    binding."""
    to_df = RDD.toDF
    specs = all_queries()
    a = specs["q69_footer_stats"].build(spark, sf_dir)
    b = specs["q69_footer_stats"].build(spark, sf_dir)
    assert a.sparkSession is b.sparkSession is not spark
    assert RDD.toDF is to_df


def _calls(node, attr):
    return [
        n for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def test_only_name_bound_builders_register_views():
    allowed = {**NAME_BOUND, **ORACLE_NAME_HELPERS}
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        # each registration, by the top-level function holding it (None
        # for module level)
        for node in ast.parse(path.read_text()).body:
            if _calls(node, "createOrReplaceTempView"):
                found.setdefault(rel, set()).add(getattr(node, "name", None))
    assert found == allowed


@pytest.mark.parametrize(
    "rel,name",
    [(rel, name) for rel, names in NAME_BOUND.items() for name in names],
)
def test_name_bound_builders_drop_their_views_in_finally(rel, name):
    tree = ast.parse((PACKAGE / rel).read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == name
    )
    registered = {
        ast.unparse(c.args[0]) for c in _calls(fn, "createOrReplaceTempView")
    }
    dropped = {
        ast.unparse(c.args[0])
        for t in ast.walk(fn) if isinstance(t, ast.Try)
        for stmt in t.finalbody
        for c in _calls(stmt, "dropTempView")
    }
    assert registered and registered <= dropped
