"""Structural invariants of the round-11 addition (q211).

The oracle parity gate pins VALUE equality against DuckDB; these
tests pin the binder contracts the SQL twin cannot check: that
positional ``?`` binding of plain value markers produces the same
rows as named ``:name`` binding of the same statement, that bound
literals are real Catalyst literals (the ``:cutoff`` filter reaches
the parquet scan as a pushed predicate), and — the watch-list probe —
that this Spark build REJECTS a ``?`` marker inside ``IDENTIFIER()``.
The last one is q205's correlated-LATERAL posture: q211 works around
the incompatibility by keeping table names out of the positional
text, and if a future Spark build starts accepting the composition,
this probe fails and the workaround can be retired.
"""

import pytest
from pyspark.errors import ParseException

from distributed_map_reduce_spark.operators.relational import (
    _Q211_SQL,
    _q211_positional_sql,
    q211_parameterized_sql,
)
from distributed_map_reduce_spark.sources import load_table


@pytest.fixture
def q211_views(spark, sf_dir):
    """The ``__q211_*`` views the statement names, dropped after the
    test (the builder drops its own once built)."""
    names = {t: f"__q211_{t}" for t in ("orders", "customer")}
    for t, name in names.items():
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
    yield
    for name in names.values():
        spark.catalog.dropTempView(name)


def test_positional_value_binding_matches_named(spark, q211_views):
    """Positional plain-value parity: the same statement bound once
    with named args and once positionally (seg twice — projection then
    filter — then cutoff, lexical marker order) must return identical
    rows. This is the form q211's second invocation ships."""
    named = spark.sql(
        _Q211_SQL,
        args={
            "seg": "BUILDING",
            "cutoff": "1995-03-01 00:00:00",
            "orders_tbl": "__q211_orders",
            "customer_tbl": "__q211_customer",
        },
    )
    positional = spark.sql(
        _q211_positional_sql(),
        args=["BUILDING", "BUILDING", "1995-03-01 00:00:00"],
    )
    n = sorted(map(tuple, named.collect()))
    p = sorted(map(tuple, positional.collect()))
    assert n == p
    assert len(n) > 0


def test_identifier_rejects_positional_marker(spark, q211_views):
    """Watch-list raises-probe: a ``?`` marker inside ``IDENTIFIER()``
    is rejected at parse time in this Spark build (the binder does not
    assign positional markers to identifier positions), which is WHY
    q211's positional branch keeps view names literal. If this starts
    passing, upgrade q211 to bind table names positionally too."""
    bad_sql = _Q211_SQL.replace(":orders_tbl", "?").replace(
        ":customer_tbl", "?"
    ).replace(":cutoff", "?").replace(":seg", "?")
    with pytest.raises(ParseException):
        spark.sql(
            bad_sql,
            args=[
                "HOUSEHOLD",
                "__q211_orders",
                "__q211_customer",
                "HOUSEHOLD",
                "1994-06-01 00:00:00",
            ],
        ).collect()


def test_bound_literals_push_down(spark, sf_dir):
    """Bound parameters are Catalyst literals, not runtime values: the
    ``:cutoff`` comparison and the ``:seg`` equality must reach the
    parquet scans as pushed filters (at 100 TB this is the difference
    between pruning the scan and reading everything)."""
    plan = (
        q211_parameterized_sql(spark, sf_dir)
        ._jdf.queryExecution()
        .toString()
    )
    physical = plan.split("== Physical Plan ==")[-1]
    assert "PushedFilters" in physical, physical
    assert "o_orderdate" in physical, physical
    assert "c_mktsegment" in physical, physical
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in physical, physical
