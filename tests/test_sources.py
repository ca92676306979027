"""Source layer: parquet footers must match the documented contract, and
the whole-file text source feeds map_reduce() end-to-end (the reference's
default path: `mrworker wc.so pg-*.txt` -> `mr-out-*` text files)."""

import pathlib

import pytest

from distributed_map_reduce_spark.operators.mapreduce import (
    map_reduce,
    wc_map,
    wc_reduce,
    write_mr_output,
)
from distributed_map_reduce_spark.sources import (
    TABLES,
    load_csv,
    load_jsonl,
    load_orc,
    load_table,
    read_whole_text_files,
)
from distributed_map_reduce_spark.sources.tables import expected_schema


@pytest.mark.parametrize("name", TABLES)
def test_footer_matches_contract(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    assert df.schema == expected_schema(name), (
        f"{name}: footer {df.schema.simpleString()} != "
        f"contract {expected_schema(name).simpleString()}"
    )


def test_unknown_table_rejected(spark, sf_dir):
    with pytest.raises(KeyError):
        load_table(spark, sf_dir, "nope")


def test_sql_front_door(spark, sf_dir):
    """register_views makes every table addressable from spark.sql with
    the oracle's table names — running a registry query's own oracle
    text through Spark SQL must agree with its DataFrame build (ANSI
    SQL runs unchanged on both engines)."""
    from distributed_map_reduce_spark.registry import all_queries
    from distributed_map_reduce_spark.sources import register_views

    register_views(spark, sf_dir)
    try:
        spec = all_queries()["q6_segment_revenue"]
        via_sql = spark.sql(spec.oracle).collect()
        via_df = spec.build(spark, sf_dir).collect()
    finally:
        for t in TABLES:
            spark.catalog.dropTempView(t)
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_df]
    assert len(via_sql) > 0


def test_csv_and_jsonl_roundtrip(spark, sf_dir, tmp_path: pathlib.Path):
    """parquet -> csv/jsonl -> read back with the contract schema must be
    lossless for the columns interchange formats can carry."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    want = sorted(tuple(r) for r in docs.collect())
    schema = "doc_id long, lang string, source string, n_chars long"

    csv_dir = str(tmp_path / "docs_csv")
    docs.write.option("header", "true").csv(csv_dir)
    got_csv = sorted(tuple(r) for r in load_csv(spark, csv_dir, schema).collect())
    assert got_csv == want

    jl_dir = str(tmp_path / "docs_jsonl")
    docs.write.json(jl_dir)
    got_jl = sorted(tuple(r) for r in load_jsonl(spark, jl_dir, schema).collect())
    assert got_jl == want


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path: pathlib.Path):
    """parquet -> ORC -> read back must be lossless, and ORC scans must
    keep the same pushdown/pruning story as parquet (filter reaches the
    scan's PushedFilters)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    want = sorted(tuple(r) for r in docs.collect())

    orc_dir = str(tmp_path / "docs_orc")
    docs.write.orc(orc_dir)
    back = load_orc(spark, orc_dir)
    assert sorted(tuple(r) for r in back.collect()) == want

    filtered = load_orc(spark, orc_dir).filter("doc_id < 10").select("doc_id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters")[1]


def test_whole_files_to_mr_output(spark, tmp_path: pathlib.Path):
    """Disk files -> map_reduce(wc) -> `key value` text sink: the full
    reference pipeline, file in file out."""
    src = tmp_path / "books"
    src.mkdir()
    (src / "pg-a.txt").write_text("the whale; the SEA!\n")
    (src / "pg-b.txt").write_text("the harpoon, 42 whales\n")
    (src / "notes.md").write_text("ignored by glob\n")

    inputs = read_whole_text_files(spark, str(src), glob="pg-*.txt")
    names = dict(inputs.collect())
    assert set(names) == {"pg-a.txt", "pg-b.txt"}

    df = map_reduce(spark, inputs, wc_map, wc_reduce, n_reduce=3)
    out_dir = tmp_path / "mr-out"
    write_mr_output(df, str(out_dir), n_reduce=3)
    lines = sorted(
        line
        for p in out_dir.glob("part-*")
        for line in p.read_text().splitlines()
    )
    # sort mr-out* | grep . — the reference's canonical comparison form
    assert lines == [
        "SEA 1", "harpoon 1", "the 3", "whale 1", "whales 1",
    ]
