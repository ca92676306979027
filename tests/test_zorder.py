"""Z-order clustered layout: multi-dimensional data skipping.

Single-column sorting narrows row-group stats on ONE column;
test_data_skipping.py pins that half. This pins the other: a Z-ordered
layout must let parquet min/max stats prune files for band predicates
on EITHER clustered column, where the single-sorted layout prunes only
its own column and a shuffled layout prunes nothing. Deterministic
synthetic grid data (no RNG) keeps the tile geometry exact.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distributed_map_reduce_spark.sinks import write_zordered, zorder_value

N = 16_384
K = 256  # x, y uniform on [0, K)
FILES = 16


def _grid(spark):
    # x sweeps the domain; y is a decorrelated permutation of it
    return spark.range(N).select(
        (F.col("id") % K).cast("double").alias("x"),
        ((F.col("id") * 7919) % K).cast("double").alias("y"),
    )


def _files_overlapping(path: str, col: str, lo: float, hi: float):
    """(#files whose [min,max] for col overlaps [lo,hi], total files).
    File-level stats stand in for row-group stats: each file is one
    curve segment, and the parquet reader prunes row groups inside
    files by exactly the same min/max test."""
    hit = total = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        names = {
            meta.schema.column(i).name: i for i in range(meta.num_columns)
        }
        ci = names[col]
        mn, mx = None, None
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(ci).statistics
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        total += 1
        if mn <= hi and mx >= lo:
            hit += 1
    return hit, total


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    # Range partitioning samples its file boundaries with a seed taken
    # from the RDD id, i.e. from how many RDDs the session made before
    # this test; sampling every row gives the same layout in any session.
    sample_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    orig = spark.conf.get(sample_key)
    spark.conf.set(sample_key, str(N))
    try:
        df = _grid(spark)
        zpath = str(tmp_path / "zorder")
        spath = str(tmp_path / "xsorted")
        write_zordered(df, zpath, ("x", "y"), num_files=FILES)
        (
            df.repartitionByRange(FILES, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(spath)
        )
    finally:
        spark.conf.set(sample_key, orig)
    band = (0.0, K / 8 - 1)  # 1/8 of the domain
    for col in ("x", "y"):
        zhit, ztot = _files_overlapping(zpath, col, *band)
        assert ztot == FILES
        # 16 files = 4x4 z-tiles; a 1/8 band on either axis lives in
        # one tile-row/column (+ boundary slack)
        assert zhit <= ztot // 2, f"{col}: z-order hit {zhit}/{ztot}"
    xhit, _ = _files_overlapping(spath, "x", *band)
    yhit, ytot = _files_overlapping(spath, "y", *band)
    assert xhit <= FILES // 4  # sorted column prunes
    assert yhit == ytot  # the other dimension cannot prune at all


def test_zorder_roundtrip_lossless(spark, tmp_path):
    df = _grid(spark)
    path = str(tmp_path / "rt")
    write_zordered(df, path, ("x", "y"), num_files=4)
    back = spark.read.parquet(path)
    assert back.columns == ["x", "y"]
    assert back.count() == N
    assert (
        back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    )


def test_zorder_value_is_codegen_only(spark):
    df = _grid(spark)
    z = df.select(zorder_value(df, ("x", "y")).alias("z"))
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # degenerate domain must not divide by zero
    one = spark.range(3).select(F.lit(5.0).alias("x"), F.lit(1.0).alias("y"))
    vals = one.select(zorder_value(one, ("x", "y")).alias("z")).collect()
    assert len({r["z"] for r in vals}) == 1


def test_zorder_bit_budget_guard(spark):
    df = _grid(spark)
    with pytest.raises(ValueError, match="<= 63"):
        zorder_value(df, ("x", "y"), n_bits=32)
