"""Bucketed-layout co-located join (SCALE.md ground rules): two tables
bucketed on the join key must sort-merge join with ZERO Exchange — the
shuffle happened once at write time and is amortized over every
subsequent join. At 100 TB this is the difference between re-shuffling
the fact table per query and never shuffling it at all."""

import pyspark.sql.functions as F

from distributed_map_reduce_spark.plans.inspect import formatted_plan
from distributed_map_reduce_spark.sources import load_table

DB = "bucket_demo"


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB} LOCATION '{tmp_path}/wh'")
    # disable broadcast: at smoke scale both sides fit and a broadcast
    # join would (correctly) win — but the property under test is the
    # sort-merge path, which is what buckets exist for at 100 TB
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
           .saveAsTable(f"{DB}.li_b"))
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
           .saveAsTable(f"{DB}.orders_b"))

        lb, ob = spark.table(f"{DB}.li_b"), spark.table(f"{DB}.orders_b")
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_custkey"
        ).agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))

        plan = formatted_plan(joined)
        join_section = plan.split("HashAggregate")[0]
        # bucket co-location: the join inputs need no Exchange at all
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, join_section

        # and it computes the same result as the plain-parquet join
        want = sorted(
            tuple(r)
            for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_custkey")
            .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
            .collect()
        )
        got = sorted(tuple(r) for r in joined.collect())
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")


def test_minhash_store_probe_join_never_shuffles_stored_side(spark, sf_dir):
    """q90's append-only-crawl contract: the MinHash fingerprint store is
    written bucketed on the LSH bucket key, so a new-crawl probe join
    reads it with ZERO Exchange — only the (small) delta side shuffles.
    At 100 TB the store is the corpus; reshuffling it per crawl is the
    cost this layout exists to delete."""
    from distributed_map_reduce_spark.operators.dedup import (
        _crawl_split,
        _doc_shingles,
        _minhash_bands,
        _minhash_sigs,
        minhash_store_tables,
    )

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, delta = _crawl_split(spark, sf_dir)
        bands_tbl, _ = minhash_store_tables(spark, sf_dir)
        # checkpoint the delta bands so the probe plan is exactly
        # [checkpoint scan -> Exchange -> join <- bucketed store scan]:
        # any second Exchange would be a shuffle of the stored side.
        new_bands = _minhash_bands(
            _minhash_sigs(_doc_shingles(spark, sf_dir, distinct=False, docs=delta))
        ).localCheckpoint()
        probe = new_bands.withColumnsRenamed({"doc_id": "nd"}).join(
            spark.table(bands_tbl), ["band", "x", "y"]
        )
        plan = formatted_plan(probe)
        assert "SelectedBucketsCount" in plan, plan  # bucketed read used
        # count Exchange NODES in the tree section only (the per-node
        # details below it repeat the word): exactly one = delta side
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1, tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_bucketed_q6_twin_has_no_join_shuffle(spark, sf_dir, tmp_path):
    """The q6 (segment revenue) join on a bucketed layout: orders and
    customer bucketed on the join key sort-merge join with zero
    Exchange before the join — the repeated-join amortization story at
    100 TB (shuffle once at write time, never per query). The final
    groupBy(c_mktsegment) still exchanges; the pin is scoped to the
    join inputs."""
    db = "bucket_demo_q6"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/wh'")
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
            .saveAsTable(f"{db}.orders_b"))
        (cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
            .saveAsTable(f"{db}.cust_b"))

        ob, cb = spark.table(f"{db}.orders_b"), spark.table(f"{db}.cust_b")
        twin = (
            ob.join(cb, ob.o_custkey == cb.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )
        plan = formatted_plan(twin)
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, join_section

        # same answer as the declared q6 over plain parquet
        from distributed_map_reduce_spark.registry import all_queries

        want = sorted(
            tuple(r)
            for r in all_queries()["q6_segment_revenue"]
            .build(spark, sf_dir)
            .collect()
        )
        got = sorted(tuple(r) for r in twin.collect())
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_shingle_store_probe_join_never_shuffles_stored_side(spark, sf_dir):
    """q144's exact-detector analog of the MinHash-store pin: the
    shingle store is bucketed on the key `k`, so a new-crawl probe join
    reads it with ZERO Exchange — only the (small) delta side shuffles."""
    from distributed_map_reduce_spark.operators.dedup import (
        _crawl_split,
        _doc_shingle_keys,
        shingle_store_tables,
    )

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, delta = _crawl_split(spark, sf_dir)
        sh_tbl, _ = shingle_store_tables(spark, sf_dir)
        new_sh = _doc_shingle_keys(spark, sf_dir, docs=delta).localCheckpoint()
        probe = new_sh.withColumnsRenamed({"doc_id": "nd"}).join(
            spark.table(sh_tbl), "k"
        )
        plan = formatted_plan(probe)
        assert "SelectedBucketsCount" in plan, plan
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1, tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_crawl_store_rebuilds_add_no_tables_or_dirs(spark, sf_dir):
    """q90 and q144 write their stores under per-corpus names with
    overwrite, so after the first build of each, rebuilding adds no
    catalog table in any database and no warehouse directory."""
    import os

    from distributed_map_reduce_spark.operators.dedup import (
        q90_incremental_dedup,
        q144_incremental_exact_dedup,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def footprint():
        tables = sum(
            len(spark.catalog.listTables(db.name))
            for db in spark.catalog.listDatabases()
        )
        return tables, sum(len(dirs) for _, dirs, _ in os.walk(wh))

    for build in (q90_incremental_dedup, q144_incremental_exact_dedup):
        build(spark, sf_dir)
    first = footprint()
    for build in (q90_incremental_dedup, q144_incremental_exact_dedup):
        build(spark, sf_dir)
    assert footprint() == first
