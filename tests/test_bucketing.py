"""Bucketed-join test: same-key same-count bucketed tables must join with
no shuffle exchange on either side."""

from __future__ import annotations

import re

from odp_dynamic_data_pipeline_spark.sources.catalog import load_table
from odp_dynamic_data_pipeline_spark.sources.writers import write_bucketed_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_no_shuffle(spark, tmp_path):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_orderstatus")
    write_bucketed_table(li, str(tmp_path / "li_b"), "li_b", "l_orderkey", num_buckets=4)
    write_bucketed_table(o, str(tmp_path / "o_b"), "o_b", "o_orderkey", num_buckets=4)
    try:
        # AQE can hide bucket scans behind adaptive plans; read final plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("li_b").join(
            spark.table("o_b"), spark.table("li_b")["l_orderkey"] == spark.table("o_b")["o_orderkey"]
        )
        j.write.format("noop").mode("overwrite").save()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert not re.search(r"Exchange hashpartitioning", plan), "bucketed join shuffled"
        assert j.count() == 6000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_bucketed_orphan_cleanup_db_qualified(spark, tmp_path):
    """A crashed run leaves its data directory behind with no catalog
    entry; the next DB-QUALIFIED overwrite onto that directory must still
    succeed and hold only the new rows (the table is external, so its
    location is the caller's path, never a warehouse path to clean up)."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey").limit(10)
    spark.sql("CREATE DATABASE IF NOT EXISTS odp_tdb")
    loc = tmp_path / "orph_b"
    loc.mkdir()
    (loc / "junk").write_text("x")
    try:
        write_bucketed_table(li, str(loc), "odp_tdb.orph_b", "l_orderkey", num_buckets=2)
        assert spark.table("odp_tdb.orph_b").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS odp_tdb.orph_b")
        spark.sql("DROP DATABASE IF EXISTS odp_tdb")


def test_bucketed_join_revenue_writes_nothing_to_warehouse(spark):
    """The bucketed-join query writes its tables under a scratch directory,
    so running it leaves no table directory under the session warehouse."""
    import os
    from urllib.parse import urlparse

    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    root = wh.path or wh.netloc
    before = set(os.listdir(root))
    assert SPARK_QUERIES["bucketed_join_revenue"](spark, SF).count() == 5
    after = set(os.listdir(root))
    assert not {"odp_li_bkt", "odp_ord_bkt"} & after
    assert after <= before
