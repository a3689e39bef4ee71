"""Bucketed (co-located) joins — the shuffle-elimination tool for repeated
big-big joins at 100 TB (SURVEY.md §4 partitioned-consumption analog):
bucket both fact tables on the join key at write time; Spark then plans
SortMergeJoin with NO Exchange on either side."""

from __future__ import annotations

from nats_stream_processor_spark.registry import table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle(spark):
    import shutil

    orders = table(spark, SF, "orders")
    lineitem = table(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    # stale dirs survive catalog drops across sessions
    for t in ("orders_b", "lineitem_b"):
        shutil.rmtree(f"/tmp/spark_graft_warehouse/{t}", ignore_errors=True)
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("orders_b"))
    (lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("lineitem_b"))

    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    # disable broadcast so the (tiny test) tables exercise the bucketed
    # SortMergeJoin path that big-big joins take at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (ob.join(lb, ob.o_orderkey == lb.l_orderkey)
                  .select("o_orderkey", "o_orderpriority", "l_quantity"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located: SortMergeJoin directly over the bucketed scans, with
        # NO Exchange anywhere — neither side shuffles
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        expected = (orders.join(lineitem,
                                orders.o_orderkey == lineitem.l_orderkey)
                    .select("o_orderkey", "o_orderpriority", "l_quantity"))
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
