"""Bucketed-table joins (K7 DDL surface + the 100 TB co-location claim):
writing both fact tables bucketed by the join key makes the join
shuffle-free — the plan must contain no Exchange on the bucketed sides."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.sources.batch import read_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    read_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_bucketed")
    read_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("ord_bucketed")
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_join_is_shuffle_free(spark, sf_dir, bucketed_tables):
    li = spark.table("li_bucketed")
    orders = spark.table("ord_bucketed")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the join itself must not shuffle either side; the only exchange allowed
    # is the final tiny aggregation
    join_section = plan.split("HashAggregate")[-1]
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # correctness vs unbucketed join
    li0 = read_table(spark, sf_dir, "lineitem")
    o0 = read_table(spark, sf_dir, "orders")
    expected = (
        li0.join(o0, li0.l_orderkey == o0.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, expected.collect())
    )

