"""Bucketed-table co-located join: the 100 TB fact⋈fact strategy.

Writing both fact tables bucketed by the join key lets Spark join them
with ZERO exchanges — the physical plan proof that the orderkey join
would not reshuffle 100 TB per query.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped on teardown
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_b")
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("ord_b")
    yield
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, bucketed):
    # disable broadcast so the join strategy itself is under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("li_b")
            .join(spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(j)
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucket co-location: no shuffle exchange feeding the join
        assert "Exchange hashpartitioning" not in join_section
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_matches_unbucketed(spark, sf_dir, bucketed):
    a = (
        spark.table("li_b")
        .join(spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    b = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert a == b


def test_runtime_bloom_filter_semijoin_reduction(spark, sf_dir):
    """Catalyst injects a runtime bloom filter on the fact side of a
    selective dim⋈fact join — the semi-join reduction that keeps a 100 TB
    probe side from shuffling rows the build side will discard anyway.

    The application-side scan threshold (default 10 GB — sized for real
    clusters) is lowered to let test-scale parquet qualify, and broadcast
    is disabled because the broadcast path uses DPP instead; the assert is
    that the optimizer plants bloom_filter_agg/might_contain and that the
    filtered plan returns bit-identical results to the unfiltered one.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 200000)
    )

    def q():
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
            )
        )

    base = q().collect()
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = q()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan[:2000]
        assert df.collect() == base
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
