"""The spark.sql surface: registered views answer the same questions the
DataFrame plans do (Catalyst converges both to the same physical plan)."""

from __future__ import annotations

from map_reduce_in_go_spark.plans.tpch import q6_forecast_revenue
from map_reduce_in_go_spark.sources.tables import TABLES, load_table


def _register_views(spark, sf_dir):
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def test_register_views_and_sql(spark, sf_dir):
    _register_views(spark, sf_dir)
    for t in TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {t}").first()["n"] > 0


def test_sql_equals_dataframe_plan(spark, sf_dir):
    _register_views(spark, sf_dir)
    via_sql = spark.sql(
        """
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        """
    ).first()
    via_df = q6_forecast_revenue(spark, sf_dir).first()
    assert via_sql["revenue"] == via_df["revenue"]
    assert via_sql["n_items"] == via_df["n_items"]
