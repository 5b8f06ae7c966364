"""OLAP surface: rollups, exact quantiles, window analytics.

Determinism contract as elsewhere: floats rounded before ordering/compare,
ties broken on unique keys, ROLLUP null-markers coalesced to 'ALL' strings
so both engines emit identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import SQL_DISC_PRICE, disc_price, money, sql_sum_exact, sum_exact
from ..sources.tables import load_table


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue ROLLUP over (nation, order-year): subtotals + grand total.

    Catalyst expands rollup into a single expand+aggregate — one shuffle
    regardless of grouping-set count.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").cast("string").alias("yr"),
            "o_totalprice",
        )
    )
    return (
        base.rollup("n_name", "yr")
        .agg(
            sum_exact(money("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("yr", F.lit("ALL")).alias("yr"),
            "revenue",
            "n_orders",
        )
    )


def events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("*").alias("n"),
    )


def events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier counts per event type (Tukey fences, discrete quantiles).

    Quantiles are *discrete* (the value at row ``ceil(q·n)`` in
    (value, event_id) order) rather than interpolated: the fence arithmetic
    then starts from data values both engines share bit-exactly, and the
    ``1.5·IQR`` fences are identical IEEE expressions — no
    interpolation-ulp flakiness near the comparison boundary. Per-type
    stats are 5 rows → broadcast back onto the fact for a single
    partial-agg counting pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    q = (
        r.filter(
            (F.col("rn") == F.ceil(F.lit(0.25) * F.col("n")))
            | (F.col("rn") == F.ceil(F.lit(0.75) * F.col("n")))
        )
        .groupBy("event_type")
        .agg(F.min("value").alias("q1"), F.max("value").alias("q3"))
    )
    iqr = F.col("q3") - F.col("q1")
    b = q.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5) * iqr).alias("lo"),
        (F.col("q3") + F.lit(1.5) * iqr).alias("hi"),
    )
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n_total"),
        )
    )


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counts per event type via median/MAD fences.

    The median-absolute-deviation detector — the robust cousin of z-scores
    (``events_zscore``) and Tukey fences (``events_outliers``): immune to
    the outliers it hunts because both center and spread are medians. Same
    discrete-quantile discipline as ``events_outliers``: the median is the
    value at row ``ceil(0.5·n)`` in (value, event_id) order (a shared data
    value, not an interpolation), deviations are exact IEEE subtractions
    from it, and the MAD is the discrete median of those — so the
    ``> 3·MAD`` comparison starts from bit-identical numbers on both
    engines. Two window passes + two broadcast joins; the fact shuffles
    once per pass on event_type and the stats frames are 5 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = (
        r.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")))
        .groupBy("event_type")
        .agg(F.min("value").alias("med"))
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    w2 = Window.partitionBy("event_type").orderBy("adev", "event_id")
    r2 = dev.select(
        "event_type",
        "adev",
        F.row_number().over(w2).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    mad = (
        r2.filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")))
        .groupBy("event_type")
        .agg(F.min("adev").alias("mad"))
    )
    stats = med.join(mad, "event_type")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3.0) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_anomalies"),
            F.count("*").alias("n_total"),
        )
    )


def events_value_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window breadth: percent_rank / cume_dist / first / nth.

    All five functions share ONE window ordering, so Catalyst evaluates
    them in a single Window operator over a single sort — the plan to
    insist on when a report wants many positional stats at once (each
    distinct ordering would be another full shuffle+sort of the fact).
    Tie-free total order via (value, event_id); doubles are data values or
    exact int ratios, identical in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("value").over(w).alias("min_value"),
        F.nth_value("value", 10).over(w).alias("tenth_value"),
    )


def events_trailing_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-24-hour event-time rolling sum (RANGE frame).

    The time-based sibling of the ROWS-frame moving average: the frame is
    `RANGE BETWEEN 24h PRECEDING AND CURRENT ROW` over integer-µs event
    time, so frame membership is exact integer arithmetic in both engines
    (no timestamp-interval coercion differences). Ties at the same ts_us
    share a frame by RANGE semantics — still deterministic because the sum
    is an exact decimal over the same member set. One shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-day_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(money("value")).over(w).cast("double").alias("sum_24h"),
        F.count(F.lit(1)).over(w).alias("n_24h"),
    )


def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-event moving average per user (fixed ROWS frame)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-3, 0)
    )
    # exact decimal frame-sum / exact frame-count: order-independent double.
    # Rounded at 6dp, not 2: sum/4 of 2-decimal values lands on exact .xx5
    # half-boundaries at 2dp, where the engines' rounding modes disagree;
    # at 6dp every reachable value is far from a boundary.
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(money("value")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("ma4"),
    )


def top_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue parts per supplier: two-level agg + window rank."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey", "l_partkey").agg(
        sum_exact(disc_price()).alias("revenue")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.desc("revenue"), F.asc("l_partkey"))
    return (
        per.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("l_suppkey", "l_partkey", "revenue", "rnk")
    )


ORACLES: dict[str, str] = {
    "sales_rollup": """
    WITH base AS (
      SELECT n_name, CAST(year(o_orderdate) AS VARCHAR) AS yr, o_totalprice
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT COALESCE(n_name, 'ALL') AS nation, COALESCE(yr, 'ALL') AS yr,
           {rev} AS revenue, count(*) AS n_orders
    FROM base GROUP BY ROLLUP(n_name, yr)
    """.replace("{rev}", sql_sum_exact("CAST(o_totalprice AS DECIMAL(12,2))")),
    "events_quantiles": """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    "events_trailing_24h": """
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_24h,
           count(*) OVER w AS n_24h
    FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """,
    "events_value_position": """
    SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(value) OVER w AS min_value,
           nth_value(value, 10) OVER w AS tenth_value
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    "events_outliers": """
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), q AS (
      SELECT event_type, min(value) AS q1, max(value) AS q3
      FROM r
      WHERE rn = CAST(ceil(0.25 * n) AS BIGINT)
         OR rn = CAST(ceil(0.75 * n) AS BIGINT)
      GROUP BY event_type
    ), b AS (
      SELECT event_type, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
      FROM q
    )
    SELECT e.event_type, b.q1, b.q3,
           CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n_total
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.q1, b.q3
    """,
    "events_anomaly_mad": """
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), med AS (
      SELECT event_type, min(value) AS med
      FROM r WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
      GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.event_id, abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), r2 AS (
      SELECT event_type, adev,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY adev, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ), mad AS (
      SELECT event_type, min(adev) AS mad
      FROM r2 WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
      GROUP BY event_type
    )
    SELECT e.event_type, m.med, d.mad,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           count(*) AS n_total
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON d.event_type = e.event_type
    GROUP BY e.event_type, m.med, d.mad
    """,
    "events_moving_avg": """
    SELECT event_id, user_id,
           round(CAST(sum(CAST(value AS DECIMAL(12,2)))
                      OVER w AS DOUBLE)
                 / count(*) OVER w, 6) AS ma4
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    "top_parts_per_supplier": """
    WITH per AS (
      SELECT l_suppkey, l_partkey,
             {rev} AS revenue
      FROM lineitem GROUP BY l_suppkey, l_partkey
    )
    SELECT l_suppkey, l_partkey, revenue,
           CAST(row_number() OVER (PARTITION BY l_suppkey
                ORDER BY revenue DESC, l_partkey ASC) AS INTEGER) AS rnk
    FROM per
    QUALIFY rnk <= 3
    """.replace("{rev}", sql_sum_exact(f"({SQL_DISC_PRICE})")),
}


def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue CUBE over (market segment, order-year): all 4 grouping sets.

    Same one-expand-one-shuffle plan as ROLLUP but with the cross-
    dimensional (segment-only and year-only) subtotals a rollup omits.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment",
        F.year("o_orderdate").cast("string").alias("yr"),
        "o_totalprice",
    )
    return (
        base.cube("c_mktsegment", "yr")
        .agg(
            sum_exact(money("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("yr", F.lit("ALL")).alias("yr"),
            "revenue",
            "n_orders",
        )
    )


ORACLES["sales_cube"] = """
WITH base AS (
  SELECT c_mktsegment, CAST(year(o_orderdate) AS VARCHAR) AS yr, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT COALESCE(c_mktsegment, 'ALL') AS segment, COALESCE(yr, 'ALL') AS yr,
       {rev} AS revenue, count(*) AS n_orders
FROM base GROUP BY CUBE(c_mktsegment, yr)
""".replace("{rev}", sql_sum_exact("CAST(o_totalprice AS DECIMAL(12,2))"))


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix: one column per event type (PIVOT).

    The value list is explicit, so the schema is static and Catalyst plans
    a single groupBy with conditional aggregates — no second pass to
    discover the pivot domain (which at 100 TB would be its own job).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["view", "click", "purchase"])
        .select(
            "user_id",
            F.col("view").alias("n_view"),
            F.col("click").alias("n_click"),
            F.col("purchase").alias("n_purchase"),
        )
    )


def events_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile assignment of event values within each type (ntile window)."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(10).over(w).alias("decile"),
    )


ORACLES["events_pivot"] = """
SELECT user_id,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'purchase') AS n_purchase
FROM events GROUP BY user_id
"""

ORACLES["events_ntile"] = """
SELECT event_id, event_type,
       CAST(ntile(10) OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS INTEGER) AS decile
FROM events
"""
