"""Event-stream analytics.

Determinism notes:
- orderings always break ties on ``event_id`` (unique);
- durations are integer microseconds (``unix_micros``) — no float time math;
- running sums are rounded after accumulation in a fixed frame order.

Scale: all four plans shuffle once on ``user_id`` (or the window key); at
100 TB the events table would be date-partitioned so window queries prune,
and the sessionize/funnel shuffles are the classic "fits because it's
per-user state" shape (max per-user event counts are bounded).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import money, sql_sum_exact, sum_exact
from ..sources.tables import load_table

_VAL = "CAST(value AS DECIMAL(12,2))"


def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregates per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            # formatted string, not timestamp: keeps the compared dtype
            # identical across Spark(us) and DuckDB(ns→us) readers
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            sum_exact(money("value")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via window functions, session stats."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    with_flag = ev.withColumn("us", F.col("ts_us")).withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    with_session = with_flag.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("us") - F.min("us")).alias("duration_us"),
            sum_exact(money("value")).alias("sum_value"),
        )
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel (strictly ordered per user).

    r15 (guide §2.4): ONE events scan. The former staged shape re-read
    the log under every stage's subtree (6 scans, 13 exchanges) and
    joined per-user anchors back into it; the three anchors are
    per-user scalars, so three chained whole-partition windows over ONE
    user-keyed exchange compute them in place (each window reuses the
    same hash partitioning — no extra shuffle), then a user-grain
    aggregate dedups and one global row counts non-null anchors.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    base = ev.withColumn(
        "vt", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    base = base.withColumn(
        "ct",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("vt")),
                F.col("ts"),
            )
        ).over(w),
    )
    base = base.withColumn(
        "pt",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("ct")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = base.groupBy("user_id").agg(
        F.min("vt").alias("vt"),
        F.min("ct").alias("ct"),
        F.min("pt").alias("pt"),
        # stage-1 membership is "has a view ROW" (the oracle's count(*)
        # over the per-user view group), not "has a non-null view ts" —
        # they differ only when every view of a user has NULL ts
        # (r15 advice, low)
        F.max(F.col("event_type") == "view").alias("saw_view"),
    )
    return per_user.agg(
        F.count(F.when(F.col("saw_view"), F.lit(1))).alias("n_view"),
        F.count("ct").alias("n_click"),
        F.count("pt").alias("n_purchase"),
    )


def events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value sum + sequence number (cumulative window)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.sum(money("value")).over(w), 2).cast("double").alias("running_value"),
        F.row_number().over(seq_w).alias("seq"),
    )


def events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score anomaly flags via exact decimal moments.

    mean and variance come from exact DECIMAL Σx and Σx² (order-independent),
    so every engine computes identical doubles; sqrt/division are IEEE
    correctly-rounded, making the z-scores deterministic too. Emits events
    with |z| ≥ 2.
    """
    ev = load_table(spark, sf_dir, "events")
    vd = money("value")
    stats = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(vd).cast("double").alias("s1"),
        F.sum(vd * vd).cast("double").alias("s2"),
    )
    joined = ev.join(F.broadcast(stats), "user_id").filter(F.col("n") >= 2)
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        joined.filter(var > 0)
        .withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) >= 2.0)
        .select("event_id", "user_id", F.round(mean, 6).alias("user_mean"), "z")
    )


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences.

    ``lead()`` pairs each event with the user's next one (ts, event_id
    total order — deterministic under ties), then one partial-aggregated
    count per (src, dst) and a window normalization per source state.
    Transition counts are integers and the probability is a single exact
    int/int division, so both engines produce identical doubles. One
    shuffle on user_id (the lead), one on src — both bounded by the state
    alphabet afterwards.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    trans = (
        nxt.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_trans"))
    )
    wsrc = Window.partitionBy("src")
    return trans.select(
        "src",
        "dst",
        "n_trans",
        F.round(F.col("n_trans") / F.sum("n_trans").over(wsrc), 6).alias("p"),
    )


def events_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: the latest event per (user_id, event_type).

    The upsert-materialization shape: one row_number window over the change
    stream keyed by the upsert key, keep rank 1. One shuffle on the key; at
    100 TB this is the standard log→snapshot compaction job (and the batch
    twin of a streaming ``dropDuplicates`` on the key with a lateness
    bound). Deterministic under ts ties via event_id.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts_us", "value")
    )


def _user_days(ev: DataFrame, event_type: str) -> DataFrame:
    return ev.filter(F.col("event_type") == event_type).select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )


def users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set-op: user-days with both click and purchase activity.

    (user, day) grain — user-level sets are saturated in this corpus.
    ``intersect`` plans as distinct + shuffle-keyed semi join on the pair.
    """
    ev = load_table(spark, sf_dir, "events")
    return _user_days(ev, "click").intersect(_user_days(ev, "purchase"))


def users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op: user-days that viewed but bought nothing that day.

    ``subtract`` is EXCEPT DISTINCT — both sides reduce to distinct keys
    before the anti-probe, so the shuffle carries unique (user, day) pairs.
    """
    ev = load_table(spark, sf_dir, "events")
    return _user_days(ev, "view").subtract(_user_days(ev, "purchase"))


def events_daily_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two daily series (views vs purchase revenue).

    Days where only one side has activity survive with zero-filled columns —
    the reconciliation-report shape. Both inputs are already aggregated to
    one row per day before the join, so the full-outer is dim-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(day.alias("day"))
        .agg(F.count("*").alias("n_views"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n_purchases"),
            sum_exact(money("value")).alias("purchase_value"),
        )
    )
    return v.join(p, "day", "full_outer").select(
        "day",
        F.coalesce("n_views", F.lit(0)).alias("n_views"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
    )


def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS slope of event value over time (exact-moment regression).

    Closed-form least squares from five decimal aggregates — n, Σx, Σy,
    Σxy, Σx² — which are order-independent exact sums, so both engines
    derive identical doubles before the one IEEE division; no float
    accumulation order anywhere. x is the integer hour index (µs would
    square past decimal(38) headroom at this magnitude), y the 2-decimal
    value; slope is value-per-hour, 6dp. The grouped-regression shape
    (one partial-agg pass, tiny state per key) is the 100 TB-safe way to
    fit millions of per-key models — no per-group pandas needed.
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.expr("ts_us div 3600000000").cast("decimal(20,0)")
    y = money("value")
    m = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        m.filter(F.col("n") >= 2)
        .filter(den != 0)
        .select(
            "user_id",
            "n",
            F.round(num / den, 6).alias("slope_per_hour"),
        )
    )


ORACLES: dict[str, str] = {
    "events_user_trend": """
    WITH m AS (
      SELECT user_id, count(*) AS n,
             sum(CAST(ts_us // 3600000000 AS DECIMAL(20,0))) AS sx,
             sum(CAST(value AS DECIMAL(12,2))) AS sy,
             sum(CAST(ts_us // 3600000000 AS DECIMAL(20,0))
                 * CAST(value AS DECIMAL(12,2))) AS sxy,
             sum(CAST(ts_us // 3600000000 AS DECIMAL(20,0))
                 * CAST(ts_us // 3600000000 AS DECIMAL(20,0))) AS sxx
      FROM (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events)
      GROUP BY user_id
    )
    SELECT user_id, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_hour
    FROM m
    WHERE n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) <> 0
    """,
    "events_latest_by_key": """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    "users_intersect": """
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'purchase'
    """,
    "users_except": """
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
    FROM events WHERE event_type = 'purchase'
    """,
    "events_daily_fullouter": f"""
    WITH v AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_views
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), p AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_purchases,
             {sql_sum_exact(_VAL)} AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT COALESCE(v.day, p.day) AS day,
           COALESCE(n_views, 0) AS n_views,
           COALESCE(n_purchases, 0) AS n_purchases,
           COALESCE(purchase_value, 0.0) AS purchase_value
    FROM v FULL OUTER JOIN p ON v.day = p.day
    """,
    "events_transitions": """
    WITH nxt AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), t AS (
      SELECT src, dst, count(*) AS n_trans
      FROM nxt WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n_trans,
           round(n_trans / sum(n_trans) OVER (PARTITION BY src), 6) AS p
    FROM t
    """,
    "events_zscore": """
    WITH stats AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s2
      FROM events GROUP BY user_id
    )
    SELECT event_id, e.user_id,
           round(s1 / n, 6) AS user_mean,
           round((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 4) AS z
    FROM events e JOIN stats USING (user_id)
    WHERE n >= 2 AND s2 / n - (s1 / n) * (s1 / n) > 0
      AND abs(round((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 4)) >= 2.0
    """,
    "events_windowed": """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
           count(*) AS n_events,
           {sum_value} AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """.replace("{sum_value}", sql_sum_exact(_VAL)),
    "events_sessionize": """
    WITH flagged AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           max(us) - min(us) AS duration_us,
           {sum_value} AS sum_value
    FROM sess GROUP BY user_id, session_id
    """.replace("{sum_value}", sql_sum_exact(_VAL)),
    "events_funnel": """
    WITH v AS (
      SELECT user_id, min(ts) AS vt FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS ct
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.vt
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.ct
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase
    """,
    "events_running": """
    SELECT event_id, user_id, event_type,
           CAST(round(sum({val}) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS INTEGER) AS seq
    FROM events
    """.replace("{val}", _VAL),
}


def _clicks_and_purchases(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Column]:
    """The as-of family's input: clicks and purchases as one tagged
    (user_id, ts_us, event_id, is_click) union, and the click's
    (ts_us, event_id) struct, null on purchase rows."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id", F.lit(1).alias("is_click")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id", F.lit(0).alias("is_click")
    )
    click_info = F.when(
        F.col("is_click") == 1, F.struct(F.col("ts_us"), F.col("event_id"))
    )
    return clicks.unionByName(purchases), click_info


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the latest strictly-prior click.

    Spark has no ASOF JOIN operator; the standard composition is a tagged
    union + one window pass: clicks and purchases interleave per user in
    (ts, kind, id) order and ``last(click_info, ignorenulls)`` over the
    strictly-preceding frame carries the most recent click forward. One
    shuffle on user_id, no range self-join blowup — at 100 TB this is the
    shape that survives (the naive inequality join is quadratic per user).

    Tie discipline: purchases sort *before* clicks at equal ts, so
    "strictly prior" is exact; among equal-ts clicks the largest event_id
    wins (frame order), matching the oracle's max()-at-max-ts.
    """
    un, click_info = _clicks_and_purchases(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        un.withColumn("prev_click", F.last(click_info, ignorenulls=True).over(w))
        .filter(F.col("is_click") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            F.col("prev_click.ts_us").alias("click_ts_us"),
            F.col("prev_click.event_id").alias("click_id"),
        )
    )


ATTR_LOOKBACK_US = 24 * 3600 * 1_000_000  # 24 h first-touch window


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credited to the *earliest*
    click in its 24-hour lookback window.

    The marketing twin of :func:`events_asof_join` (which takes the latest
    prior click): a value-based RANGE frame ``[ts-24h, ts-1]`` over the
    tagged click/purchase union, aggregated with ``min(struct(ts,
    event_id))`` — struct ordering makes the equal-timestamp tiebreak
    deterministic without relying on frame row order, which RANGE frames
    don't define. One shuffle on user_id, state bounded by the window.
    """
    un, click_info = _clicks_and_purchases(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-ATTR_LOOKBACK_US, -1)
    )
    return (
        un.withColumn("fc", F.min(click_info).over(w))
        .filter(F.col("is_click") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            F.col("fc.ts_us").alias("first_click_ts_us"),
            F.col("fc.event_id").alias("first_click_id"),
        )
    )


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: events bucketed against value intervals.

    The bands side is a 5-row literal table: broadcast + inequality join
    (BroadcastNestedLoopJoin is exactly right for a tiny interval dim —
    each event probes 5 intervals, no shuffle of the fact)."""
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [
            ("b0_small", 0.0, 25.0),
            ("b1_mid", 25.0, 50.0),
            ("b2_large", 50.0, 100.0),
            ("b3_xl", 100.0, 250.0),
            ("b4_huge", 250.0, 1000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            sum_exact(money("value")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def events_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`events_range_join` via interval bucketing — the fact⋈fact shape.

    The BNLJ in ``events_range_join`` is right for a 5-row dim but quadratic
    if the interval side grows. The scale-safe rewrite buckets ``value`` into
    fixed-width cells and explodes each interval into the cells it overlaps,
    turning the inequality join into an *equality* join on ``bucket`` plus a
    residual range filter — hash-joinable, shuffle-partitionable, and skew-
    handled by AQE like any other equi-join. Same oracle as the BNLJ twin, so
    the driver proves the rewrite is lossless.

    Bucket width trades explode fan-out (wide intervals → more cells) against
    join selectivity; 25.0 matches the band grid here. At 100 TB both sides
    shuffle on ``bucket`` and no executor ever sees a cross product.

    Cell math is exact integer arithmetic on micro-units (no float epsilon):
    a half-open interval [lo, hi) overlaps cells ``floor(lo_us/w_us)`` through
    ``floor((hi_us-1)/w_us)`` — subtracting one micro-unit before the floor
    lands an exact-multiple upper bound in the previous cell and leaves any
    interior bound's cell unchanged, for every value domain.
    """
    ev = load_table(spark, sf_dir, "events")
    width = 25.0
    width_us = 25_000_000  # the same width in exact micro-units
    bands = spark.createDataFrame(
        [
            ("b0_small", 0.0, 25.0),
            ("b1_mid", 25.0, 50.0),
            ("b2_large", 50.0, 100.0),
            ("b3_xl", 100.0, 250.0),
            ("b4_huge", 250.0, 1000.0),
        ],
        "band string, lo double, hi double",
    )
    lo_us = F.round(F.col("lo") * 1e6).cast("long")
    hi_us = F.round(F.col("hi") * 1e6).cast("long")
    cells = bands.select(
        "band",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(lo_us / F.lit(width_us)).cast("long"),
                F.floor((hi_us - F.lit(1)) / F.lit(width_us)).cast("long"),
            )
        ).alias("bucket"),
    )
    fact = ev.withColumn("bucket", F.floor(F.col("value") / width).cast("long"))
    return (
        fact.join(F.broadcast(cells), "bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            sum_exact(money("value")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLES.update(
    {
        "events_attribution": f"""
        WITH c AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
          WHERE event_type = 'click'
        ), p AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
          WHERE event_type = 'purchase'
        ), g1 AS (
          SELECT p.event_id AS purchase_id, p.user_id,
                 p.ts_us AS purchase_ts_us, min(c.ts_us) AS first_click_ts_us
          FROM p LEFT JOIN c
            ON c.user_id = p.user_id AND c.ts_us < p.ts_us
           AND c.ts_us >= p.ts_us - {ATTR_LOOKBACK_US}
          GROUP BY 1, 2, 3
        )
        SELECT g1.purchase_id, g1.user_id, g1.purchase_ts_us,
               g1.first_click_ts_us, min(c.event_id) AS first_click_id
        FROM g1 LEFT JOIN c
          ON c.user_id = g1.user_id AND c.ts_us = g1.first_click_ts_us
        GROUP BY 1, 2, 3, 4
        """,
        "events_asof_join": """
        WITH c AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
          WHERE event_type = 'click'
        ), p AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
          WHERE event_type = 'purchase'
        ), g1 AS (
          SELECT p.event_id AS purchase_id, p.user_id,
                 p.ts_us AS purchase_ts_us, max(c.ts_us) AS click_ts_us
          FROM p LEFT JOIN c
            ON c.user_id = p.user_id AND c.ts_us < p.ts_us
          GROUP BY 1, 2, 3
        )
        SELECT g1.purchase_id, g1.user_id, g1.purchase_ts_us, g1.click_ts_us,
               max(c.event_id) AS click_id
        FROM g1 LEFT JOIN c
          ON c.user_id = g1.user_id AND c.ts_us = g1.click_ts_us
        GROUP BY 1, 2, 3, 4
        """,
        "events_range_join": """
        SELECT band, count(*) AS n_events,
               {sum_value} AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        JOIN (VALUES ('b0_small', 0.0, 25.0),
                     ('b1_mid', 25.0, 50.0),
                     ('b2_large', 50.0, 100.0),
                     ('b3_xl', 100.0, 250.0),
                     ('b4_huge', 250.0, 1000.0)) AS bands(band, lo, hi)
          ON value >= lo AND value < hi
        GROUP BY band
        """.replace("{sum_value}", sql_sum_exact(_VAL)),
    }
)
# lossless rewrite of the same query — bucket join must agree bit-for-bit
ORACLES["events_range_join_bucketed"] = ORACLES["events_range_join"]


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: hourly per-type counts INCLUDING empty hours.

    The dense hour spine is generated per type with ``sequence()`` between
    that type's min and max hour (no driver loop, no cross join against a
    global calendar), then left-joined against the sparse aggregates. The
    spine side is tiny (types × hours) — at 100 TB the heavy side is the
    pre-aggregated counts, already one shuffle.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hr", F.date_trunc("hour", F.col("ts"))
    )
    agg = ev.groupBy("event_type", "hr").agg(
        F.count("*").alias("n_events"),
        sum_exact(money("value")).alias("sum_value"),
    )
    bounds = agg.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hr"),
    )
    return (
        spine.join(agg, ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


ORACLES["events_gap_fill"] = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         count(*) AS n_events, {sum_value} AS sum_value
  FROM events GROUP BY 1, 2
), b AS (
  SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM agg GROUP BY 1
), spine AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
  FROM b
)
SELECT s.event_type, strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(a.n_events, 0) AS n_events,
       COALESCE(a.sum_value, 0.0) AS sum_value
FROM spine s LEFT JOIN agg a ON a.event_type = s.event_type AND a.hr = s.hr
""".replace("{sum_value}", sql_sum_exact(_VAL))


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads: parse the JSON props column, aggregate a
    typed field per event type.

    Extraction happens in the scan projection (get_json_object is
    codegen'd); at 100 TB the right storage answer is parsing once into a
    typed/VARIANT column at ingest, but the query-side shape is the same.
    Sums are exact integer arithmetic; the average divides exact sum by
    exact count at 6dp.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k").cast("double") / F.count(F.lit(1)), 6).alias("avg_k"),
        )
    )


ORACLES["events_json_extract"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
       round(CAST(sum(CAST(props->>'k' AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_k
FROM events GROUP BY event_type
"""


def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction = NEAREST: each purchase gets its closest
    click in time, either side (pandas ``merge_asof(direction='nearest')``
    parity — completing the as-of family beside the backward-only
    :func:`events_asof_join`).

    Same single-sort composition: one tagged union, ONE window ordering
    (ts, kind, id) with TWO frames over it — ``last`` over the strictly
    -preceding rows (latest prior click, max id at max ts) and ``first``
    over the strictly-following rows (earliest later-or-equal click, min
    id at min ts). Spark emits one Window operator per frame but both
    share the SAME partition sort: the plan has exactly one Exchange and
    one Sort (pinned in tests/test_plans.py). Nearest = smaller absolute
    gap; exact ties prefer the PRIOR click (the pandas rule). Still one
    shuffle on user_id, no inequality self-join.
    """
    un, click_info = _clicks_and_purchases(spark, sf_dir)
    order = [F.col("ts_us"), F.col("is_click"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tagged = (
        un.withColumn("prev_c", F.last(click_info, ignorenulls=True).over(w_prev))
        .withColumn("next_c", F.first(click_info, ignorenulls=True).over(w_next))
        .filter(F.col("is_click") == 0)
    )
    d_prev = F.col("ts_us") - F.col("prev_c.ts_us")
    d_next = F.col("next_c.ts_us") - F.col("ts_us")
    use_next = F.col("prev_c").isNull() | (
        F.col("next_c").isNotNull() & (d_next < d_prev)
    )
    chosen = F.when(use_next, F.col("next_c")).otherwise(F.col("prev_c"))
    return tagged.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        chosen["ts_us"].alias("click_ts_us"),
        chosen["event_id"].alias("click_id"),
        F.when(chosen.isNull(), F.lit(None).cast("string"))
        .when(use_next, F.lit("next"))
        .otherwise(F.lit("prior"))
        .alias("direction"),
    )


ORACLES["events_asof_nearest"] = """
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
      WHERE event_type = 'purchase'
    ), prev_ts AS (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts_us,
             max(c.ts_us) AS pts
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts_us < p.ts_us
      GROUP BY 1, 2, 3
    ), prev_pick AS (
      SELECT g.purchase_id, g.user_id, g.ts_us, g.pts,
             max(c.event_id) AS pid
      FROM prev_ts g LEFT JOIN c
        ON c.user_id = g.user_id AND c.ts_us = g.pts
      GROUP BY 1, 2, 3, 4
    ), next_ts AS (
      SELECT p.event_id AS purchase_id, min(c.ts_us) AS nts
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
      GROUP BY 1
    ), next_pick AS (
      SELECT g.purchase_id, g.nts, min(c.event_id) AS nid
      FROM next_ts g
      LEFT JOIN p ON p.event_id = g.purchase_id
      LEFT JOIN c ON c.user_id = p.user_id AND c.ts_us = g.nts
      GROUP BY 1, 2
    )
    SELECT pp.purchase_id, pp.user_id, pp.ts_us AS purchase_ts_us,
           CASE WHEN use_next THEN np.nts ELSE pp.pts END AS click_ts_us,
           CASE WHEN use_next THEN np.nid ELSE pp.pid END AS click_id,
           CASE WHEN pp.pts IS NULL AND np.nts IS NULL THEN NULL
                WHEN use_next THEN 'next' ELSE 'prior' END AS direction
    FROM (
      SELECT pp.*, np.nts, np.nid,
             (pp.pts IS NULL OR (np.nts IS NOT NULL
              AND (np.nts - pp.ts_us) < (pp.ts_us - pp.pts))) AS use_next
      FROM prev_pick pp LEFT JOIN next_pick np USING (purchase_id)
    ) pp
    LEFT JOIN next_pick np USING (purchase_id)
    """


FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # per-step conversion window


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with per-step conversion windows — the product-analytics
    form the unconstrained :func:`events_funnel` doesn't express: a click
    only converts if it lands within 24 h of the user's FIRST view, and a
    purchase within 24 h of that converting click.

    Plan (r15, guide §2.4): ONE events scan, the events_funnel recipe —
    the per-user anchors t_view / t_click / t_purchase are per-user
    scalars, so three chained whole-partition windows over one
    user-keyed exchange compute them in place (the former staged shape
    re-read the log under every stage and shuffled anchor joins back
    into it: 6 scans, 11 exchanges), then a user-grain aggregate dedups
    and one global row counts non-null anchors. A null t_view nulls
    t_click's BETWEEN (and so on down the chain), reproducing the
    staged joins' conversion gating exactly. No inequality self-join,
    no ordered windows over the whole log.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us"
    )
    w = FUNNEL_WINDOW_US
    uw = Window.partitionBy("user_id")
    base = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(uw),
    )
    base = base.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("ts_us").between(
                    F.col("t_view"), F.col("t_view") + w
                ),
                F.col("ts_us"),
            )
        ).over(uw),
    )
    base = base.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("ts_us").between(
                    F.col("t_click"), F.col("t_click") + w
                ),
                F.col("ts_us"),
            )
        ).over(uw),
    )
    per_user = base.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
        # same stage-1 row-membership semantics as events_funnel (r15
        # advice): count view USERS, not users with non-null view ts
        F.max(F.col("event_type") == "view").alias("saw_view"),
    )
    return per_user.agg(
        F.count(F.when(F.col("saw_view"), F.lit(1))).alias("n_view_users"),
        F.count("t_click").alias("n_click_conv"),
        F.count("t_purchase").alias("n_purchase_conv"),
    )


ORACLES["events_funnel_windowed"] = f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ), v AS (
      SELECT user_id, min(ts_us) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT ev.user_id, min(ts_us) AS t_click
      FROM ev JOIN v USING (user_id)
      WHERE event_type = 'click'
        AND ts_us BETWEEN t_view AND t_view + {FUNNEL_WINDOW_US}
      GROUP BY ev.user_id
    ), p AS (
      SELECT ev.user_id, min(ts_us) AS t_purchase
      FROM ev JOIN c USING (user_id)
      WHERE event_type = 'purchase'
        AND ts_us BETWEEN t_click AND t_click + {FUNNEL_WINDOW_US}
      GROUP BY ev.user_id
    )
    SELECT count(*) AS n_view_users,
           CAST(count(c.user_id) AS BIGINT) AS n_click_conv,
           CAST(count(p.user_id) AS BIGINT) AS n_purchase_conv
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """
